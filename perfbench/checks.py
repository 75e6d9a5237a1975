"""Output checks of the benchmark, computed apart from the program.

The crawl checks recompute the expected schedule from the seed with the
reference's rules (a port of the page generator's java.util.Random draws)
and recompute each round's order in DuckDB from the `rank_input` lineage.
The near-dup checks recompute every operator's exact pairs in DuckDB from
the stored corpus bytes; the hashes DuckDB lacks (Spark's xxhash64, for
simhash and winnowing) come from the XXH64 port below.

Every check returns a list of error strings; an empty list is a pass.
"""
import math

import duckdb
import numpy as np

# ---------------------------------------------------------------- java.util.Random

MASK48 = (1 << 48) - 1


class JavaRandom:
    """java.util.Random, bit for bit."""

    def __init__(self, seed):
        self.s = (seed ^ 0x5DEECE66D) & MASK48

    def _next(self, bits):
        self.s = (self.s * 0x5DEECE66D + 0xB) & MASK48
        r = self.s >> (48 - bits)
        return r - (1 << 32) if bits == 32 and r >= 1 << 31 else r

    def next_double(self):
        return ((self._next(26) << 27) + self._next(27)) * (1.0 / (1 << 53))

    def next_int(self, bound):
        if bound & -bound == bound:
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):
                return val


# ---------------------------------------------------------------- page generator rules

P104, P1111, CAKE, YES123, YOURATOR = (
    "platform_104", "platform_1111", "platform_cakeresume", "platform_yes123",
    "platform_yourator")
PLATFORMS = [P104, P1111, CAKE, YES123, YOURATOR]
HOST = {P104: "www.104.com.tw", P1111: "www.1111.com.tw", CAKE: "www.cake.me",
        YES123: "www.yes123.com.tw", YOURATOR: "www.yourator.co"}
# the host policy of the reference (config.py rates; robots deny prefixes)
BASE_RATE = {"www.104.com.tw": 5.0, "www.1111.com.tw": 5.0, "www.cake.me": 5.0,
             "www.yes123.com.tw": 3.0, "www.yourator.co": 5.0}
ROBOTS_DENY = {"www.104.com.tw": ["/admin", "/api/private"], "www.1111.com.tw": ["/admin"],
               "www.cake.me": [], "www.yes123.com.tw": ["/wk_index/admin"],
               "www.yourator.co": []}
DISCOVER_MOD = 97
LIST_PAGES = 2
LISTED_PER_PAGE = 20
CATEGORIES = 7


def base36(n):
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def platform_of(x):
    if x < 0.55:
        return P104
    if x < 0.68:
        return P1111
    if x < 0.80:
        return CAKE
    if x < 0.90:
        return YES123
    return YOURATOR


def job_url(platform, i, company):
    if platform == P104:
        return f"https://www.104.com.tw/job/{base36(i)}x"
    if platform == P1111:
        return f"https://www.1111.com.tw/job/{70000000 + i}"
    if platform == CAKE:
        return f"https://www.cake.me/companies/co{company}/jobs/job-{i}"
    if platform == YES123:
        return f"https://www.yes123.com.tw/wk_index/job.asp?p_id={company}&job_id={90000000 + i}"
    return f"https://www.yourator.co/companies/co{company}/jobs/{i}"


def source_id(platform, i, company):
    """The job's source id under each platform's URL grammar."""
    return {P104: f"{base36(i)}x", P1111: str(70000000 + i), CAKE: f"job-{i}",
            YES123: f"{company}_{90000000 + i}", YOURATOR: str(i)}[platform]


def list_url(platform, cat, page):
    return {P104: f"https://www.104.com.tw/jobs/search/list/cat{cat}/{page}",
            P1111: f"https://www.1111.com.tw/search/jobs/cat{cat}/{page}",
            CAKE: f"https://www.cake.me/jobs/cat{cat}/page-{page}",
            YES123: f"https://www.yes123.com.tw/wk_index/joblist.asp?job_check=cat{cat}&now_page={page}",
            YOURATOR: f"https://www.yourator.co/api/v4/jobs/cat{cat}/{page}"}[platform]


def page_rng(seed, i):
    return JavaRandom(seed * 1000003 + i * 2654435761)


def canon(url):
    return url if "yes123.com.tw" in url else url.split("?", 1)[0]


def host_path(url):
    rest = url.split("://", 1)[1]
    host, _, path = rest.partition("/")
    return host, "/" + path.split("?", 1)[0]


def expected_crawl(seed, n):
    """What the crawl must schedule and extract, from the seed alone.

    Returns (scheduled canonical URLs, URLs of scheduled job pages present
    in the corpus, {job url: planted fields} for a sample of job pages).
    """
    scheduled, job_pages, sample = set(), set(), {}
    listed = {}
    for i in range(n):
        r = page_rng(seed, i)
        if r.next_double() < 0.06:  # a noise page: not a job, never seeded
            continue
        platform = platform_of(r.next_double())
        company = abs(r.next_int(200))
        url = job_url(platform, i, company)
        if i % DISCOVER_MOD == 1:  # reachable only through a listing page
            group = listed.setdefault((platform, i % CATEGORIES), [])
            if len(group) < LIST_PAGES * LISTED_PER_PAGE:
                group.append(url)
                scheduled.add(url)
                job_pages.add(url)
        else:
            scheduled.add(canon(url))
            job_pages.add(canon(url))
            if i % 173 == 0:  # robots trap seed
                trap = f"https://{HOST[platform]}/admin/secret/{i}"
                host, path = host_path(trap)
                if not any(path.startswith(p) for p in ROBOTS_DENY[host]):
                    scheduled.add(trap)
            if i % 211 == 0:  # dead seed, absent from the corpus
                scheduled.add(canon(job_url(platform, i + 1000000000, company)))
        if i % 37 == 5:
            sample[url] = planted_fields(seed, i)
    for p in PLATFORMS:
        for c in range(CATEGORIES):
            for pg in range(1, LIST_PAGES + 1):
                scheduled.add(list_url(p, c, pg))
    sample = {u: f for u, f in sample.items() if u in job_pages}
    return scheduled, job_pages, sample


def planted_fields(seed, i):
    """Title, source id and (when planted as a MonetaryAmount) salary bounds
    of page i, replaying the generator's draws."""
    r = page_rng(seed, i)
    r.next_double()
    platform = platform_of(r.next_double())
    company = abs(r.next_int(200))
    r.next_double()  # layout variant
    n_skills = 2 + r.next_int(4)
    for _ in range(n_skills):
        r.next_int(14)
    smin = 30000 + r.next_int(60) * 1000
    smax = smin + 10000 + r.next_int(40) * 1000
    monetary = r.next_double() < 0.6
    return {"title": f"資深工程師 {base36(i)}", "source_id": source_id(platform, i, company),
            "salary_min": smin if monetary else None, "salary_max": smax if monetary else None}


# ---------------------------------------------------------------- crawl checks

def check_schedule(scheduled_urls, expected):
    """Every expected URL scheduled, nothing else, and each exactly once."""
    errors = []
    seen = {}
    for u in scheduled_urls:
        seen[u] = seen.get(u, 0) + 1
    twice = sorted(u for u, k in seen.items() if k > 1)
    missing = sorted(expected - seen.keys())
    extra = sorted(seen.keys() - expected)
    if twice:
        errors.append(f"{len(twice)} URLs scheduled more than once, e.g. {twice[:3]}")
    if missing:
        errors.append(f"{len(missing)} expected URLs never scheduled, e.g. {missing[:3]}")
    if extra:
        errors.append(f"{len(extra)} URLs scheduled that the seed does not yield, e.g. {extra[:3]}")
    return errors


def budget_cap(host, round_seconds):
    """The adaptive-rate law's ceiling: 1.5 × the base rate, over a round."""
    return max(1, math.floor(1.5 * BASE_RATE.get(host, 2.0) * round_seconds))


def check_budgets(ordering_rows, round_seconds):
    """Each host's count in each round within its budget cap."""
    counts = {}
    for rnd, host, _url in ordering_rows:
        counts[(rnd, host)] = counts.get((rnd, host), 0) + 1
    return [f"round {r} host {h}: {k} scheduled, cap {budget_cap(h, round_seconds)}"
            for (r, h), k in sorted(counts.items()) if k > budget_cap(h, round_seconds)]


RANK_SQL = """
SELECT round, host, sched_rank, canon_url FROM (
  SELECT round, host, canon_url, budget,
         row_number() OVER (PARTITION BY round, host
                            ORDER BY priority DESC, canon_url) AS sched_rank
  FROM rank_input)
WHERE sched_rank <= budget
"""


def check_ranks(con):
    """Each round's order equals row_number() recomputed over `rank_input`
    (tables `rank_input` and `ordering` registered on `con`)."""
    expected = set(con.execute(RANK_SQL).fetchall())
    got = set(con.execute("SELECT round, host, sched_rank, canon_url FROM ordering").fetchall())
    errors = []
    if got - expected:
        errors.append(f"{len(got - expected)} ordering rows not in the recomputed order, "
                      f"e.g. {sorted(got - expected)[:2]}")
    if expected - got:
        errors.append(f"{len(expected - got)} recomputed rows missing from ordering, "
                      f"e.g. {sorted(expected - got)[:2]}")
    return errors


def check_fields(rows, sample):
    """Extracted title, source id and salary bounds equal the planted ones."""
    by_url = {r[0]: r[1:] for r in rows}
    errors = []
    for url, want in sorted(sample.items()):
        got = by_url.get(url)
        if got is None:
            errors.append(f"{url}: no extracted row")
            continue
        title, sid, smin, smax = got
        if title != want["title"] or sid != want["source_id"]:
            errors.append(f"{url}: title/source id {title!r}/{sid!r}, planted "
                          f"{want['title']!r}/{want['source_id']!r}")
        if want["salary_min"] is not None and (smin, smax) != (want["salary_min"], want["salary_max"]):
            errors.append(f"{url}: salary {smin}-{smax}, planted "
                          f"{want['salary_min']}-{want['salary_max']}")
    return errors


def crawl_checks(out, seed):
    """All crawl checks over one finished crawl. `out` is the run's outputs
    map (state directory, warehouse, pages, round seconds, extracted)."""
    state, n = out["state"], int(out["pages"])
    round_seconds = float(out["round_seconds"])
    con = duckdb.connect()
    con.execute("SET threads TO 4")

    def table(name):
        return f"read_parquet('{state}/{name}/round=*/*.parquet', hive_partitioning = 1)"

    con.execute(f"CREATE VIEW ordering AS SELECT * FROM {table('ordering')}")
    con.execute(f"CREATE VIEW rank_input AS SELECT * FROM {table('rank_input')}")
    con.execute(f"CREATE VIEW out_jobs AS SELECT * FROM {table('out_jobs')}")
    expected, job_pages, sample = expected_crawl(seed, n)
    rows = con.execute("SELECT round, host, canon_url FROM ordering").fetchall()
    scheduled = [u for _, _, u in rows]
    results = {
        "schedule": check_schedule(scheduled, expected),
        "budgets": check_budgets(rows, round_seconds),
        "ranks": check_ranks(con),
    }
    present = len(job_pages & set(scheduled))
    extracted = int(out["extracted"])
    results["extracted_count"] = ([] if extracted == present else
                                  [f"extracted {extracted}, scheduled job pages in corpus {present}"])
    fields = con.execute("SELECT url, title, source_id, salary_min, salary_max FROM out_jobs "
                         "WHERE url IN (SELECT unnest(?))", [sorted(sample)]).fetchall()
    results["fields"] = check_fields(fields, sample)
    if "warehouse" in out:  # published in traced runs
        distinct = con.execute("SELECT count(*) FROM (SELECT DISTINCT platform, source_id "
                               "FROM out_jobs)").fetchone()[0]
        published = con.execute(f"SELECT count(*) FROM read_parquet("
                                f"'{out['warehouse']}/tb_jobs/**/*.parquet')").fetchone()[0]
        results["published_jobs"] = ([] if published == distinct else
                                     [f"tb_jobs holds {published} rows, distinct extracted "
                                      f"(platform, source_id) {distinct}"])
    return results


# ---------------------------------------------------------------- xxhash64 (Spark's, seed 42)

P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
M64 = (1 << 64) - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc, lane):
    return (_rotl((acc + lane * P2) & M64, 31) * P1) & M64


def _merge(h, v):
    return ((h ^ _round(0, v)) * P1 + P4) & M64


def xxhash64(data, seed=42):
    """XXH64 of a bytes object as a signed 64-bit int (Spark's xxhash64)."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2, v3, v4 = (seed + P1 + P2) & M64, (seed + P2) & M64, seed & M64, (seed - P1) & M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def xxhash64_8(lanes, seed=42):
    """XXH64 of many 8-byte inputs at once (numpy uint64 lanes, read little
    endian), as signed int64."""
    with np.errstate(over="ignore"):
        u = np.uint64
        rotl = lambda x, r: (x << u(r)) | (x >> u(64 - r))
        k = rotl(lanes * u(P2), 31) * u(P1)
        h = u((seed + P5 + 8) & M64) ^ k
        h = rotl(h, 27) * u(P1) + u(P4)
        h ^= h >> u(33)
        h *= u(P2)
        h ^= h >> u(29)
        h *= u(P3)
        h ^= h >> u(32)
    return h.view(np.int64)


# ---------------------------------------------------------------- near-dup checks

def simhash(tokens, token_hash):
    """64-bit SimHash: per-bit majority over the distinct tokens' hashes."""
    hs = np.array([token_hash[t] for t in tokens], dtype=np.int64).view(np.uint64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    votes = 2 * bits.sum(axis=0) - len(tokens)
    out = 0
    for j in np.nonzero(votes > 0)[0]:
        out |= 1 << int(j)
    return out


def winnow_table(docs, k, w):
    """(doc ids, fingerprints): the distinct winnowed k-gram hashes of every
    (doc_id, ASCII text), computed over all documents at once."""
    sw = np.lib.stride_tricks.sliding_window_view
    enc = [t.encode("ascii") for _, t in docs]
    lens = np.array([len(b) for b in enc], dtype=np.int64)
    doc_of = np.repeat(np.array([d for d, _ in docs], dtype=np.int64), lens)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    if len(buf) < k:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    lanes = (sw(buf, k).astype(np.uint64) << (np.arange(k, dtype=np.uint64) * np.uint64(8))) \
        .sum(axis=1, dtype=np.uint64)
    inside = doc_of[:len(lanes)] == doc_of[k - 1:]  # grams that do not cross documents
    grams, gdoc = xxhash64_8(lanes[inside]), doc_of[:len(lanes)][inside]
    if len(grams) < w:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    mins = sw(grams, w).min(axis=1)
    keep = gdoc[:len(mins)] == gdoc[w - 1:]
    pairs = np.unique(np.stack([gdoc[:len(mins)][keep], mins[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


JACCARD_SQL = """
CREATE TABLE toks AS
  SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs;
CREATE TABLE tok_df AS SELECT tok, count(*) AS n FROM toks GROUP BY tok;
CREATE TABLE ranked AS
  SELECT t.doc_id, t.tok,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.n, t.tok) AS pos,
         count(*) OVER (PARTITION BY t.doc_id) AS len
  FROM toks t JOIN tok_df d USING (tok);
-- prefix filter: under one global token order, two sets with Jaccard >= t
-- share a token among each one's first |A| - ceil(t|A|) + 1 tokens
CREATE TABLE cand AS
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT * FROM ranked WHERE pos <= len - ceil({t} * len) + 1) a
  JOIN (SELECT * FROM ranked WHERE pos <= len - ceil({t} * len) + 1) b
    ON a.tok = b.tok AND a.doc_id < b.doc_id;
CREATE TABLE sizes AS SELECT doc_id, any_value(source) AS source, count(*) AS len
  FROM toks GROUP BY doc_id;
CREATE TABLE jpairs AS
  SELECT c.doc_a, c.doc_b, sa.source AS source_a, sb.source AS source_b,
         round(i.inter / (sa.len + sb.len - i.inter), 4) AS jaccard
  FROM cand c
  JOIN (SELECT c2.doc_a, c2.doc_b, count(*)::DOUBLE AS inter
        FROM cand c2 JOIN toks ta ON ta.doc_id = c2.doc_a
        JOIN toks tb ON tb.doc_id = c2.doc_b AND tb.tok = ta.tok
        GROUP BY c2.doc_a, c2.doc_b) i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE round(i.inter / (sa.len + sb.len - i.inter), 4) >= {t_out};
"""


def check_pairs(name, got, expected):
    """An operator's output rows equal the exact rows."""
    errors = []
    if got - expected:
        errors.append(f"{name}: {len(got - expected)} pairs beyond the exact set, "
                      f"e.g. {sorted(got - expected)[:3]}")
    if expected - got:
        errors.append(f"{name}: {len(expected - got)} exact pairs missing, "
                      f"e.g. {sorted(expected - got)[:3]}")
    if len(got) != len(expected) and not errors:
        errors.append(f"{name}: duplicate output rows")
    return errors


def check_planted(name, got_pairs, planted):
    missing = sorted(set(planted) - got_pairs)
    return [f"{name}: {len(missing)} planted pairs not found, e.g. {missing[:3]}"] if missing else []


def neardup_expected(con, p):
    """Exact rows of every operator over the `docs` table on `con`, at the
    operator parameters `p`."""
    t_min = min(p["minhash_threshold"], p["simhash_threshold"], p["ngram_threshold"])
    # a pair whose rounded Jaccard reaches t has an exact Jaccard >= t - 0.00005
    con.execute(JACCARD_SQL.format(t=t_min - 0.00005, t_out=t_min))
    jp = con.execute("SELECT doc_a, doc_b, source_a, source_b, jaccard FROM jpairs").fetchall()
    docs = con.execute("SELECT doc_id, source, text FROM docs").fetchall()
    new_base = p["new_base"]
    tm, ts, tn = p["minhash_threshold"], p["simhash_threshold"], p["ngram_threshold"]
    exp = {
        "minhash": {(a, b, j) for a, b, _, _, j in jp if j >= tm},
        "minhash_incremental": {(a, b, j) for a, b, _, _, j in jp
                                if j >= tm and (a >= new_base or b >= new_base)},
        "ngram_lsh": {(sa, a, b, j) for a, b, sa, sb, j in jp if j >= tn and sa == sb},
    }
    # simhash: Jaccard-verified pairs within the hamming radius
    token_hash = {}
    sims = {}
    for doc_id, _, text in docs:
        toks = list(dict.fromkeys(text.split(" ")))
        for t in toks:
            if t not in token_hash:
                token_hash[t] = xxhash64(t.encode("utf-8"))
        sims[doc_id] = simhash(toks, token_hash)
    exp["simhash"] = {(a, b, j) for a, b, _, _, j in jp
                      if j >= ts and bin(sims[a] ^ sims[b]).count("1") <= p["simhash_max_dist"]}
    # edit distance over prefixes, all pairs within a source
    exp["edit_distance"] = set(con.execute(f"""
        SELECT a.source, a.doc_id, b.doc_id,
               levenshtein(substring(a.text, 1, {p['edit_prefix']}),
                           substring(b.text, 1, {p['edit_prefix']})) AS dist
        FROM docs a JOIN docs b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE dist <= {p['edit_max_dist']}""").fetchall())
    # winnowing: shared fingerprints after the document-frequency cap
    import pyarrow as pa
    fp_docs, fps = winnow_table([(d, t) for d, _, t in docs], p["winnow_k"], p["winnow_w"])
    con.register("fps_src", pa.table({"doc_id": fp_docs, "fp": fps}))
    con.execute("CREATE TABLE fps AS SELECT doc_id, fp FROM fps_src")
    exp["winnow"] = set(con.execute(f"""
        WITH kept AS (SELECT doc_id, fp FROM fps WHERE fp IN
                        (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {p['winnow_max_df']}))
        SELECT a.doc_id, b.doc_id, count(*) AS n FROM kept a JOIN kept b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= {p['winnow_min_shared']}""").fetchall())
    return exp


OUTPUT_COLS = {
    "minhash": "doc_a, doc_b, round(jaccard, 4)",
    "minhash_incremental": "doc_a, doc_b, round(jaccard, 4)",
    "simhash": "doc_a, doc_b, round(jaccard, 4)",
    "ngram_lsh": "source, doc_a, doc_b, round(jaccard, 4)",
    "edit_distance": "source, doc_a, doc_b, dist",
    "winnow": "doc_a, doc_b, n_shared",
}


def neardup_checks(out, params):
    """All near-dup checks: each operator's rows equal the exact rows, and
    every planted pair the operator's criterion admits is found."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE TABLE docs AS SELECT doc_id, source, text FROM "
                f"read_parquet('{out['docs']}/*.parquet')")
    exp = neardup_expected(con, params)
    ids = {r[0]: r[1] for r in con.execute("SELECT doc_id, text FROM docs").fetchall()}
    new_base, fresh_base = params["new_base"], params["fresh_base"]
    planted = [(d - new_base, d) for d in ids if new_base <= d < fresh_base]
    # copies that keep the original's token set (kind 0) are within any
    # simhash radius; the other kinds only within the radius they land in
    same_set = [(a, b) for a, b in planted if set(ids[a].split(" ")) == set(ids[b].split(" "))]
    results = {}
    for name, cols in OUTPUT_COLS.items():
        got_rows = con.execute(f"SELECT {cols} FROM read_parquet("
                               f"'{out['pairs']}/{name}/*.parquet')").fetchall()
        got = set(got_rows)
        errors = check_pairs(name, got, exp[name])
        if len(got_rows) != len(got):
            errors.append(f"{name}: {len(got_rows) - len(got)} duplicate output rows")
        pairs = {(r[1], r[2]) if name in ("ngram_lsh", "edit_distance") else (r[0], r[1])
                 for r in got}
        errors += check_planted(name, pairs, same_set if name == "simhash" else planted)
        results[name] = errors
    return results
