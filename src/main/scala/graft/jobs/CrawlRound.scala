package graft.jobs

import graft.frontier.{Canon, Politeness, RoundState, ShardedSeen}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** One frontier round — the Spark shape of the reference's per-category crawl
  * loop (SURVEY.md §3.1):
  *
  * seeds → anti-join(crawled) → canon+dedup → anti-join(seen, sharded bloom) →
  * policy join → robots filter → cooling filter → per-host window-ranked
  * budgets → join(pages) → extract → table projections → commit round
  * snapshot (seen/crawled/metrics + outputs), manifest last.
  *
  * All per-round output/state writes are independent projections of the same
  * cached frames, so they are submitted CONCURRENTLY (Spark's scheduler
  * overlaps the jobs; each write is small and the round's wall-clock is the
  * longest write, not the sum — the round-2 sequential writes were the
  * recorded bench's bottleneck).
  *
  * Every round runs with Spark's interpreted evaluators instead of
  * Janino-compiled code (see [[run]]).
  */
object CrawlRound {

  final case class RoundStats(
      round: Int, frontier: Long, scheduled: Long, fetched: Long,
      extracted: Long, jobs: Long, companies: Long, discovered: Long = 0L,
      wallSec: Double = 0.0)

  /** @param writeLineage also persist the `rank_input` + `ordering` lineage
    *        tables (per-round crawl-order provenance and the independent-
    *        oracle hook). Default on; throughput benchmarks that don't read
    *        them back may disable.
    * @param nShards seen-filter shard count for NEW states (resumed states
    *        keep the count persisted in their manifest); size >= cluster
    *        cores.
    *
    * The round runs with Spark's interpreted evaluators ([[graft.Interpreted]]):
    * the caller's settings are restored afterwards, also when the round
    * throws; other queries running on the same session meanwhile run
    * interpreted too. With codegen on, a round compiles ~130-190 classes, a
    * working set the codegen cache cannot hold, so every round recompiled
    * all of it. Interpreted evaluation costs more per row: timed by hand,
    * one round in a warm JVM on local[4] (4 vCPUs), interpreted vs codegen
    * wall seconds, with budgets that schedule ~5,500 URLs: frontier 1e5 rows
    * 3.2-3.6 vs 3.7-4.0, 3e5 rows 4.7 vs 4.2-4.8, 1e6 rows 10.6-11.6 vs
    * 7.3-7.9. So rounds above ~2e5 frontier rows would be faster compiled;
    * no caller in this repo runs one.
    */
  def run(spark: SparkSession, pages: DataFrame, seeds: DataFrame,
          policy: DataFrame, state: RoundState, round: Int,
          roundSeconds: Double, categoryLimit: Option[Int] = None,
          bloomCapacity: Long = 4000000L,
          maxScheduledPerRound: Long = 2000000L,
          nShards: Int = ShardedSeen.DefaultShards,
          writeLineage: Boolean = true): RoundStats = {
    graft.Interpreted(spark) {
      runRound(spark, pages, seeds, policy, state, round, roundSeconds, categoryLimit,
        bloomCapacity, maxScheduledPerRound, nShards, writeLineage)
    }
  }

  private def runRound(spark: SparkSession, pages: DataFrame, seeds: DataFrame,
                       policy: DataFrame, state: RoundState, round: Int,
                       roundSeconds: Double, categoryLimit: Option[Int],
                       bloomCapacity: Long, maxScheduledPerRound: Long, nShards: Int,
                       writeLineage: Boolean): RoundStats = {
    import spark.implicits._
    val roundT0 = System.nanoTime() // per-round wall: the Amdahl serial-fraction audit
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // phase seconds for the manifest, e.g. `phase_fetch_extract_s`
    val phases = scala.collection.mutable.Map.empty[String, Any]
    var _t = roundT0
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      val sec = (now - _t) / 1e9
      System.err.println(f"[round $round] $name: $sec%.2f s")
      phases(s"phase_${name.replaceAll("[^a-z]+", "_")}_s") =
        BigDecimal(sec).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      _t = now
    }
    // phase seconds and the Janino compilations of the round (a JVM-wide
    // counter, so a concurrent query in the same JVM adds to it)
    def observed(): Map[String, Any] = phases.toMap +
      ("janino_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))

    // One metadata-listing epoch per round: every state read below hits the
    // RoundState memo; commit() at round end re-invalidates. refresh() here
    // (not just relying on commit's auto-invalidation) also picks up commits
    // by OTHER writers between rounds.
    state.refresh()

    // F3: the frontier GROWS — candidates discovered from listing pages
    // fetched in committed rounds join the seed list (discovery_service.py
    // semantics; the reference's frontier is built from category-page
    // scrapes, not a static list)
    val seedCols = Seq("url", "platform", "category_id", "priority")
    val seedsIn = state.readCommitted("discovered") match {
      case Some(d) => seeds.selectExpr(seedCols: _*)
        .unionByName(d.selectExpr(seedCols: _*))
      case None => seeds.selectExpr(seedCols: _*)
    }

    // F2 resume: drop categories already fully crawled in committed rounds
    val crawled = state.readCommitted("crawled")
    val afterResume = crawled match {
      case Some(c) => seedsIn.join(broadcast(c.select("platform", "category_id").distinct()),
        Seq("platform", "category_id"), "left_anti")
      case None => seedsIn
    }

    // F4 canon + F5 intra-batch dedup (deterministic keep-best by priority)
    val canonized = afterResume
      .withColumn("canon_url", Canon.canonUrl(col("url")))
      .withColumn("host", Canon.host(col("url")))
      .withColumn("path", Canon.path(col("url")))
      .withColumn("fetch_kind", graft.frontier.Discovery.fetchKind(col("url")))
    val dedupW = Window.partitionBy(col("canon_url"))
      .orderBy(col("priority").desc, col("url").asc)
    val deduped = canonized.withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")

    // J5 cross-round seen-set: B hash-sharded Bloom filters carried as a
    // per-round snapshot table — built and probed distributively, no driver
    // filter build, no monolithic broadcast (per-task memory is capacity/B).
    // The shard count and cumulative seen count ride in the manifest, so
    // per-round cost never grows with |seen|. Exactness still comes from the
    // left_anti backstop over the maybe-hits, never the filters.
    val seenOpt = state.readCommitted("seen")
    val lastRound = state.committedRounds.lastOption
    val lastManifest = lastRound.flatMap(lr => state.readManifest(lr))
    val seenCount = lastManifest.flatMap(_.get("seen_total")).map(_.toLong).getOrElse(0L)
    val effShards = lastManifest.flatMap(_.get("seen_shards")).map(_.toInt).getOrElse(nShards)
    val shardsOpt = state.readLatestSnapshot(ShardedSeen.Table)
      .map(_.as[ShardedSeen.ShardRow])
    val unseen = (seenOpt, shardsOpt) match {
      case (Some(seen), Some(filters)) =>
        ShardedSeen.antiJoin(deduped, seen, "canon_url", filters, effShards)
      case (Some(seen), None) =>
        // state written without filter snapshots (pre-shard resume): exact
        // anti-join this one round; the snapshot written below bootstraps
        // from the FULL history, so later rounds never mistake historical
        // URLs for definitely-new (round-2 advice: a delta-only filter here
        // double-scheduled resumed states)
        deduped.join(seen.select("canon_url"), Seq("canon_url"), "left_anti")
      case _ => deduped
    }

    // P2 policy join (broadcast dim) + P4 adaptive-rate fold + budget.
    // Rates fold over committed per-host round metrics (throttler.py:125-156
    // law: x1.1 per >=50-success round capped 1.5x base; x0.7 on rate-limit
    // floored 0.1x base — rate-limits don't occur against a static pages
    // table, but the mechanism is live and tested).
    val adaptedPolicy = Politeness.adaptPolicy(policy, state.readCommitted("metrics"))
    val withPolicy = unseen
      .join(broadcast(adaptedPolicy), Seq("host"), "left")
      .withColumn("budget",
        greatest(lit(1), floor(coalesce(col("eff_rate_per_s"), lit(2.0)) * roundSeconds)).cast("int"))
    val allowed = Politeness.applyRobots(withPolicy)

    // The pending frontier feeds several actions (budget ranking, remainder,
    // category completion) — materialize once instead of recomputing the
    // seed→canon→bloom lineage per action.
    val pending = allowed.cache()
    lap("frontier-plan") // state reads + plan construction (driver-side)
    // frontier counts everything still owed, INCLUDING URLs parked behind a
    // cooling host — the round loop must not stop while they are pending
    val frontierCount = pending.count()
    lap("frontier")

    // Empty frontier: commit a zero round WITHOUT touching the pages table
    // (the final round of every crawl is empty — skipping it saves a full
    // corpus scan per run). No snapshot is written; readers look back to the
    // last round that wrote one, and the seen count + shard count roll
    // forward in the manifest.
    if (frontierCount == 0) {
      state.commit(round, Map(
        "round" -> round, "frontier" -> 0L, "scheduled" -> 0L,
        "fetched" -> 0L, "extracted" -> 0L, "discovered" -> 0L,
        "seen_total" -> seenCount, "seen_shards" -> effShards) ++ observed())
      pending.unpersist()
      return RoundStats(round, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
        (System.nanoTime() - roundT0) / 1e9)
    }

    // P3 cooling hosts excluded for this round only
    val cooled = state.readCommitted("cooling") match {
      case Some(cool) =>
        pending.join(broadcast(cool.filter(col("until_round") > round).select("host")),
          Seq("host"), "left_anti")
      case None => pending
    }

    // P1 window-ranked per-host budget (salted two-phase top-N; small
    // rounds route to the plain one-window rank — frontierCount is already
    // on hand and cooled ⊆ pending, so the hint is a sound upper bound)
    val ranked = Politeness.selectBudget(cooled, sizeHint = Some(frontierCount)).cache()
    val rankedCount = ranked.count()
    // Broadcast-size guard: the fetch join broadcasts the selected frontier
    // (so html never shuffles), but Σ(host budgets) is unbounded in hosts.
    // If a round's selection exceeds the cap, budgets are scaled down
    // pro-rata (min 1/host) and the remainder simply stays pending — it is
    // not in the seen delta, so the next round schedules it. The round is
    // SPLIT rather than the broadcast allowed to OOM.
    // Pro-rata on the per-host SELECTED counts (not budgets — a host whose
    // count sits far below its budget would otherwise dodge the cap and the
    // sum would stay unbounded): allowed_h = max(1, floor(count_h × factor)),
    // so Σ allowed <= cap + #hosts.
    val (selected, scheduledCount, allowedOpt) =
      if (rankedCount <= maxScheduledPerRound) (ranked, rankedCount, None)
      else {
        val factor = maxScheduledPerRound.toDouble / rankedCount
        val allowed = ranked.groupBy("host").agg(
          greatest(lit(1L), floor(count(lit(1)) * factor)).as("_allowed"))
        val capped = ranked.join(broadcast(allowed), Seq("host"))
          .filter(col("sched_rank") <= col("_allowed"))
          .drop("_allowed").cache()
        val n = capped.count()
        ranked.unpersist()
        (capped, n, Some(allowed))
      }
    lap("budget-rank")

    // J4: "fetch" = equi-join against the pages table on canonical URL.
    // Only url+html+ts columns are read from the scan (column pruning), and
    // the join broadcasts the *frontier* side: a round's selected set is
    // politeness-bounded (sum of host budgets), while the pages table is the
    // 100 TB side — html must never shuffle. Extraction then runs map-side
    // on the pages partitions.
    val fetched = pages
      .select(col("url").as("canon_url"), col("html"), col("warc_ts"))
      .join(broadcast(selected.select("canon_url", "platform", "host", "category_id")),
        Seq("canon_url"), "inner")

    // ONE typed pass over the fetched pages produces BOTH the extraction
    // rows and (for listing pages) the discovered candidate links — html is
    // read exactly once per round and never cached or shuffled. F6: the
    // per-(platform, category) top-N caps the discovery fan-out
    // (urls[:limit] contract).
    val extracted = ExtractJob.extractPages(fetched).toDF().cache()
    val discovered = graft.frontier.Discovery.fromExtracted(extracted, categoryLimit).cache()

    // pool sized to the concurrent write batch below (~14 one-task jobs on
    // small rounds): at 8 threads the writes ran in two waves
    val pool = Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // the discovered count joins the concurrent batch (it is only needed at
    // commit time — one fewer serial driver barrier per round)
    val discoveredCountF = Future(discovered.count())
    // ONE pass over the cached frame for every round counter (listing
    // fetches excluded; companies counted post-dedup via countDistinct — no
    // parquet read-back job)
    val cRow = extracted.agg(
      sum(when(!col("is_listing"), 1L).otherwise(0L)),
      sum(when(col("extract_ok"), 1L).otherwise(0L)),
      countDistinct(when(col("extract_ok") && col("company_source_id").isNotNull &&
        col("company_name").isNotNull,
        concat_ws("\u0001", col("platform"), col("company_source_id"))))).collect()(0)
    val fetchedCount = if (cRow.isNullAt(0)) 0L else cRow.getLong(0)
    val extractedCount = if (cRow.isNullAt(1)) 0L else cRow.getLong(1)
    val companiesCount = cRow.getLong(2)
    lap("fetch+extract")

    // Ranking-input lineage: the exact rows entering budget ranking with the
    // EFFECTIVE (guard-scaled) budget the schedule honored, persisted per
    // round. This is (a) the north rule's per-partition lineage and (b) the
    // independent-oracle hook — DuckDB recomputes the schedule as
    // row_number() over (host ORDER BY priority DESC, canon_url) <= budget
    // from these bytes and must reproduce the ordering table exactly.
    val rankInputBase = cooled.select(lit(round).as("round"), col("host"),
      col("canon_url"), col("platform"), col("category_id"), col("fetch_kind"),
      col("priority"), col("budget"))
    val rankInput = allowedOpt match {
      case None => rankInputBase
      case Some(allowed) => rankInputBase.join(broadcast(allowed), Seq("host"))
        .withColumn("budget", least(col("budget"), col("_allowed")).cast("int"))
        .drop("_allowed")
    }

    // The seen-filter snapshot: fold this round's delta into the carried
    // shards; a pre-shard state bootstraps from the FULL history so the
    // snapshot always covers every seen URL.
    val seenDelta = selected.select("canon_url")
    val capPerShard = math.max(bloomCapacity / effShards, 4096L)
    val newShards = shardsOpt match {
      case Some(filters) =>
        ShardedSeen.updated(Some(filters), seenDelta, "canon_url", effShards, capPerShard)
      case None =>
        val history = seenOpt.map(_.select("canon_url").unionByName(seenDelta))
          .getOrElse(seenDelta)
        ShardedSeen.updated(None, history, "canon_url", effShards, capPerShard)
    }

    // crawled delta (F7): categories with no remaining unscheduled URLs
    // (computed against the full pending set so cooled-host URLs keep their
    // category open; categories with FRESH discoveries this round stay open
    // so their discovered URLs get scheduled next round)
    val remaining = pending.join(selected.select("canon_url"), Seq("canon_url"), "left_anti")
    val doneCategories = pending.select("platform", "category_id").distinct()
      .join(remaining.select("platform", "category_id").distinct(),
        Seq("platform", "category_id"), "left_anti")
      .join(discovered.select("platform", "category_id").distinct(),
        Seq("platform", "category_id"), "left_anti")

    // A1-style health metrics per platform+host for this round (listing
    // fetches are frontier growth, not extraction attempts — excluded)
    val metrics = extracted.filter(!col("is_listing")).groupBy("platform", "host").agg(
      count(lit(1)).as("total_requests"),
      count(lit(1)).as("success_requests"),
      sum(when(col("extract_ok"), 1L).otherwise(0L)).as("extraction_success"),
      sum(when(!col("extract_ok"), 1L).otherwise(0L)).as("extraction_failure"),
      avg(col("latency_ms")).as("avg_latency_ms"),
      sum(when(!col("job_valid") && col("extract_ok"), 1L).otherwise(0L)).as("invalid_jobs"))
      .withColumn("rate_limited", lit(0L)) // no 429s against a static pages table
      .withColumn("round", lit(round))

    // All remaining writes are independent projections of cached frames
    // (`extracted`, `selected`, `pending`, `discovered` are materialized
    // above) — submit them as concurrent Spark jobs and await the batch.
    // Wall-clock becomes the slowest single write instead of the sum of
    // ~10 small sequential jobs.
    //
    // SMALL-ROUND file sizing (guide §6 small files): every delta frame
    // still carries the 32 shuffle/cache partitions of its lineage, so each
    // of the ~14 writes was emitting 32 near-empty files — ~450 task
    // launches + file commits per round, the dominant round cost at small
    // frontier sizes (measured 1.9 s/round of 2.4 s total). Rounds below
    // the small-frontier bound coalesce each delta to ONE file; the inputs
    // are cached/counted already, so the single write task only drains the
    // cache. Large rounds keep full write parallelism.
    def sized(df: DataFrame): DataFrame =
      if (frontierCount <= Politeness.SmallFrontierRows) df.coalesce(1) else df
    val writes = Seq(
      Future { state.writeDelta("discovered", round, sized(discovered)) },
      Future { state.writeDelta("out_jobs", round, sized(ExtractJob.jobs(extracted))) },
      Future { state.writeDelta("out_companies", round, sized(ExtractJob.companies(extracted))) },
      Future { state.writeDelta("out_locations", round, sized(ExtractJob.locations(extracted))) },
      Future { state.writeDelta("out_skills", round, sized(ExtractJob.skills(extracted))) },
      Future { state.writeDelta("out_junction", round, sized(ExtractJob.junction(extracted))) },
      // S7 quarantine: schema-invalid rows, persisted for drift monitoring
      // (mirrors validator._save_sample; rows still land in out_jobs, as the
      // reference persists regardless of validation)
      Future { state.writeDelta("quarantine", round,
        sized(extracted.filter(col("extract_ok") && !col("job_valid"))
          .select("platform", "canon_url", "source_id", "title"))) },
      // seen delta: everything scheduled this round (budget spent once/URL)
      Future { state.writeDelta("seen", round, sized(seenDelta)) },
      Future { state.writeDelta(ShardedSeen.Table, round, newShards.toDF()) },
      Future { state.writeDelta("crawled", round, sized(doneCategories)) },
      Future { state.writeDelta("metrics", round, sized(metrics)) },
      // P7 circuit breaker: hosts whose external-failure (429) count trips
      // the reference's threshold cool for the recovery window; expiry is
      // the half-open probe (circuit_breaker.py semantics at round grain)
      Future { state.writeDelta("cooling", round,
        sized(CircuitBreaker.trips(metrics, round, roundSeconds))) }) ++
      (if (writeLineage) Seq(
        Future { state.writeDelta("rank_input", round, sized(rankInput)) },
        // crawl ordering lineage: (round, host, sched_rank, canon_url, kind)
        Future { state.writeDelta("ordering", round,
          sized(selected.select(lit(round).as("round"), col("host"), col("sched_rank"),
            col("canon_url"), col("platform"), col("category_id"), col("fetch_kind")))) })
       else Nil)
    val discoveredCount =
      try {
        Await.result(Future.sequence(writes), Duration.Inf)
        Await.result(discoveredCountF, Duration.Inf)
      } finally pool.shutdown()
    lap("write-outputs")

    state.commit(round, Map(
      "round" -> round, "frontier" -> frontierCount, "scheduled" -> scheduledCount,
      "fetched" -> fetchedCount, "extracted" -> extractedCount,
      "discovered" -> discoveredCount,
      "seen_total" -> (seenCount + scheduledCount), "seen_shards" -> effShards) ++ observed())

    pending.unpersist()
    selected.unpersist()
    extracted.unpersist()
    discovered.unpersist()
    RoundStats(round, frontierCount, scheduledCount, fetchedCount, extractedCount,
      extractedCount, companiesCount, discoveredCount,
      (System.nanoTime() - roundT0) / 1e9)
  }
}
