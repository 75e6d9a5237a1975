#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark harness with sbt (perfbench/build.sbt depends on the root build);
later runs reuse the build while the sources are unchanged. Each run then:

1. starts a fresh JVM on local[N] (N = min(4, usable CPUs)), which sets up
   the inputs from the seed, warms up, measures for --seconds and writes
   its metrics and output paths to a temp directory under .bench_build/;
2. checks the outputs apart from the program (checks.py);
3. prints the run record (seed, N, heap, operations, checks, host CPU steal
   and load over the window) and, as the last line, one JSON object:
   {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
   end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones
   (0 where a layer does not run in the workload);
4. removes the temp directory.

It exits non-zero, printing no result, when the build, the JVM or the
run's time limit fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WORKLOADS = ("crawl_bulk", "crawl_polite", "neardup")

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads: both build definitions and all
    sources of the program and the harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building first when the sources
    changed since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program source under src/main/scala; run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=800)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or not cp or cp.startswith("["):
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    """(total, steal) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def usable_cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.PerfMain", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(args.cpus)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT_S} s and was stopped")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"the JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def read_spans(path):
    """{span name: (count, total seconds, self seconds)} of a traced run;
    self time is a span's duration minus that of its child spans."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    out = {}
    for s in spans:
        n, total, own = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, total + s["dur_s"], own + s["dur_s"] - child.get(s["id"], 0.0))
    return out


def run_checks(workload, result, seed):
    import checks
    out = result["outputs"]
    if workload == "neardup":
        params = {k: float(v) if "threshold" in k else int(v)
                  for k, v in out.items() if k not in ("docs", "pairs", "suites", "n_docs")}
        return checks.neardup_checks(out, params)
    return checks.crawl_checks(out, seed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=usable_cpus(),
                    help="N of local[N] (default: min(4, usable CPUs))")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath()

    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        total0, steal0 = cpu_times()
        load0 = loadavg()
        t0 = time.time()
        result = run_jvm(cp, args, work)
        wall = time.time() - t0
        total1, steal1 = cpu_times()
        load1 = loadavg()
        t1 = time.time()
        check_results = run_checks(args.workload, result, args.seed)
        check_s = time.time() - t1
        spans = read_spans(os.path.join(work, "spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    attempted = sum(a for a, _ in ops.values()) + len(check_results)
    failed = sum(f for _, f in ops.values()) + sum(1 for e in check_results.values() if e)
    correct = not any(check_results.values())
    steal = (steal1 - steal0) / max(1, total1 - total0)
    print(f"run: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={result['cpus']} heap_mb={result['heap_mb']} seconds={args.seconds} "
          f"jvm_wall_s={wall:.1f} checks_s={check_s:.1f}")
    print(f"host: cpu_steal_share={steal:.4f} loadavg_start={load0:.2f} loadavg_end={load1:.2f}")
    for name, (a, f) in ops.items():
        print(f"op: {name} attempted={a} failed={f}")
    for name, (n, total, own) in spans.items():
        print(f"span: {name} n={n} total_s={total:.3f} self_s={own:.3f}")
    if args.trace:
        e2e = " ".join(f"{m['name']}={result['metrics'][m['name']]['value']:.6g}"
                       for m in spec["end_to_end"] if m["name"] in result["metrics"])
        print(f"traced end-to-end: {e2e}")
    for name, errors in check_results.items():
        print(f"check: {name} {'FAIL' if errors else 'ok'}")
        for e in errors[:5]:
            print(f"  {e}")
    metrics = {}
    listed = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    for m in listed:
        got = result["metrics"].get(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
