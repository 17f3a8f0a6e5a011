#!/usr/bin/env python3
"""Benchmark of the Kafka-to-table engine: query latency and file-replay
ingest, each run in a fresh JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --record-expected <verify dump dir>

Workloads:
    ingest_replay  the whole ingest job (Pipeline.start over the parquet
                   file-replay source): a staged backlog drained cold at
                   start (its drain time is gated), warm backlog bursts
                   (printed), then an open-loop paced phase of --seconds
                   (its commit latency is gated)
    query_mix      a fixed query list, mostly fixed-cost-dominated short
                   queries plus two executor-heavy ones: one cold pass
                   (printed), timed passes for --seconds (at least three),
                   each from an empty CacheRegistry, and a check pass; each
                   query's best timed pass is gated, like graft.Bench's warm
                   min-of-2

The first run in a checkout builds the program and the harness from source
with sbt (offline). Every run checks outputs: query results against stored
fingerprints of a verified result dump, ingest messages against where each
must land. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1). The exit code is 0 only
when every output was correct.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".bench_build", "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.1")

QUERY_WORKLOADS = ("query_mix",)
WORKLOADS = ("ingest_replay",) + QUERY_WORKLOADS

END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("work_s", "s"),
    ("latency_mean_ms", "ms"),
]

SPAN_LAYERS = ["run", "query", "build", "plan", "exec",
               "batch", "latestOffset", "getBatch", "addBatch", "walCommit"]

PER_LAYER = [  # name, unit
    ("ops.build_ms", "ms"), ("ops.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.delay_ms", "ms"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.cpu_share", "fraction"),
    ("cache.frames_peak", "count"), ("cache.storage_peak_mb", "MB"),
    ("cache.growth_queries", "count"),
    ("schema.tables_t_us", "us"),
    ("ingest.decode_ms", "ms"), ("ingest.project_ms", "ms"),
    ("ingest.add_batch_ms", "ms"), ("ingest.get_batch_ms", "ms"),
    ("ingest.latest_offset_ms", "ms"), ("ingest.planning_ms", "ms"),
    ("ingest.wal_commit_ms", "ms"), ("ingest.batches", "count"),
    ("ingest.jobs_per_batch", "count"), ("ingest.good_frac", "fraction"),
    ("host.calib_wall_s", "s"), ("host.calib_cpu_s", "s"), ("ingest.gen_late_ms", "ms"),
] + [(f"self.{n}_ms", "ms") for n in SPAN_LAYERS] + [
    (f"trace.overhead_{n}", u) for n, u in END_TO_END]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def pct(xs, p):
    """Linear-interpolated percentile; +inf entries (failed queries) sort last."""
    s = sorted(xs)
    r = p * (len(s) - 1)
    lo = int(math.floor(r))
    hi = min(lo + 1, len(s) - 1)
    if math.isinf(s[hi]) or math.isinf(s[lo]):
        return math.inf if r > lo or math.isinf(s[lo]) else s[lo]
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(REPO, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "main", "**", "*"), recursive=True)
                   + [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt")]
                   + glob.glob(os.path.join(REPO, "project", "*.*"))
                   + glob.glob(os.path.join(BENCH, "project", "*.*")))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for key, flag in (("-Dsbt.offline", "-Dsbt.offline=true"),
                      ("-Dsbt.override.build.repos", "-Dsbt.override.build.repos=true"),
                      ("-Xmx", "-Xmx2g"), ("UsePerfData", "-XX:-UsePerfData")):
        if key not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile the program and the harness (once per source state) and
    return the runtime classpath and the source stamp."""
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "stamp"), os.path.join(WORK, "classpath")
    want = source_stamp()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip(), want
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    out_lines = p.stdout.splitlines()
    with open(log, "a") as f:
        f.write(p.stdout)
    cps = [l for l in out_lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp, want


# ---------------------------------------------------------------- JVM runs

def jvm(cp, run_dir, **kv):
    """One benchmark process; returns its JSON result."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", f"out={out}"]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    log = os.path.join(run_dir, "jvm.log")
    kv["spawn_ms"] = str(int(time.time() * 1000))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd + [f"{k}={v}" for k, v in kv.items()], cwd=run_dir, env=env,
                             stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"benchmark process failed ({rc}):\n{tail}", 1)
    with open(out) as f:
        r = json.load(f)
    r["process_s"] = time.time() - int(kv["spawn_ms"]) / 1000
    return r


def host_lines(r):
    pre, post = r["calib"]
    print(f"host nproc={r['nproc']} calib_pre wall={pre['wall_s']:.3f}s cpu={pre['cpu_s']:.3f}s "
          f"calib_post wall={post['wall_s']:.3f}s cpu={post['cpu_s']:.3f}s "
          f"process={r['process_s']:.2f}s")


def check_query(q, exp, rows_only):
    """(wall ms, problem): the wall time is +inf and the problem says why
    when the query failed or its result differs from `exp`. The check pass
    reports the fingerprint, the other passes the row count only."""
    if not q["ok"]:
        return math.inf, f"error: {q['error']}"
    check = "rows" if rows_only else exp["check"]
    want = exp["expect"].split(":")[0] if check == "rows" else exp["expect"]
    got = q["fp"].split(":")[0] if check == "rows" else q["fp"]
    if got != want:
        return math.inf, f"{check} {got} != expected {want}"
    return q["wall_ms"], None


def run_queries(cp, workload, seed, seconds, traced, run_dir):
    with open(os.path.join(BENCH, "workloads", f"{workload}.json")) as f:
        expected = json.load(f)["queries"]
    names_file = os.path.join(run_dir, "names.txt")
    with open(names_file, "w") as f:
        f.write("\n".join(sorted(expected)) + "\n")
    r = jvm(cp, run_dir, mode="query", names=names_file, seed=seed, seconds=seconds, data=DATA,
            trace=int(traced))
    host_lines(r)
    problems = []

    def wall(q, label, rows_only):
        w, problem = check_query(q, expected[q["name"]], rows_only)
        if problem:
            problems.append(f"{q['name']} ({label}): {problem}")
        return w

    cold = [wall(q, "cold pass", True) for q in r["cold"]]
    checked = [wall(q, "check pass", False) for q in r["check"]]
    per_query = {}
    for i, p in enumerate(r["passes"], 1):
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(wall(q, f"pass {i}", True))
    best = [min(ws) for ws in per_query.values()]
    attempted = len(cold) + len(checked) + sum(len(ws) for ws in per_query.values())
    failed = len(problems)
    e2e = {
        "setup_s": r["setup_s"],
        "cpu_s": statistics.mean(p["cpu_s"] for p in r["passes"]),
        "work_s": sum(best) / 1e3,
        "latency_mean_ms": statistics.mean(best),
    }
    named = {
        "setup_s": (r["setup_s"], "s"),
        "work_s": (e2e["work_s"], "s"),
        "latency_mean_ms": (e2e["latency_mean_ms"], "ms"),
        "cpu_s": (e2e["cpu_s"], "s"),
        "suite_s": (r["cold_s"], "s"),
        "query_p50_ms": (pct(cold, 0.5), "ms"),
        "query_p90_ms": (pct(cold, 0.9), "ms"),
        "cold_cpu_s": (r["cold_cpu_s"], "s"),
        "failed_frac": (failed / attempted, "fraction"),
    }
    print(f"  ({len(cold)} queries; one cold pass, {len(r['passes'])} timed passes, one check pass)")
    return e2e, named, attempted, failed, problems, r


def run_ingest(cp, seed, seconds, traced, run_dir):
    r = jvm(cp, run_dir, mode="ingest", seed=seed, seconds=seconds,
            work=os.path.join(run_dir, "ingest"), trace=int(traced))
    host_lines(r)
    lat = r["latency_ms"]
    lat_mean = statistics.mean(lat) if lat else math.inf
    e2e = {
        "setup_s": r["setup_s"],
        "cpu_s": r["cpu_s"],
        "work_s": r["drain_s"],
        "latency_mean_ms": lat_mean,
    }
    # the first half of the bursts finish the JIT warm-up
    burst_s = statistics.median(r["burst_s"][len(r["burst_s"]) // 2:])
    attempted, failed = r["attempted"], r["failed"]
    problems = []
    if failed:
        problems.append(f"ingest: {r['misplaced']} messages missing/duplicated, "
                        f"{r['wrong_rows']} rows in the wrong place, {r['null_rows']} rows "
                        f"with nulls, IngestMetrics off by {r['counter_diff']}")
    if not math.isfinite(r["drain_s"]):
        problems.append("ingest: the backlog was never fully committed")
    if len(lat) != r["paced_msgs"]:
        problems.append(f"ingest: latency known for {len(lat)} of {r['paced_msgs']} paced messages")
        lat = lat or [math.inf]
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        "work_s": (e2e["work_s"], "s"),
        "ingest_drain_msgs_per_s": (r["drain_msgs"] / r["drain_s"], "msgs/s"),
        "ingest_burst_s": (burst_s, "s"),
        "ingest_burst_msgs_per_s": (r["burst_msgs"] / burst_s, "msgs/s"),
        "ingest_commit_p50_ms": (pct(lat, 0.5), "ms"),
        "ingest_commit_p99_ms": (pct(lat, 0.99), "ms"),
        "ingest_commit_mean_ms": (lat_mean, "ms"),
        "cpu_s": (e2e["cpu_s"], "s"),
        "failed_frac": (failed / attempted, "fraction"),
    }
    print(f"  ({len(lat)} paced messages; generator at most {r['gen_late_ms_max']} ms late)")
    return e2e, named, attempted, failed, problems, r


def self_times(spans):
    """Per layer (span name): total duration minus the time covered by its
    children, in ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {n: 0.0 for n in SPAN_LAYERS}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        d -= sum(c["end_ms"] - c["start_ms"] for c in kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + max(d, 0.0)
    return out


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else 1e12


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", metavar="DUMP_DIR")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"program sources not found next to {BENCH}")
    if a.record_expected is None and a.workload is None:
        ap.error("--workload is required")

    cp, stamp = build()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.record_expected:
            record_expected(cp, os.path.abspath(a.record_expected), run_dir)
            return
        code = measure(cp, stamp, a, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


def execute(cp, a, traced, run_dir):
    if a.workload == "ingest_replay":
        return run_ingest(cp, a.seed, a.seconds, traced, run_dir)
    return run_queries(cp, a.workload, a.seed, a.seconds, traced, run_dir)


def measure(cp, stamp, a, run_dir):
    traced = a.trace == 1
    # untraced figures of the same workload and source state, the same seed
    # when there is one (else the latest other seed, so that a traced run
    # stays one process): the baseline of the tracing overhead
    last = os.path.join(WORK, f"untraced-{a.workload}-{a.seed}-{stamp[:16]}.json")
    base = None
    found = [last] if os.path.exists(last) else sorted(
        glob.glob(os.path.join(WORK, f"untraced-{a.workload}-*-{stamp[:16]}.json")),
        key=os.path.getmtime)[-1:]
    if found:
        with open(found[0]) as f:
            base = json.load(f)
        if traced:
            print(f"  tracing overhead against {os.path.basename(found[0])}")
    if traced and (base is None or set(base) != {k for k, _ in END_TO_END}):
        base_dir = os.path.join(run_dir, "untraced")
        os.makedirs(base_dir)
        base, _, _, _, base_problems, _ = execute(cp, a, False, base_dir)
        if not base_problems:
            with open(last, "w") as f:
                json.dump(base, f)
    e2e, named, attempted, failed, problems, r = execute(cp, a, traced, run_dir)
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump({k: v for k, v in r.items() if k != "spans"}, f)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}")
    for k, (v, u) in named.items():
        print(f"  {k:26s} {v:14.4f} {u}")
    for p in problems:
        print(f"  FAILED {p}")

    if not traced:
        if not problems:
            with open(last, "w") as f:
                json.dump(e2e, f)
        metrics = {k: {"value": finite(e2e[k]), "unit": u} for k, u in END_TO_END}
    else:
        layers = dict(r["layers"])
        layers["host.calib_wall_s"] = statistics.mean(c["wall_s"] for c in r["calib"])
        layers["host.calib_cpu_s"] = statistics.mean(c["cpu_s"] for c in r["calib"])
        spans = r["spans"]
        per = len(r.get("passes", [None]))  # self times per timed pass
        for n, v in self_times(spans).items():
            layers[f"self.{n}_ms"] = v / per
        for k, _ in END_TO_END:
            layers[f"trace.overhead_{k}"] = e2e[k] - base[k]
        span_dir = os.path.join(WORK, "spans")
        os.makedirs(span_dir, exist_ok=True)
        with open(os.path.join(span_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(spans, f)
        print(f"  spans: {len(spans)} written to {os.path.relpath(span_dir, REPO)}")
        for k, u in PER_LAYER:
            print(f"  {k:26s} {layers.get(k, 0.0):14.4f} {u}")
        metrics = {k: {"value": finite(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}

    ok = failed == 0 and not problems
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


def record_expected(cp, dump, run_dir):
    """Write the expected results of both query workloads from a
    `graft.Verify` dump of the same data (one that `scripts/check.py
    --strict` passes): fingerprints for queries with a DuckDB oracle, row
    counts for the rest."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for w in QUERY_WORKLOADS:
        path = os.path.join(BENCH, "workloads", f"{w}.json")
        with open(path) as f:
            spec = json.load(f)
        names_file = os.path.join(run_dir, f"{w}.txt")
        with open(names_file, "w") as f:
            f.write("\n".join(sorted(spec["queries"])) + "\n")
        fps = jvm(cp, run_dir, mode="fingerprint", names=names_file, data=dump)
        spec["queries"] = {
            n: ({"check": "fingerprint", "expect": fps[n]} if n in oracle
                else {"check": "rows", "expect": fps[n].split(":")[0]})
            for n in sorted(spec["queries"])}
        with open(path, "w") as f:
            json.dump(spec, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{w}: {len(spec['queries'])} expected results recorded")


if __name__ == "__main__":
    main()
