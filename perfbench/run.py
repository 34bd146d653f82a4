"""graft benchmark: one workload, one JVM, closed loop with one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record      # re-record perfbench/manifest.json

Run from the repository root. Builds the program from source (build.py),
generates the inputs (gen_data.py; the llm_ext tables are amplified x4 with
`graft.AmpBench write`), runs the workload's registry queries in whole passes
for --seconds, checks every result against perfbench/manifest.json and
prints the metrics. perfbench/interactions.json records, for every per-layer
metric, the end-to-end metric and workload it should move and the workloads
where no change is predicted. The seed sets only the order of the queries in each pass;
the inputs are the same for every seed. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_data  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# A fixed heap, smaller than build.sbt's 8g default: the host's memory is
# shared, and the workloads' cached blocks (a few MB) fit either heap's
# storage pool.
HEAP = "3g"
TIMEOUT_S = 170

# Each list is sized so that one warm pass takes 3-6 s on a 4-core host:
# a run pays a cold JVM start and five warm-up passes before it measures
# passes for --seconds (at least two), and every run of the benchmark
# must fit one time budget.
# LLM-data rows whose cold pass at sf0.02x4 stays near 1-2 s, one per
# kernel: MinHash near-dup (graft.ext Dedup signatures), cosine top-k
# (graft.functions' native cosine), Gopher quality rules (TextOps
# tokens) and entity-resolution scoring.
LLM_EXT = [
    "ext_dedup_near_minhash", "ext_adv_sim_topk", "ext_gopher_rules", "ext_er_score",
]
# The cheapest of the write-side rows (a cold drain of 4-5 s at sf0.01,
# the others 7-15 s), a streaming upsert into a table, beside mart and
# data-test reads.
INGEST_DURABLE = [
    "st_incremental_upsert", "tpch_q1", "dq_not_null", "j1_left_broadcast",
]
# workload -> (scale factor, amplification, queries)
WORKLOADS = {
    "llm_ext": (0.02, 4, LLM_EXT),
    "ingest_durable": (0.01, 1, INGEST_DURABLE),
}

# Environment knobs that change what the program computes or how; a run
# with any of them set does not measure the shipped configuration.
KNOBS = ["SPARK_GRAFT_ST_PARTS", "GRAFT_NO_WIDEN", "SPARK_GRAFT_ONLY",
         "SPARK_GRAFT_MULT", "SPARK_GRAFT_TRIGS"]

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def guard():
    bad = [k for k in os.environ
           if k in KNOBS or (k.startswith("GRAFT_") and k.endswith("_DEBUG"))]
    if bad:
        sys.exit(f"refusing to run: behaviour-changing knobs set: {', '.join(sorted(bad))}")


def parquet_rows(path):
    import pyarrow.parquet as pq
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def base_data(sf):
    """The generated tables at scale factor sf, regenerated when the
    generator changed."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    stamp = os.path.join(d, ".stamp")
    with open(gen_data.__file__, "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.main(d, sf)
        with open(stamp, "w") as f:
            f.write(want)
    return d


AMPED = ["orders", "lineitem", "events", "documents", "embeddings"]


def amp_data(base, amp, classpath):
    """amp copies of the fact tables, written once by `graft.AmpBench write`
    and checked against amp times the base row counts before every run."""
    d = f"{base}x{amp}"

    def ok():
        try:
            return all(parquet_rows(os.path.join(d, f"{t}.parquet")) ==
                       amp * parquet_rows(os.path.join(base, f"{t}.parquet")) for t in AMPED)
        except OSError:
            return False
    if not ok():
        log(f"writing x{amp} tables")
        shutil.rmtree(d, ignore_errors=True)
        run_dir = make_run_dir("amp")
        try:
            subprocess.run(java(classpath, run_dir) + ["graft.AmpBench", "write", base, d, str(amp)],
                           cwd=run_dir, stdout=sys.stderr, check=True, timeout=TIMEOUT_S)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if not ok():
            sys.exit(f"amplified tables in {d} do not hold {amp}x the base rows")
    return d


def dataset(workload, classpath):
    """(key, directory) of the workload's input tables."""
    sf, amp, _ = WORKLOADS[workload]
    base = base_data(sf)
    if amp == 1:
        return f"sf{sf}", base
    return f"sf{sf}x{amp}", amp_data(base, amp, classpath)


def make_run_dir(tag):
    """The run's own temp, Spark local and checkpoint dirs, removed when it
    ends. They live in the checkout like everything the benchmark writes,
    while build.sbt's forked runs put java.io.tmpdir on /dev/shm when the
    host has one; so staging and checkpoint I/O here is on the checkout's
    filesystem."""
    d = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(d, sub))
    return d


def java(classpath, run_dir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.streaming.checkpointLocation={run_dir}/ckpt",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath]


def du(path):
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(classpath, data, key, queries, seed, seconds, trace, record=False):
    run_dir = make_run_dir(key)
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(WORK, "traces", f"{key}-seed{seed}-spans.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    args = ["perfbench.Harness", "--queries", ",".join(queries), "--data", data,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--app", f"perfbench-{os.getpid()}", "--out", out,
            "--spans", spans, "--manifest", os.path.join(HERE, "manifest.json"),
            "--dataset", key, "--record", "1" if record else "0"]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        p = subprocess.run(java(classpath, run_dir) + args, cwd=run_dir, env=env,
                           stdout=sys.stderr, timeout=TIMEOUT_S)
        if p.returncode != 0:
            sys.exit(f"benchmark JVM exited with code {p.returncode}")
        with open(out) as f:
            res = json.load(f)
        # what the program left in its temp and checkpoint roots
        res["tmp_left_bytes"] = du(os.path.join(run_dir, "tmp")) + du(os.path.join(run_dir, "ckpt"))
        res["spans_file"] = os.path.relpath(spans, ROOT)
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def tail(xs):
    """Highest percentile with at least 10 samples beyond it (the lowest
    sample when there are fewer than 11)."""
    xs = sorted(xs)
    return xs[max(len(xs) - 11, 0)]


def metrics(res, trace, units):
    """(metrics the JSON line reports, further metrics only printed)."""
    measured = set(res["measured_passes"])
    walls = [w for p, w in enumerate(res["pass_walls_s"]) if p in measured]
    runs = [q for q in res["queries"] if q["pass"] in measured]
    per_query = {}
    for q in runs:
        per_query.setdefault(q["name"], []).append(q["latency_s"])
    st = res["streams"]
    trig = st["trigger_ms"]
    e2e = {
        "wall_s": (statistics.median(walls), "s"),
        "setup_s": (res["setup_s"], "s"),
    }
    streaming = {
        "stream.trigger_p50_ms": (statistics.median(trig) if trig else 0.0, "ms"),
        "stream.trigger_tail_ms": (tail(trig) if trig else 0.0, "ms"),
        "stream.ingest_rows_per_s": (st["rows"] / st["drain_s"] if st["drain_s"] else 0.0, "1/s"),
    }
    shown = {
        "failed_frac": (len(res["failures"]) / res["attempted"], "ratio"),
        # median over the queries of each query's median latency
        "query_p50_s": (statistics.median(statistics.median(v) for v in per_query.values()), "s"),
        f"query_tail_s (of {len(runs)})": (tail([q["latency_s"] for q in runs]), "s"),
    }
    if not trace:
        return e2e, {**shown, **streaming, "mem.peak_rss_mb": (res["peak_rss_mb"], "MB")}
    per = {k: (v, units[k]) for k, v in res["layers"].items()}
    per.update(streaming)
    per["mem.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    per["durable.tmp_left_bytes"] = (res["tmp_left_bytes"] / len(res["pass_walls_s"]), "bytes")
    # traced minus untraced wall of pass pairs that run the same order
    per["trace.overhead_s"] = (statistics.median(res["trace_overhead_s"]), "s")
    return per, shown


def record(classpath):
    """Runs every workload's queries once and writes the manifest."""
    entries = {}
    for name in WORKLOADS:
        key, data = dataset(name, classpath)
        res = run_jvm(classpath, data, key, sorted(WORKLOADS[name][2]), 0, 0, 0, record=True)
        for q in res["queries"]:
            if q["error"]:
                sys.exit(f"{name}: {q['name']} failed: {q['error']}")
            entries[f"{key}:{q['name']}"] = {"rows": q["rows"], "checksum": q["checksum"]}
    with open(os.path.join(HERE, "manifest.json"), "w") as f:
        f.write("{\n" + ",\n".join(f'  "{k}": {json.dumps(v)}' for k, v in sorted(entries.items()))
                + "\n}\n")
    log(f"recorded {len(entries)} manifest entries")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    guard()
    t0 = time.time()
    classpath = build.build()
    if a.record:
        return record(classpath)
    key, data = dataset(a.workload, classpath)
    log(f"build and inputs ready in {time.time() - t0:.1f}s")
    res = run_jvm(classpath, data, key, WORKLOADS[a.workload][2], a.seed, a.seconds, a.trace)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["per_layer" if a.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    reported, shown = metrics(res, a.trace, units)
    host = res["host"]
    missing = {m["name"] for m in declared} ^ set(reported)
    with open(os.path.join(HERE, "interactions.json")) as f:
        missing |= {m["name"] for m in bench["per_layer"]} ^ set(json.load(f))
    if missing:
        sys.exit(f"metrics out of step with BENCHMARK.json or interactions.json: {sorted(missing)}")
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"pass walls {res['pass_walls_s']}  setup {res['setup_s']}  "
          f"queries {res['attempted']}  host {json.dumps(host)}")
    for k, (v, u) in list(reported.items()) + list(shown.items()):
        print(f"  {k:28s} {v:14.4f} {u}")
    if a.trace:
        print(f"  spans written to {res['spans_file']}")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))


if __name__ == "__main__":
    main()
