"""The repository's benchmark: one command that builds the engine, makes
the workload's inputs from a seed, measures, checks every output and
prints the metrics.

    python3 perfbench/run.py --workload hypercube_ref --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`;
the line before it carries the run's environment and sample counts.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. NOTES.md says what each workload and metric is for.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
LAUNCHER = os.path.join(HARNESS, "target", "launcher.args")

WORKLOADS = {
    "hypercube_ref": dict(kind="hypercube", size=dict(
        n_clients=10_000, n_contracts=16_000, n_invoices=400_000)),
    "hypercube_narrow": dict(kind="hypercube", size=dict(
        n_clients=1_000, n_contracts=1_600, n_invoices=2_400_000)),
    "catalog_mix": dict(kind="catalog", size=dict(
        n_customers=1_500, n_suppliers=100, n_orders=15_000, n_docs=1_000,
        n_events=10_000)),
}

# A fixed, pre-touched heap: the heap's share of the resident set is then
# the same in every run, and peak_rss_mb moves only with native memory.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# An invocation must end within 180 s once built.
DEADLINE_S = 170

PER_LAYER_COUNTERS = [
    ("exchange.shuffle_write_records", "shuffle_write_records", "count"),
    ("exchange.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exchange.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("exchange.fetch_wait_s", "fetch_wait_s", "s"),
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.task_failures", "task_failures", "count"),
    ("spark.executor_run_s", "executor_run_s", "s"),
    ("spark.executor_cpu_s", "executor_cpu_s", "s"),
    ("spark.gc_s", "gc_s", "s"),
    ("spark.spill_bytes", "spill_bytes", "bytes"),
    ("spark.peak_execution_memory_bytes", "peak_execution_memory_bytes", "bytes"),
    ("spark.input_bytes", "input_bytes", "bytes"),
    ("spark.input_records", "input_records", "count"),
]
ENTRY_COUNTERS = [("s", "s"), ("stages", "count"), ("tasks", "count"),
                  ("shuffle_write_bytes", "bytes")]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def build():
    """Builds the engine and the harness with sbt unless a build of the
    same sources exists; returns nothing, raises on failure."""
    h = hashlib.sha256()
    sources = ["build.sbt", "project", "src/main", "perfbench/harness/build.sbt",
               "perfbench/harness/project", "perfbench/harness/src"]
    for top in sources:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if not {"target", "project"} & set(
                os.path.relpath(d, path).split(os.sep)))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(STATE, "build.stamp")
    if os.path.exists(LAUNCHER) and os.path.exists(stamp) \
            and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=" + repos)
    log("building engine and harness with sbt")
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "launcher"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0 or not os.path.exists(LAUNCHER):
        raise RuntimeError("build failed, see " + os.path.join(STATE, "build.log"))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def inputs(name, seed):
    spec = WORKLOADS[name]
    key = "%s-%s-s%d" % (spec["kind"], "-".join(str(v) for v in spec["size"].values()), seed)
    write = gen.write_hypercube if spec["kind"] == "hypercube" else gen.write_catalog
    return gen.cached(os.path.join(STATE, "data"), key,
                      lambda out: write(out, seed, **spec["size"]))


def run_jvm(kind, data, seconds, trace, work, deadline):
    """One harness process in the fresh directory `work`; returns its
    result and the wall-clock time it was launched at."""
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    result = os.path.join(work, "result.json")
    cmd = ["java", "@" + LAUNCHER] + JVM_HEAP + ["-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "perfbench.Harness", kind, data, "%.3f" % seconds, str(trace), result]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness timed out, see " + os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise RuntimeError("harness exited with code %d" % rc)
    with open(result) as f:
        return json.load(f), launched


def check_hypercube(res, work, expected):
    """Checks each distinct output in full; returns (attempted, failed)."""
    verdict = {}
    for digest, out in res["outputs"].items():
        problem = check.check_hypercube(
            check.read_csv_output(os.path.join(work, out)), expected)
        if problem:
            log("output %s: %s" % (out, problem))
        verdict[digest] = problem is None
    runs = res["digests"]
    return len(runs), sum(1 for d in runs if not verdict[d])


def check_catalog(res, work, data):
    con = check.catalog_views(data)
    failed = 0
    for name, out in res["outputs"].items():
        got = check.read_parquet_output(os.path.join(work, out))
        if name in res["oracle"]:
            problem = check.check_oracle(got, res["oracle"][name], con)
        else:
            problem = check.check_pagerank(got, con)
        if problem:
            log("%s: %s" % (name, problem))
            failed += 1
    # one checked pass (the warm-up); its verdict covers the timed passes,
    # which ran the same plans to a noop sink
    return 1, int(failed > 0)


def rows_in(kind, data, size):
    if kind == "hypercube":
        return size["n_invoices"]
    con = check.catalog_views(data)
    tables = [r[0] for r in con.execute("SHOW TABLES").fetchall()]
    return sum(con.execute("SELECT COUNT(*) FROM %s" % t).fetchone()[0] for t in tables)


def per_layer(kind, res, rows, cores):
    """The traced run's layer metrics. A hypercube layer's self time is its
    prefix span minus the previous prefix span."""
    m = {}
    t = res["trace_s"]
    c = res["trace_counters"]

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    if kind == "hypercube":
        put("sources.decode_s", t["decode"], "s")
        put("sources.decode_rows_per_s", rows / t["decode"], "rows/s")
        put("hypercube.plan_s", res["plan_cold_s"], "s")
        put("hypercube.plan_warm_s", t["plan"], "s")
        put("hypercube.dim_join_s", t["dim_join"], "s")
        put("hypercube.fact_join_s", t["fact_join"] - t["decode"], "s")
        put("hypercube.aggregate_s", t["aggregate"] - t["fact_join"], "s")
        put("hypercube.write_s", t["run"] - t["aggregate"], "s")
    else:
        for entry, e in res["trace_entries"].items():
            for key, unit in ENTRY_COUNTERS:
                put("catalog.%s.%s" % (entry, key), e.get(key, 0.0), unit)
    for name, key, unit in PER_LAYER_COUNTERS:
        put(name, c.get(key, 0.0), unit)
    put("exchange.records_per_input_row", c.get("shuffle_write_records", 0.0) / rows, "ratio")
    put("spark.core_util", c.get("executor_run_s", 0.0) / (t["run"] * cores), "ratio")
    put("trace.run_s", t["run"], "s")
    if "untraced_run" in t:
        put("trace.untraced_run_s", t["untraced_run"], "s")
        put("trace.overhead_frac", t["run"] / t["untraced_run"] - 1.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    spec = WORKLOADS[args.workload]
    kind = spec["kind"]
    cores = len(os.sched_getaffinity(0))
    load_start = loadavg()
    os.makedirs(STATE, exist_ok=True)

    t_build = time.time()
    build()
    # the first run in a checkout builds; the build does not count
    deadline = started + DEADLINE_S + (time.time() - t_build)
    data = inputs(args.workload, args.seed)
    if kind == "hypercube":
        expected_file = data + ".expected.parquet"
        if not os.path.exists(expected_file):
            check.hypercube_expected(data).to_parquet(expected_file + ".tmp")
            os.rename(expected_file + ".tmp", expected_file)
        expected = check.pd.read_parquet(expected_file)
    rows = rows_in(kind, data, spec["size"])

    work = os.path.join(STATE, "work", "%s-s%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        res, launched = run_jvm(kind, data, args.seconds, args.trace, work, deadline)
        if kind == "hypercube":
            attempted, failed = check_hypercube(res, work, expected)
        else:
            attempted, failed = check_catalog(res, work, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run_s = statistics.median(res["runs"])
    setup_s = res["first_run_epoch_ms"] / 1000.0 - launched
    if args.trace:
        metrics = per_layer(kind, res, rows, cores)
        trace_file = os.path.join(STATE, "traces", "%s-s%d.json" % (args.workload, args.seed))
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": run_s, "unit": "s"},
            "rows_per_s": {"value": rows / run_s, "unit": "rows/s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    info = {"workload": args.workload, "seed": args.seed, "nproc": cores,
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "session_s": res["session_ready_epoch_ms"] / 1000.0 - launched,
            "setup_s": setup_s, "warmup_s": res["warmup_s"], "runs_s": res["runs"],
            "samples": len(res["runs"]),
            "input_rows": rows, "failed_frac": failed / attempted,
            "output_rows": len(expected) if kind == "hypercube" else None,
            "wall_s": time.time() - started}
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
