"""Benchmark for the happening-spark query engine.

Runs one workload of registry queries on ``local[<cores>]`` Spark as a
closed loop with one client: each request is one query built by its
``REGISTRY`` function and collected to the client, and the next request
starts when it returns. A pass runs every query of the workload once, in
an order shuffled by ``--seed``. Every request's rows are checked against
the query's DuckDB oracle rows (or, for the ANN query, recall@3 against an
exact cosine top-3) after its pass has been timed.

    python3 perfbench/run.py --workload tweet_triggers --seed 1 --seconds 15 --trace 0

A run:

1. times its set-up: imports plus ``get_spark()`` until the session is
   ready;
2. generates the input tables and the DuckDB oracle rows (once per
   checkout, from a fixed generator seed) and runs ``WARMUP_PASSES``
   untimed passes, one query per core at a time, the first of them cold;
3. runs ``TIMED_PASSES`` passes, and more while they fit in
   ``--seconds``, and reports the median pass's CPU time.

``pass_cpu_s`` is the CPU time that this process and its descendants (the
Spark JVM and its Python workers) spend on one pass, minus the time of the
JVM's JIT compiler threads. It is the end-to-end time metric because the
wall time of a pass follows the hypervisor: on a shared 4-vCPU machine,
CPU steal moved between 0 and 38 % within an hour, and with it the wall
time of a tweet_triggers pass between 6.6 and 13.9 s; stolen time is not
charged to a process. The JIT compiler threads run beside the requests,
and their time per pass depends on how far the warm-up got (10 to 25 CPU
seconds in the timed passes, more than the requests' own time on
tweet_triggers), so it is reported apart. The JVM is started with a fixed
set of compiler threads so that their time can be told apart. Pass wall
time, JIT time and steal are reported per layer.

With ``--trace 1`` step 3 alternates untraced and traced passes, at least
one of each. Traced passes record spans around every call into the
package's layers and key a Spark event log to requests by job group. The
run then reports per-layer totals per pass, the tracing overhead, and
Spark over DuckDB time per query, with DuckDB run after the Spark session
has stopped; the spans go to ``.perfbench/traces/``. ``catalyst.plan_s``
times ``executedPlan()`` of the query's DataFrame, which ``collect()``
then runs inside its ``exec`` span. Passes still speed up as the JIT
warms, and the untraced pass comes first, so the tracing overhead reads
low and can be negative. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. All
files a run writes stay under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")
DATA_SEED = 42
STEAL_LIMIT = 0.05  # a run whose CPU steal share exceeds this is flagged
WARMUP_PASSES = 1  # untimed passes, one query per core at a time; the first runs every query cold
TIMED_PASSES = 2  # timed passes at least; the result is their median
CLK_TCK = os.sysconf("SC_CLK_TCK")

TWEET_TRIGGERS = [
    # queries/tweets.py: the per-tweet admission and recent-tweets path
    "q_admission_filter", "q_recent_tweets_stack", "q_count_tweets_windows",
    "q_place_type_and_coords", "q_in_or_null_place_type", "q_pk_lookup",
    "q_weighted_activity", "q_status_projection",
    # queries/relational.py over the events stream table
    "q_event_type_stats", "q_setop_click_not_purchase", "q_window_lag_value_delta",
    "q_decay_weights", "q_keep_newest_n", "q_topk_events_by_value",
    "q_mode_event_type_per_user", "q_collect_sorted_ids", "q_time_bucket_hourly",
    "q_sliding_window_counts", "q_json_props_sum", "q_retention_cutoff", "q_local_day",
]
LLM_PIPELINE = [
    "q_exact_dedup_groups", "q_ngram_jaccard_pairs", "q_minhash_lsh_pairs", "q_simhash",
    "q_cosine_topk", "q_ann_lsh_topk", "q_doc_stats", "q_quality_filter",
    "q_lang_id_distribution", "q_doc_fingerprint",
]
# tpch_scan runs by name but is not listed in BENCHMARK.json: a third
# workload does not fit the one-hour budget of comparing two commits over
# 22 runs per workload.
TPCH_SCAN = [
    "q01_pricing_summary", "q03_top_revenue_orders", "q05_nation_revenue",
    "q_semi_join_bigticket", "q_anti_join_dormant_customers", "q_rollup_revenue",
    "q_window_top3_orders_per_customer",
]
WORKLOADS = {"tweet_triggers": TWEET_TRIGGERS, "llm_pipeline": LLM_PIPELINE, "tpch_scan": TPCH_SCAN}
TRACE_ORDER = (False, True)  # traced runs alternate untraced and traced passes


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as f:
        text = f.read()
    return text[text.rindex(")") + 2:].split()


class CpuMeter:
    """CPU seconds used by this process and its descendants, reaped
    children included, and by the JVM's JIT compiler threads."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.compilers = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    self.compilers.append(tid)

    def sample(self) -> tuple[float, float]:
        """(all CPU seconds of the process tree, of which JIT seconds)."""
        children, ticks = {}, {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    fields = _stat(f"/proc/{entry}/stat")
                except OSError:  # the process has ended
                    continue
                children.setdefault(int(fields[1]), []).append(int(entry))
                ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo.extend(children.get(pid, ()))
        jit = sum(sum(int(x) for x in _stat(f"/proc/{self.jvm_pid}/task/{tid}/stat")[11:13])
                  for tid in self.compilers)
        return total / CLK_TCK, jit / CLK_TCK


def prepare_env() -> int:
    """Point Spark and temporary files into a fresh scratch directory, size
    Spark to this machine's cores, and make the package importable.
    Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local"):  # scratch space of the previous run is stale
        shutil.rmtree(os.path.join(CACHE, sub), ignore_errors=True)
        os.makedirs(os.path.join(CACHE, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "TMPDIR": os.path.join(CACHE, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    return cores


def spark_conf(event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # A fixed set of JIT compiler threads, so CpuMeter can tell their time apart.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def timed_session(conf: dict[str, str]):
    """Return (spark, import_s, get_spark_s) for a session built here."""
    start = time.perf_counter()
    from thisishappening_spark.queries import REGISTRY  # noqa: F401  (import cost is set-up)
    from thisishappening_spark.session import get_spark

    imported = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, imported - start, time.perf_counter() - imported


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited:
    the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Checker:
    """Checks a request's rows against its query's DuckDB oracle rows or,
    for the ANN query, recall@3 against the exact cosine top-3."""

    def __init__(self, sf_dir: str, expected: dict):
        self.sf_dir, self.expected = sf_dir, expected
        self.recalls: list[float] = []
        self._exact = None

    def __call__(self, name: str, rows: list) -> str | None:
        import oracle

        if name in self.expected:
            return oracle.mismatch(rows, self.expected[name])
        if name != oracle.ANN_QUERY:
            return "no oracle"
        if self._exact is None:
            from thisishappening_spark.queries.llm import COSINE_QUERY_IDS

            self._exact = oracle.exact_topk(self.sf_dir, COSINE_QUERY_IDS, k=3)
        got = oracle.recall(rows, self._exact)
        self.recalls.append(got)
        return f"recall@3 {got:.3f} < {oracle.ANN_MIN_RECALL}" if got < oracle.ANN_MIN_RECALL else None


def run_request(spark, sf_dir: str, name: str, tracer=None, request_id: str | None = None) -> list:
    from thisishappening_spark.queries import REGISTRY

    if tracer is None:
        return REGISTRY[name].fn(spark, sf_dir).collect()
    sc = spark.sparkContext
    tracer.request = request_id
    sc.setJobGroup(request_id, name)
    try:
        with tracer.span(name, "request"):
            df = REGISTRY[name].fn(spark, sf_dir)
            # collect() runs the plan this computes.
            with tracer.span("catalyst.plan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec", "exec"):
                return df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.request = None


def warmup_pass(spark, sf_dir: str, names: list[str], check, threads: int) -> dict:
    """Untimed pass: every query once, ``threads`` at a time, its rows
    checked. Running queries side by side overlaps their first-run code
    generation and JIT compilation, which dominate the first passes."""

    def request(name: str) -> tuple[list, float]:
        t = time.perf_counter()
        rows = run_request(spark, sf_dir, name)
        return rows, time.perf_counter() - t

    start = time.perf_counter()
    with ThreadPoolExecutor(threads) as pool:
        futures = {name: pool.submit(request, name) for name in names}
    seconds = time.perf_counter() - start
    latencies, errors = [], {}
    for name, future in futures.items():
        try:
            rows, latency = future.result()
            problem = check(name, rows)
        except Exception as e:  # a failed request is counted, not fatal
            latency, problem = seconds, f"raised {e!r}"[:500]
        latencies.append((name, latency))
        if problem:
            errors[name] = problem
    return {"seconds": seconds, "latencies": latencies, "errors": errors}


def run_pass(spark, sf_dir: str, names: list[str], rng, check, meter: CpuMeter, tracer=None,
             tag: str = "") -> dict:
    """One pass over the workload: its wall time, CPU time (JIT excluded)
    and JIT time, per-request latencies, failed or wrong requests, and
    the CPU steal share while it ran. Rows are checked after the pass's
    CPU time is taken."""
    cpu0, (tree0, jit0), start = cpu_times(), meter.sample(), time.perf_counter()
    latencies, results, errors = [], [], {}
    for i, name in enumerate(rng.sample(names, len(names))):
        t = time.perf_counter()
        try:
            results.append((name, run_request(spark, sf_dir, name, tracer, f"{tag}{i}:{name}")))
        except Exception as e:  # a failed request is counted, not fatal
            errors[name] = f"raised {e!r}"[:500]
        latencies.append((name, time.perf_counter() - t))
    seconds = time.perf_counter() - start
    tree1, jit1 = meter.sample()
    steal = steal_share(cpu0, cpu_times())
    for name, rows in results:
        problem = check(name, rows)
        if problem:
            errors[name] = problem
    return {
        "seconds": seconds,
        "cpu_s": (tree1 - tree0) - (jit1 - jit0),
        "jit_s": jit1 - jit0,
        "latencies": latencies,
        "errors": errors,
        "steal": steal,
    }


def layer_metrics(tracer, log, n_passes: int) -> dict[str, float]:
    """Per-layer totals per traced pass, from the spans and the event log.
    Build times are self times, so the layers' build times add up to the
    time spent building requests."""
    from tracing import OPERATORS

    spans = tracer.spans
    own = tracer.self_times()
    by_id = {s["id"]: s for s in spans}

    def self_s(layer: str) -> float:
        return sum(own[s["id"]] for s in spans if s["layer"] == layer) / n_passes

    loads = [s for s in spans if s.get("outer")]
    m = {
        "queries.build_s": self_s("queries"),
        "sources.load_calls": len(loads) / n_passes,
        "sources.load_s": self_s("sources"),
        "sources.relation_cache_hit_ratio": sum(s["cache_hit"] for s in loads) / len(loads) if loads else 0.0,
        "plans.build_s": self_s("plans"),
        "functions.build_s": self_s("functions"),
        "catalyst.plan_s": self_s("catalyst"),
    }
    exec_s = {s["request"]: s["end"] - s["start"] for s in spans if s["layer"] == "exec"}
    for op in OPERATORS:
        layer = f"operators.{op}"
        calls = [s for s in spans if s["layer"] == layer]
        outer = [s for s in calls if by_id[s["parent"]]["layer"] != layer]
        m[f"{layer}.calls"] = len(outer) / n_passes
        m[f"{layer}.build_s"] = self_s(layer)
        m[f"{layer}.exec_s"] = sum(exec_s[r] for r in {s["request"] for s in calls}) / n_passes
    t = log.totals({s["request"] for s in spans if s["layer"] == "request"})
    for key in ("jobs", "stages", "tasks", "failed_tasks", "scheduler_delay_s", "run_s", "cpu_s",
                "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{key}"] = t[key] / n_passes
    m["exec.peak_execution_memory_bytes"] = t["peak_execution_memory_bytes"]
    m["exec.single_task_stage_ratio"] = t["single_task_stages"] / t["stages"] if t["stages"] else 0.0
    for key in ("scan_rows", "scan_bytes", "scan_tasks"):
        m[f"sources.{key}"] = t[key] / n_passes
    return m


def unit(metric: str) -> str:
    """Unit of a per-layer metric, read from its name's suffix."""
    for suffix, name in (("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB"), ("_ratio", "ratio"),
                         ("_frac", "ratio"), ("_rate", "ratio"), ("x_duckdb", "ratio")):
        if metric.endswith(suffix):
            return name
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True, help="shuffles the request order of every pass")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    args = ap.parse_args()

    cores = prepare_env()
    run_id = f"{args.workload}-seed{args.seed}"
    log_dir = os.path.join(CACHE, "eventlog", f"{run_id}-{os.getpid()}") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)

    # 1. Set-up, timed before anything else is imported.
    spark, import_s, get_spark_s = timed_session(spark_conf(log_dir))
    spark.sparkContext.setLogLevel("ERROR")

    import datagen
    import oracle
    from thisishappening_spark.queries import REGISTRY

    # 2. Inputs and the untimed warm-up passes.
    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    sf_dir = datagen.ensure_tables(os.path.join(CACHE, "data"), args.sf, DATA_SEED)
    sqls = {n: REGISTRY[n].oracle for n in names if REGISTRY[n].oracle is not None}
    check = Checker(sf_dir, oracle.expected_rows(sf_dir, sqls))
    meter = CpuMeter(jvm_pid(spark))
    warm = [warmup_pass(spark, sf_dir, names, check, cores) for _ in range(WARMUP_PASSES)]
    warmup_s = sum(p["seconds"] for p in warm)

    # 3. Timed passes.
    passes: list[dict] = []
    traced: list[dict] = []
    if args.trace:
        from thisishappening_spark.sources import tables
        from tracing import EventLog, Tracer

        def cache_size() -> int:
            cache = getattr(tables, "_RELATION_CACHE", None)
            return len(cache.get(spark, {})) if cache is not None else -1

        tracer = Tracer(cache_size)
        epoch_offset = time.time() - time.perf_counter()
    cycle = len(TRACE_ORDER) if args.trace else 1
    # After TIMED_PASSES, a pass starts only if, at the mean pass time so
    # far, it ends within --seconds, so the number of timed passes does not
    # hinge on a pass ending just before or just after the deadline.
    start = time.perf_counter()
    while (n := len(passes) + len(traced)) < max(TIMED_PASSES, cycle) or n % cycle \
            or (time.perf_counter() - start) * (n + 1) / n <= args.seconds:
        if args.trace and TRACE_ORDER[n % cycle]:
            tracer.install(REGISTRY)
            try:
                traced.append(run_pass(spark, sf_dir, names, rng, check, meter, tracer, tag=f"t{len(traced)}."))
            finally:
                tracer.uninstall()
        else:
            passes.append(run_pass(spark, sf_dir, names, rng, check, meter))
    rss_mb = jvm_peak_rss_mb(spark)
    stop_session(spark)

    # Report.
    measured = warm + passes + traced
    failures = {}
    for p in measured:
        failures.update(p["errors"])
    for name, problem in sorted(failures.items()):
        print(f"FAILED {name}: {problem}")
    attempted = sum(len(p["latencies"]) for p in measured)
    failed = sum(len(p["errors"]) for p in measured)
    steal = statistics.fmean(p["steal"] for p in passes + traced)
    if steal > STEAL_LIMIT:
        print(f"WARNING: CPU steal {steal:.1%} exceeds {STEAL_LIMIT:.0%}; wall times are suspect")

    pass_cpu = statistics.median(p["cpu_s"] for p in passes)
    batch = statistics.median(p["seconds"] for p in passes)
    lat = [s for p in passes for _, s in p["latencies"]]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cores": cores,
        "import_s": import_s, "get_spark_s": get_spark_s, "warmup_s": warmup_s,
        "warmup_pass_s": [p["seconds"] for p in warm],
        "pass_s": [p["seconds"] for p in passes], "pass_cpu_s": [p["cpu_s"] for p in passes],
        "pass_jit_s": [p["jit_s"] for p in passes], "traced_pass_s": [p["seconds"] for p in traced],
        "requests": len(lat), "request_p50_s": statistics.median(lat), "steal_frac": steal,
        "ann_recall_at_3": check.recalls,
    }))

    if not args.trace:
        metrics = {
            "setup_s": (import_s + get_spark_s, "s"),
            "pass_cpu_s": (pass_cpu, "s"),
            "success_rate": ((attempted - failed) / attempted, "ratio"),
        }
    else:
        (log_file,) = os.listdir(log_dir)
        log = EventLog(os.path.join(log_dir, log_file))
        shutil.rmtree(log_dir)
        groups = {s["request"] for s in tracer.spans if s["layer"] == "request"}
        tracer.write(os.path.join(CACHE, "traces", f"{run_id}.json"), log.stage_spans(groups), epoch_offset)
        traced_batch = statistics.median(p["seconds"] for p in traced)
        print(f"tracing overhead: {traced_batch - batch:+.3f} s per pass "
              f"({traced_batch:.3f} s traced, {batch:.3f} s untraced)")

        duckdb_s = oracle.duckdb_seconds(sf_dir, sqls, cores, os.path.join(CACHE, "tmp"))
        spark_s = {n: statistics.median(s for p in passes for q, s in p["latencies"] if q == n) for n in names}
        print(f"{'query':36s} {'spark_s':>9s} {'duckdb_s':>9s} {'x_duckdb':>9s}")
        for n in sorted(names):
            duck = f"{duckdb_s[n]:9.4f} {spark_s[n] / duckdb_s[n]:9.2f}" if n in duckdb_s else ""
            print(f"{n:36s} {spark_s[n]:9.4f} {duck}")
        duck_total = sum(duckdb_s.values())
        x_duckdb = sum(spark_s[n] for n in duckdb_s) / duck_total if duck_total else 0.0
        layers = layer_metrics(tracer, log, len(traced))
        layers.update({
            "host.jvm_peak_rss_mb": rss_mb,
            "host.steal_frac": steal,
            "session.get_spark_s": get_spark_s,
            "bench.warmup_s": warmup_s,
            "bench.pass_wall_s": batch,
            "bench.traced_pass_wall_s": traced_batch,
            "bench.trace_overhead_s": traced_batch - batch,
            "bench.jit_cpu_s": statistics.median(p["jit_s"] for p in passes),
            "bench.error_rate": failed / attempted,
            "duckdb.oracle_s": duck_total,
            "duckdb.x_duckdb": x_duckdb,
        })
        metrics = {k: (v, unit(k)) for k, v in layers.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
