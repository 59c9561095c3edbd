"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per-query timing includes plan construction + execution (noop write to
force full evaluation without driver-side result transfer skew). Each
query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the
MEDIAN — single-shot numbers on a shared box historically spread 41–249 s
on identical code; the median absorbs GC pauses, JIT warm-up drift, and
noisy-neighbor interference. A warmup query first amortizes JVM/codegen
startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from thisishappening_spark.queries import REGISTRY
from thisishappening_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

BENCH_QUERIES = [name for name in sorted(REGISTRY)]


def main() -> None:
    spark = get_spark(app_name="tih-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: force JVM init, parquet footer reads, codegen compilation.
    # Warm up through the same noop sink the timed runs use: .count() lets
    # the optimizer prune the aggregate's value columns, so it would not
    # compile the generated code the timed runs execute.
    REGISTRY["q01_pricing_summary"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        samples = []
        for _ in range(N_RUNS):
            start = time.perf_counter()
            df = REGISTRY[name].fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - start)
        timings[name] = round(statistics.median(samples), 4)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
