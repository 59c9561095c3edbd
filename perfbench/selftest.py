"""Self-test of the benchmark at a small scale factor.

    python3 perfbench/selftest.py

Checks that the three workloads cover every registry query exactly once;
that one run of each workload at sf0.001, untraced and traced, ends with
exit code 0, no failed request, and every metric BENCHMARK.json names for
that mode with its unit; and that a deliberately wrong oracle is reported
as a failure. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run

SF = 0.001


def check_coverage() -> None:
    from thisishappening_spark.queries import REGISTRY

    covered = [n for names in run.WORKLOADS.values() for n in names]
    if sorted(covered) != sorted(REGISTRY):
        raise SystemExit(f"workloads cover {sorted(covered)}, registry has {sorted(REGISTRY)}")


def check_runs(spec: dict) -> None:
    for workload in run.WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.abspath(run.__file__), "--workload", workload, "--seed", "1",
                 "--seconds", "0", "--trace", str(trace), "--sf", str(SF)],
                cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=300,
            )
            result = json.loads(out.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if out.returncode or result["failed"] or not result["correct"]:
                problems.append(f"exit {out.returncode}, {result['failed']} failed")
            if got != want:
                problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
            if not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                problems.append("a metric value is not a number")
            print(f"{workload} trace={trace}: {'ok' if not problems else '; '.join(problems)}")
            if problems:
                raise SystemExit(1)


def check_wrong_oracle() -> None:
    """A doubled-rows oracle and an off-by-one oracle must both fail."""
    import datagen
    import oracle
    from thisishappening_spark.queries import REGISTRY

    run.prepare_env()
    spark, _, _ = run.timed_session(run.spark_conf(None))
    name = "q01_pricing_summary"
    spec = REGISTRY[name]
    sql = spec.oracle  # the doubled and off-by-one oracles wrap it
    try:
        sf_dir = datagen.ensure_tables(os.path.join(run.CACHE, "data"), SF, run.DATA_SEED)
        wrong = {
            "row count": f"SELECT * FROM ({sql}) a UNION ALL SELECT * FROM ({sql}) b",
            "!=": f"SELECT * REPLACE (count_order + 1 AS count_order) FROM ({sql}) t",
        }
        for expect, bad_sql in wrong.items():
            spec.oracle = bad_sql
            expected = oracle.expected_rows(sf_dir, {name: bad_sql})
            failures = run.warmup_pass(spark, sf_dir, [name], run.Checker(sf_dir, expected), 1)["errors"]
            ok = expect in failures.get(name, "")
            print(f"wrong oracle ({expect}): {'reported' if ok else 'NOT reported'}: {failures}")
            if not ok:
                raise SystemExit(1)
    finally:
        spec.oracle = sql
        run.stop_session(spark)


def main() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run.prepare_env()
    check_coverage()
    check_wrong_oracle()
    check_runs(spec)
    print("selftest passed")


if __name__ == "__main__":
    main()
