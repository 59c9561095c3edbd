from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

CODEGEN_TOTALS = pytest.StashKey[tuple[int, float]]()


@pytest.fixture(scope="session")
def spark(request):
    from thisishappening_spark.session import get_spark

    spark = get_spark(app_name="tih-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    # Janino compilations this run: a count far above the distinct plans
    # the tests build means the generated-code cache is thrashing.
    jvm = spark._jvm
    request.config.stash[CODEGEN_TOTALS] = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e9,
    )
    spark.stop()


def pytest_terminal_summary(terminalreporter, config):
    if CODEGEN_TOTALS in config.stash:
        n, seconds = config.stash[CODEGEN_TOTALS]
        terminalreporter.write_line(f"codegen: {n} Janino compilations, {seconds:.1f} s compiling")


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
