"""get_spark's settings must name configs Spark defines: Spark accepts any
key into a session's conf, so a misspelled or invented one silently does
nothing."""

from __future__ import annotations

from pyspark.sql import SparkSession

from thisishappening_spark.session import get_spark


def test_get_spark_sets_only_defined_configs(spark, monkeypatch):
    """Every key get_spark passes to ``config()`` (appName and master have
    their own builder setters) is a ConfigEntry Spark registered."""
    keys = []

    def record(builder, key, value):
        keys.append(key)
        return builder

    monkeypatch.setattr(SparkSession.Builder, "config", record)
    for setter in ("appName", "master"):
        monkeypatch.setattr(SparkSession.Builder, setter, lambda builder, value: builder)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda builder: None)
    get_spark()
    assert "spark.sql.codegen.cache.maxEntries" in keys  # the recording saw the builder
    find = spark._jvm.org.apache.spark.internal.config.ConfigEntry.findEntry
    undefined = [k for k in keys if find(k) is None]
    assert not undefined, f"get_spark sets configs Spark does not define: {undefined}"
