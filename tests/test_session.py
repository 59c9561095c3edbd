"""get_spark's settings must each change something: Spark accepts any key
into a session's conf, so a misspelled or invented one silently does
nothing, and a value equal to Spark's default does nothing either."""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from thisishappening_spark.session import get_spark


def recorded_configs(monkeypatch) -> dict[str, str]:
    """Every key and value get_spark passes to ``config()`` (appName and
    master have their own builder setters), without starting a session."""
    conf = {}

    def record(builder, key, value):
        conf[key] = value
        return builder

    monkeypatch.setattr(SparkSession.Builder, "config", record)
    for setter in ("appName", "master"):
        monkeypatch.setattr(SparkSession.Builder, setter, lambda builder, value: builder)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda builder: None)
    get_spark()
    assert "spark.sql.codegen.cache.maxEntries" in conf  # the recording saw the builder
    return conf


def test_get_spark_sets_only_defined_configs(spark, monkeypatch):
    """Every key get_spark passes to ``config()`` is a ConfigEntry Spark
    registered."""
    keys = recorded_configs(monkeypatch)
    find = spark._jvm.org.apache.spark.internal.config.ConfigEntry.findEntry
    undefined = [k for k in keys if find(k) is None]
    assert not undefined, f"get_spark sets configs Spark does not define: {undefined}"


def normalized(value: str):
    """A byte string ("64MB", "256m", "67108864") as bytes, anything else
    as lower-case text."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)i?b?", str(value).strip().lower())
    if m is None:
        return str(value).strip().lower()
    return int(m[1]) << (10 * "_kmgtp".index(m[2] or "_"))


def spark_default(spark, key: str) -> str | None:
    """Spark's default for ``key`` as text, following fallback entries; None
    for a default computed from the host (the session timezone), which a
    setting pins rather than restates."""
    entry = spark._jvm.org.apache.spark.internal.config.ConfigEntry.findEntry(key)
    while entry.getClass().getSimpleName() == "FallbackConfigEntry":
        entry = entry.fallback()
    if entry.getClass().getSimpleName() == "ConfigEntryWithDefaultFunction":
        return None
    return entry.defaultValueString()


def test_get_spark_restates_no_spark_default(spark, monkeypatch):
    """No value get_spark passes to ``config()`` is the one Spark would use
    without it."""
    conf = recorded_configs(monkeypatch)
    defaults = {k: spark_default(spark, k) for k in conf}
    restated = [
        k for k, v in conf.items()
        if defaults[k] is not None and normalized(v) == normalized(defaults[k])
    ]
    assert not restated, f"get_spark restates Spark defaults: {restated}"
