"""SparkSession factory.

``get_spark`` sets only what changes a plan or a measured number, one
reason each; everything else is Spark 4.1.2's default, which already
turns on AQE (partition coalescing, skew-join splitting, join-strategy
switches at run time) and parquet filter pushdown. ``extra_conf``
overrides any setting here, the master and shuffle partitions included.

- Master ``local[$SPARK_GRAFT_CPUS]`` (default 32), and as many shuffle
  partitions as cores instead of Spark's 200: AQE coalesces partitions
  only after a shuffle has written them, so the initial count is how
  many blocks every map task writes. A one-row-group ``events`` table
  plans no shuffle at all: ``sources/tables.py`` loads it as one
  partition, so this setting does not reach the per-tweet requests that
  read it.
- UTC session timezone: the reference stores naive-UTC timestamps and
  re-attaches tzinfo on read (reference data_base.py:141); we normalize at
  the session level instead, and ``sources/tables.py`` relies on it to
  cast ``TIMESTAMP_NTZ`` to ``TIMESTAMP`` without moving a value.
- Driver memory ``$SPARK_GRAFT_DRIVER_MEM`` (default 16g): in local mode
  every task runs inside the driver JVM, so this heap is all the
  execution memory there is; Spark's default is 1g.
- No web UI: a local session needs no Jetty server or port.
- Generated-code cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark's whole-stage codegen compiles each
  generated Java source once with Janino and caches the class in an LRU
  keyed by that source, 100 entries by default. One pass over the 38
  registry queries generates about 400 distinct classes (measured on a
  4-vCPU host, ``local[4]``: 394 at sf0.001, 398 at sf0.1), so a pass
  that cycles through the queries evicts every class before its next use
  and recompiles all of them on every request. Sized at 2000 (about 5x the
  working set), a repeat pass compiles nothing and reuses classes the JVM
  has already JIT-compiled; ``tests/test_codegen_reuse.py`` guards it.
  The cache is keyed by source text, so results cannot change. It is a
  static conf: ``getOrCreate()`` ignores it on an already-running session,
  and the cache is JVM-wide, so a vanilla session built elsewhere (such as
  one a caller hands to ``__spark_entry__``) keeps Spark's 100 entries.

Left at Spark's default on purpose: Arrow conversion
(``spark.sql.execution.arrow.pyspark.enabled`` acts only on ``toPandas``
and on ``createDataFrame`` from pandas, which nothing here calls; the
Arrow UDF batches through Arrow regardless) and
``spark.sql.legacy.parquet.nanosAsLong``: ``sources/tables.py`` reads a
nanos ``ts`` as BIGINT through a user schema taken from the parquet
footer, which needs no setting and changes no session it reads with.

Class-data-sharing archive
--------------------------
Most of a cold ``get_spark`` is the driver JVM loading, parsing and
verifying Spark's ~11k classes. ``get_spark`` starts the driver JVM from a
JDK dynamic class-data-sharing archive (JEP 310/350), a memory-mapped
image of those classes' parsed and verified metadata. It holds class
metadata only, never data, plans or results, so no query can read
anything different through it.

- Where: ``ARCHIVE_DIR`` (``.jvm/`` at the repository root, git-ignored),
  one file named by a hash of the path, size and mtime of every
  ``$SPARK_HOME/jars/*.jar`` and of ``$JAVA_HOME/lib/modules``, and of the
  path of ``ARCHIVE_DIR/conf``, which the launch puts on the class path.
  The JVM rejects an archive built for another class path, so a checkout
  copied or moved with its ``.jvm/`` builds an archive of its own once.
- When it is built: a start that finds no whole archive under the
  current name removes every archive in ``ARCHIVE_DIR`` and adds
  ``-XX:ArchiveClassesAtExit``, so the JVM writes an archive of every class
  it loaded as it exits. A JDK or Spark upgrade changes the name and so
  builds a fresh archive. Other starts add ``-XX:SharedArchiveFile``. JDK
  17 has no ``-XX:+AutoCreateSharedArchive`` (JDK 19), hence the two kinds
  of start, and the archive is used on JDK 17 only.
- A bad archive: ``_complete`` reads the archive's header and treats a file
  without the archive magic, or shorter than its regions, as missing, so
  it is rebuilt: JDK 17 maps a truncated dynamic archive and crashes. A
  whole archive that the JVM still rejects (built for another class path
  or JVM build) gives a normal start under the default ``-Xshare:auto``.
- Conf dir: CDS refuses a non-empty directory on the class path, and the
  launcher puts Spark's conf dir there. When that directory holds nothing
  but ``*.template`` files (as ``$SPARK_HOME/conf`` ships), the driver is
  launched with ``SPARK_CONF_DIR`` pointing at an empty ``ARCHIVE_DIR/conf``,
  which Spark reads the same way. Otherwise, or with ``HADOOP_CONF_DIR`` or
  ``YARN_CONF_DIR`` set (also on the class path), or with ``ARCHIVE_DIR``
  not writable, the driver starts without an archive, so a user's
  ``spark-defaults.conf`` is never hidden.
- Cost and gain (``perfbench/run.py``, 4-vCPU host): the building run's
  set-up took 7.1-9.0 s, and its JVM 7.8-12.6 s to exit while it wrote a
  168 MB archive. From the archive, set-up took 2.6-2.9 s instead of
  5.1-5.3 s (medians of 10 runs per workload).
- The options go in ``SPARK_SUBMIT_OPTS`` for the launch, which the
  launcher adds to the driver JVM's command (not to its own) ahead of
  ``spark.driver.defaultJavaOptions`` and ``extraJavaOptions``, so a
  caller's Java options still apply. They also send the JVM's warnings to
  stderr: a building JVM logs hundreds of CDS warnings as it exits, and
  the JVM's stdout is the caller's.
- Only the driver JVM is archived. spark-submit's launcher JVM
  (``org.apache.spark.launcher.Main``) took 121 ms per start, and 84 ms
  from an archive of its own.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import struct

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CODEGEN_CACHE_ENTRIES = 2000
ARCHIVE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".jvm")
_DYNAMIC_MAGIC = 0xF00BABA8  # CDS_DYNAMIC_ARCHIVE_MAGIC, JDK 17 include/cds.h
_HEADER_BYTES = 16 + 72 * 7  # magic, crc, version, then 7 region records


def get_spark(
    app_name: str = "thisishappening-spark", extra_conf: dict[str, str] | None = None
) -> SparkSession:
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    launch_env = _archive_env()
    saved = {k: os.environ.get(k) for k in launch_env}
    os.environ.update(launch_env)  # pyspark launches the JVM with os.environ
    try:
        return builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                del os.environ[k]
            else:
                os.environ[k] = v


def _archive_env() -> dict[str, str]:
    """Return the environment to launch the driver JVM with from its
    class-data-sharing archive, or {} to launch it without one (module
    docstring, "Class-data-sharing archive")."""
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return {}  # the launcher puts these on the class path too
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(
        not name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return {}
    java = shutil.which("java")  # what spark-class runs when JAVA_HOME is unset
    java_home = os.environ.get("JAVA_HOME") or (
        java and os.path.dirname(os.path.dirname(os.path.realpath(java)))
    )
    if not java_home:
        return {}
    digest = hashlib.sha256()
    try:
        with open(os.path.join(java_home, "release")) as f:
            if 'JAVA_VERSION="17.' not in f.read():
                return {}  # _complete reads JDK 17's archive header
        for path in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))) + [
            os.path.join(java_home, "lib", "modules")
        ]:
            st = os.stat(path)
            digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        empty_conf = os.path.join(ARCHIVE_DIR, "conf")
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return {}
    digest.update(f"{empty_conf}\n".encode())
    if not os.access(ARCHIVE_DIR, os.W_OK):
        return {}
    archive = os.path.join(ARCHIVE_DIR, f"spark-{digest.hexdigest()[:16]}.jsa")
    if _complete(archive):
        share = f"-XX:SharedArchiveFile={archive}"
    else:
        for old in glob.glob(os.path.join(ARCHIVE_DIR, "*.jsa")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(old)
        share = f"-XX:ArchiveClassesAtExit={archive}"
    options = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {share} -Xlog:disable -Xlog:all=warning:stderr"
    return {"SPARK_CONF_DIR": empty_conf, "SPARK_SUBMIT_OPTS": options.strip()}


def _complete(archive: str) -> bool:
    """Whether ``archive`` is a whole JDK 17 dynamic archive: its header
    has the dynamic-archive magic, and each region the header lists ends
    inside the file. The JVM rejects a bad magic itself, but JDK 17 maps a
    truncated dynamic archive and dies of SIGBUS (17.0.20). A JVM writes
    the header last, so an archive it is still writing fails this too."""
    try:
        with open(archive, "rb") as f:
            header = f.read(_HEADER_BYTES)
            size = os.fstat(f.fileno()).st_size
    except FileNotFoundError:
        return False
    if len(header) < _HEADER_BYTES or struct.unpack_from("<I", header)[0] != _DYNAMIC_MAGIC:
        return False
    # CDSFileMapRegion (include/cds.h): six ints, then size_t _file_offset,
    # _mapping_offset and _used, ...; 72 bytes each, from byte 16.
    regions = (struct.unpack_from("<Q8xQ", header, 16 + 72 * i + 24) for i in range(7))
    return all(offset + used <= size for offset, used in regions)
