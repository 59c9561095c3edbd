"""get_spark starts the driver JVM from a class-data-sharing archive that it
builds once (session.py, "Class-data-sharing archive").

Each JVM here runs in its own Python process whose ``session.ARCHIVE_DIR``
points at a temporary directory, so the checkout's archive is never
touched. The module starts three JVMs: one that writes an archive over a
truncated one planted under its name, one that maps it and one with
another class path. The other tests stop at the launch decision and start
none.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
import zipfile

import pytest
from pyspark.sql import SparkSession

from thisishappening_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, sys
from thisishappening_spark import session
session.ARCHIVE_DIR = sys.argv[1]
spark = session.get_spark(extra_conf=json.loads(sys.argv[2]))
print(spark.range(10).count())
"""


def start(archive_dir, extra_conf: dict[str, str] | None = None) -> subprocess.CompletedProcess:
    """Run SCRIPT in a new Python process. The JVM holds the output pipes
    until it has exited, so this returns after any archive is written."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(archive_dir), json.dumps(extra_conf or {})],
        cwd=archive_dir, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc


def archive_in(directory) -> str:
    (archive,) = [os.path.join(directory, n) for n in os.listdir(directory) if n.endswith(".jsa")]
    return archive


def identity(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns


def plant_truncated(path) -> None:
    """Write a dynamic-archive header whose first region ends past the end
    of the file, as in an archive cut short."""
    header = bytearray(session._HEADER_BYTES)
    struct.pack_into("<I", header, 0, session._DYNAMIC_MAGIC)
    struct.pack_into("<Q8xQ", header, 16 + 24, session._HEADER_BYTES, 1 << 20)
    with open(path, "wb") as f:
        f.write(header + bytes(1 << 10))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """An archive directory after the start that wrote its archive, that
    start's process, the truncated archive planted under the name the
    start chose, and whether that archive read as whole before the start."""
    directory = tmp_path_factory.mktemp("jvm")
    with pytest.MonkeyPatch.context() as mp:
        planted = chosen_archive(mp, directory)
    plant_truncated(planted)
    planted_whole = session._complete(planted)
    return str(directory), start(directory), planted, planted_whole


def test_building_start_keeps_jvm_logs_off_stdout(built):
    """The JVM that writes the archive logs hundreds of CDS warnings as it
    exits; the caller's stdout must hold only what the script printed."""
    directory, proc, *_ = built
    assert proc.stdout == "10\n"
    assert "[warning][cds]" in proc.stderr
    assert session._complete(archive_in(directory))


def test_later_start_maps_the_archive(built, tmp_path):
    """A start after the building one loads Spark's classes from the
    archive, also with a caller's own extraJavaOptions, and writes no new
    archive."""
    directory, *_ = built
    archive = archive_in(directory)
    before = identity(archive)
    log = tmp_path / "classes.log"
    proc = start(directory, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert proc.stdout == "10\n"
    text = log.read_text()
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in text
    assert text.count("source: shared objects file (top)") >= 5000
    assert identity(archive) == before


def test_truncated_archive_is_rebuilt(built):
    """JDK 17 maps a truncated dynamic archive and dies of SIGBUS, so
    get_spark must not hand one to the JVM: it builds a new one instead.
    The module's building start ran over the truncated archive planted
    under its name."""
    directory, proc, planted, planted_whole = built
    assert not planted_whole
    assert proc.stdout == "10\n"
    assert archive_in(directory) == planted
    assert session._complete(planted)


def test_archive_for_another_class_path_falls_back(built, tmp_path):
    """A class path the archive was not built for makes the JVM reject it
    and start normally (-Xshare:auto), with its one warning on stderr; the
    archive is left as it is."""
    directory, *_ = built
    archive = archive_in(directory)
    before = identity(archive)
    jar = tmp_path / "extra.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("extra.txt", "x")
    proc = start(directory, {"spark.driver.extraClassPath": str(jar)})
    assert proc.stdout == "10\n"
    assert "Unable to use shared archive" in proc.stderr
    assert identity(archive) == before


def launch(monkeypatch) -> tuple[str | None, str | None]:
    """Run get_spark without starting a JVM. Return ``SPARK_SUBMIT_OPTS``
    and ``SPARK_CONF_DIR`` as the JVM launch would have seen them."""
    seen = {}

    def get_or_create(builder):
        seen.update((k, os.environ.get(k)) for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR"))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    session.get_spark()
    return seen["SPARK_SUBMIT_OPTS"], seen["SPARK_CONF_DIR"]


def chosen_archive(monkeypatch, archive_dir) -> str:
    """The archive path a start under ``ARCHIVE_DIR=archive_dir`` names,
    found without starting a JVM."""
    monkeypatch.delenv("SPARK_SUBMIT_OPTS", raising=False)
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(archive_dir))
    options, _ = launch(monkeypatch)
    return options.split()[0].split("=", 1)[1]


@pytest.mark.parametrize(
    "conf_files, archived",
    [(["spark-defaults.conf.template"], True),
     (["spark-defaults.conf.template", "spark-defaults.conf"], False)],
)
def test_conf_dir_gate(monkeypatch, tmp_path, conf_files, archived):
    """A conf dir holding only templates is swapped for the archive's empty
    one for the launch; one holding a setting keeps the JVM off the archive,
    so the setting is never hidden. A caller's SPARK_SUBMIT_OPTS is kept,
    and both variables are restored after the launch."""
    conf = tmp_path / "conf"
    conf.mkdir()
    for name in conf_files:
        (conf / name).write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Dcaller=1")
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(tmp_path / "jvm"))
    options, conf_dir = launch(monkeypatch)
    if archived:
        assert options.startswith("-Dcaller=1 -XX:ArchiveClassesAtExit=")
        assert options.endswith(" -Xlog:all=warning:stderr")
        assert conf_dir == str(tmp_path / "jvm" / "conf") and not os.listdir(conf_dir)
    else:
        assert options == "-Dcaller=1" and conf_dir == str(conf)
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert os.environ["SPARK_SUBMIT_OPTS"] == "-Dcaller=1"


def test_garbage_archive_is_replaced(monkeypatch, tmp_path):
    """A file under the archive's name that is not a whole archive is
    removed and the next JVM builds the archive again; it is never mapped."""
    archive = chosen_archive(monkeypatch, tmp_path)
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 20))
    options, _ = launch(monkeypatch)
    assert options.split()[0] == f"-XX:ArchiveClassesAtExit={archive}"
    assert not os.path.exists(archive)


def test_copied_checkout_builds_its_own_archive(monkeypatch, tmp_path):
    """The launch puts ``ARCHIVE_DIR/conf`` on the class path, and the JVM
    rejects an archive built for another class path. A whole archive
    copied from another ``ARCHIVE_DIR`` under the name it had there must
    not be mapped: the start builds one of its own."""
    name = os.path.basename(chosen_archive(monkeypatch, tmp_path / "a"))
    copied = tmp_path / "b" / name
    copied.parent.mkdir()
    # The dynamic-archive magic, then the rest of a header whose 7 region
    # records are zeroed: every region ends inside the file.
    header = struct.pack("<I", session._DYNAMIC_MAGIC).ljust(session._HEADER_BYTES, b"\0")
    copied.write_bytes(header)
    assert session._complete(str(copied))
    monkeypatch.setattr(session, "ARCHIVE_DIR", str(copied.parent))
    options, _ = launch(monkeypatch)
    assert options.split()[0].startswith("-XX:ArchiveClassesAtExit=")
