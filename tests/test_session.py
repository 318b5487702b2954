"""The driver JVM's class-data archive (``session.get_spark``): recorded by
the first JVM, mapped by the next, and left out wherever it must not
change the launch. JVM cases run in a subprocess with their own
``XDG_CACHE_HOME``, because this process's JVM is already running."""

import json
import os
import struct
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

from anything2rdf_spark import session

REPO = Path(__file__).resolve().parents[1]

# One session start in a fresh JVM: report what the launch did, run a
# query, stop, and wait for the JVM to exit (argv[1] == "kill": kill it
# instead, so it records nothing).
SESSION = r"""
import json, os, sys
from anything2rdf_spark.session import get_spark, stop_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/environ", "rb") as f:
    jvm_env = dict(kv.split("=", 1) for kv in f.read().decode().split("\0") if "=" in kv)
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")})
with open(f"/proc/{pid}/cmdline") as f:
    cmdline = f.read().split("\0")
out = {
    "archive_flags": [a for a in cmdline if a.startswith(("-XX:SharedArchive", "-XX:ArchiveClasses"))],
    "maps": maps,
    "jvm_conf_dir": jvm_env.get("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "java_opts": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"),
    "probe": spark.sparkContext.getConf().get("spark.a2r.probe", None),
    "sum": spark.range(1000).selectExpr("sum(id)").first()[0],
}
gateway = spark.sparkContext._gateway
proc = gateway.proc
stop_spark(spark)
gateway.shutdown()
if sys.argv[1] == "kill":
    proc.kill()
proc.stdin.close()
proc.wait(timeout=120)
print(json.dumps(out))
"""


def _templates_only(tmp_path) -> Path:
    conf = tmp_path / "spark-conf"
    conf.mkdir(exist_ok=True)
    (conf / "spark-defaults.conf.template").write_text("spark.a2r.probe  7\n")
    return conf


def _launch(tmp_path, how="exit", conf_dir=None, memory="1g"):
    run_env = {k: v for k, v in os.environ.items() if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR")}
    run_env |= {
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "SPARK_CONF_DIR": str(conf_dir or _templates_only(tmp_path)),
        "SPARK_DRIVER_MEMORY": memory,
        "PYTHONPATH": str(REPO),
    }
    return subprocess.Popen([sys.executable, "-c", SESSION, how], cwd=tmp_path, env=run_env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _report(p):
    stdout, stderr = p.communicate(timeout=240)
    assert p.returncode == 0, stderr[-3000:]
    out = json.loads(stdout.strip().splitlines()[-1])
    assert out["sum"] == 499500
    return out, stdout + stderr


def _session(tmp_path, **kw):
    return _report(_launch(tmp_path, **kw))


def _flag_path(out, flag):
    (arg,) = out["archive_flags"]
    assert arg.startswith(f"-XX:{flag}=")
    return Path(arg.split("=", 1)[1])


def _header(version, regions):
    head = bytearray(16 + session._REGIONS * session._REGION_BYTES)
    struct.pack_into("<III", head, 0, session._MAGIC, 0, version)
    for r, (offset, used) in enumerate(regions):
        struct.pack_into("<QQQ", head, 16 + r * session._REGION_BYTES + 24, offset, 0, used)
    return bytes(head)


@pytest.fixture
def launch_env(monkeypatch, tmp_path):
    """This process's environment as a launch with an archive sees it: a
    cache under ``tmp_path``, a config directory of templates only."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(_templates_only(tmp_path)))
    for var in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """Two sessions that start at once on a cache that holds only an
    archive of another key, then, after both JVMs exit, one with another
    heap size: (the three reports, the first two's output, the root)."""
    tmp = tmp_path_factory.mktemp("recorded")
    cache = tmp / "cache" / "anything2rdf_spark"
    cache.mkdir(parents=True)
    (cache / "stale.jsa").write_bytes(b"an archive of an older key")
    recorders = [_launch(tmp) for _ in range(2)]
    (first, out1), (second, out2) = (_report(p) for p in recorders)
    third, _ = _session(tmp, memory="2g")
    return (first, second, third), out1 + out2, tmp


def test_class_archive_lifecycle(recorded):
    (first, second, third), output, tmp = recorded
    cache = tmp / "cache" / "anything2rdf_spark"
    # both first JVMs record at exit, quietly, each to a name of its own
    parts = [_flag_path(out, "ArchiveClassesAtExit") for out in (first, second)]
    assert parts[0] != parts[1]
    assert {p.parent for p in parts} == {cache} and {p.suffix for p in parts} == {".part"}
    assert "[cds" not in output  # the JVM logs to stdout
    # the launches saw the empty config directory; the caller's is restored
    for out in (first, second):
        assert out["jvm_conf_dir"] == str(cache / "conf")
        assert out["conf_dir"] == str(tmp / "spark-conf")
        assert out["probe"] is None
    assert not any(cache.joinpath("conf").iterdir())

    # the next JVM, with another heap size, maps one of the recordings
    # under the key's name; the other recording and the stale archive are gone
    archive = _flag_path(third, "SharedArchiveFile")
    assert archive.name == parts[0].name.split(".")[0] + ".jsa"
    assert str(archive) in third["maps"]
    assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", archive.name])
    assert session._archive_whole(str(archive)) is True


def test_truncated_archive_falls_back(recorded, tmp_path):
    """A truncated archive is not mapped (the JDK 17 VM dies of SIGBUS on
    one): the launch deletes it and records anew, and the session works."""
    whole = _flag_path(recorded[0][2], "SharedArchiveFile")
    archive = tmp_path / "cache" / "anything2rdf_spark" / whole.name
    archive.parent.mkdir(parents=True)
    archive.write_bytes(whole.read_bytes()[: whole.stat().st_size // 2])
    out, _ = _session(tmp_path, how="kill")
    part = _flag_path(out, "ArchiveClassesAtExit")
    assert part.name.startswith(archive.stem + ".") and part.suffix == ".part"
    assert not archive.exists()
    assert str(archive) not in out["maps"]


def test_archive_header_check(tmp_path):
    path = tmp_path / "a.jsa"
    assert session._archive_whole(str(path)) is False  # missing
    path.write_bytes(os.urandom(4096))
    assert session._archive_whole(str(path)) is False  # garbage
    path.write_bytes(bytes(4096))
    assert session._archive_whole(str(path)) is False  # header not yet written

    regions = [(4096, 8000), (12288, 4000)]  # ends at 16288
    path.write_bytes(_header(session._VERSION, regions).ljust(16288, b"\0"))
    assert session._archive_whole(str(path)) is True
    path.write_bytes(_header(session._VERSION, regions).ljust(16287, b"\0"))
    assert session._archive_whole(str(path)) is False  # truncated
    path.write_bytes(_header(session._VERSION + 2, regions).ljust(16288, b"\0"))
    assert session._archive_whole(str(path)) is None  # unknown layout


def test_unknown_archive_layout_is_left_alone(launch_env, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    path = Path(session._archive_path("1g", "-XX:+UseParallelGC"))
    path.parent.mkdir(parents=True)
    head = struct.pack("<III", session._MAGIC, 0, session._VERSION + 2)
    path.write_bytes(head.ljust(1 << 16, b"\1"))
    assert session._archive_flags("1g", "-XX:+UseParallelGC") is None
    assert path.exists()
    path.unlink()
    assert session._archive_flags("1g", "-XX:+UseParallelGC").startswith(
        f"-XX:ArchiveClassesAtExit={path.with_suffix('')}.")


def test_archive_key_shares_heaps_with_compressed_oops(launch_env):
    opts = "-XX:+UseParallelGC"
    path = session._archive_path("1g", opts)
    assert path == session._archive_path("2g", opts) == session._archive_path("11520m", opts)
    assert path != session._archive_path("32g", opts) == session._archive_path("40g", opts)
    assert path != session._archive_path("2g", opts + " -Xss4m")


def test_recording_keeps_a_recording_in_progress(launch_env, monkeypatch, tmp_path):
    """A JVM still writing its ``.part`` (no header yet) keeps it while a
    second launch records to its own name; stale ``.part`` files and other
    keys' files go; a finished ``.part`` becomes the key's archive."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    opts = "-XX:+UseParallelGC"
    path = Path(session._archive_path("1g", opts))
    path.parent.mkdir(parents=True)
    writing, stale = (path.parent / f"{path.stem}.{n}.part" for n in ("1.a", "2.b"))
    others = [path.parent / "other.jsa", path.parent / "other.3.c.part"]
    for f in (writing, stale, *others):
        f.write_bytes(bytes(1 << 16))
    os.utime(stale, (0, 0))
    flags = session._archive_flags("1g", opts)
    part = Path(flags.split()[0].split("=", 1)[1])
    assert part.name.startswith(path.stem + ".") and part != writing
    assert sorted(path.parent.glob("*.*")) == [writing]

    # the writing JVM finishes: the next launch maps its archive
    writing.write_bytes(_header(session._VERSION, [(4096, 8000)]).ljust(12096, b"\0"))
    assert session._archive_flags("1g", opts) == f"-XX:SharedArchiveFile={path} -Xlog:cds*=off"
    assert sorted(path.parent.glob("*.*")) == [path]


def test_real_conf_dir_launches_without_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.a2r.probe  7\n")
    out, _ = _session(tmp_path, how="kill", conf_dir=conf)
    assert out["archive_flags"] == []
    assert "Archive" not in out["java_opts"]
    assert out["jvm_conf_dir"] == out["conf_dir"] == str(conf)
    assert out["probe"] == "7"
    assert not list((tmp_path / "cache").glob("**/*.jsa"))


def test_no_launch_changes_no_environment(spark, launch_env, monkeypatch, tmp_path):
    before = dict(os.environ)
    # a session is already active: the same session, nothing changed
    assert session.get_spark(master="local[4]", shuffle_partitions=4) is spark
    assert dict(os.environ) == before
    assert session._archive_flags("1g", "-XX:+UseParallelGC") is None
    # no gateway, but PYSPARK_GATEWAY_PORT is set (as under spark-submit),
    # or a Hadoop config directory would join the class path
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert session._archive_flags("1g", "-XX:+UseParallelGC") is not None
    for var in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        with monkeypatch.context() as m:
            m.setenv(var, "1" if var == "PYSPARK_GATEWAY_PORT" else str(tmp_path))
            during = dict(os.environ)
            assert session._archive_flags("1g", "-XX:+UseParallelGC") is None
            assert dict(os.environ) == during
