"""SparkSession factory with the engine's scale-oriented defaults.

AQE + skew-join on (north_rule mandate), Arrow enabled for pandas UDFs,
UTC session timezone (oracle comparison via DuckDB), shuffle partitions
sized to cores for local mode.

Class-data archive. A driver JVM that ``get_spark`` launches from Python
maps a dynamic AppCDS archive (JEP 350): the ~10k classes a session start
and a first build read from Spark's jar files, pre-parsed and
pre-verified. The archive lives in a per-user cache,
``$XDG_CACHE_HOME/anything2rdf_spark/`` (``~/.cache`` when unset), named
by a key that hashes the ``java`` binary (real path, size, mtime), every
``$SPARK_HOME/jars/*.jar`` (name, size, mtime), whether the driver heap
gets compressed oops (a heap of 32 GB or more turns them off, and such a
JVM cannot map an archive written with them; other heap sizes share one
archive) and the Java options. When a whole archive for the key exists,
the launch adds ``-XX:SharedArchiveFile=<key>.jsa`` after the GC options;
otherwise ``-XX:ArchiveClassesAtExit=<key>.<pid>.<random>.part``, so this
JVM writes the archive to a name of its own when it exits (10-15 s more
at exit). A later launch renames a whole ``.part`` of its key to
``<key>.jsa``, so two JVMs that record at once never write one file and
no launch maps a half-written one. A launch that records first deletes
the cache's files of other keys and ``.part`` files untouched for ten
minutes, so the cache holds one archive. ``-Xlog:cds*=off`` keeps the JVM
from printing ~1k warnings about classes it leaves out of an archive
(signed jars, old bytecode, optional classes that fail verification).

The JDK refuses an archive when a non-empty directory is on the class
path, and Spark's launcher always puts the config directory there. When
that directory (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds only
``*.template`` files, which Spark never reads, ``SPARK_CONF_DIR`` is set to
an empty directory in the cache for the launch only and restored after.

The launch stays exactly as without the archive when the config
directory holds any other file, when ``HADOOP_CONF_DIR`` or
``YARN_CONF_DIR`` is set, when the caller passes its own
``spark.driver.extraJavaOptions`` in ``extra_conf``, and when ``get_spark``
launches no JVM: a gateway exists, or ``PYSPARK_GATEWAY_PORT`` is set, as
under ``spark-submit``. So a ``spark-submit run_pipeline.py`` batch gets
no archive; only a driver JVM launched by ``get_spark`` from a plain
Python process does. The JVM rejects a garbage or mismatched archive
itself and runs without it, at the speed it had before there was one. It
does not reject a truncated archive whose header is whole, so
``_archive_whole`` checks the header's regions against the file size, and
a short file is recorded anew instead of mapped.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import secrets
import shutil
import struct
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Three quarters of physical memory, in MiB. A fixed heap larger than
    the host lets the JVM grow until the kernel kills it; the quarter left
    over is for the JVM's off-heap memory, the Python side and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys * 3 // 4 // 2**20}m"


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "anything2rdf_spark")


def _oops(driver_memory: str) -> str:
    """Whether a JVM with this ``-Xmx`` gets compressed oops, which an
    archive must share with the JVM that maps it; near 32 GB, where the
    JVM's choice turns on heap alignment, the heap itself."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", driver_memory.strip().lower())
    if not m:
        return driver_memory
    heap = int(m[1]) << 10 * " kmgt".index(m[2] or " ")
    if heap < 31 << 30:
        return "compressed-oops"
    return "no-compressed-oops" if heap >= 32 << 30 else driver_memory


def _archive_path(driver_memory: str, java_opts: str) -> str | None:
    """The class archive for a driver JVM with this heap and these Java
    options, or None when the JDK or Spark's jars are not found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = os.path.join(_find_spark_home(), "jars")
    if not java or not os.path.isfile(java) or not os.path.isdir(jars):
        return None
    java = os.path.realpath(java)
    st = os.stat(java)
    h = hashlib.sha256()
    for part in (java, st.st_size, st.st_mtime_ns, _oops(driver_memory), java_opts,
                 os.environ.get("SPARK_SUBMIT_OPTS", "")):
        h.update(f"{part}\0".encode())
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return os.path.join(_cache_dir(), h.hexdigest()[:20] + ".jsa")


def _only_templates(conf_dir: str) -> bool:
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


# Header of a JDK 17 dynamic archive (version 11): magic, crc, version,
# then 7 region records of 72 bytes from offset 16, each holding its file
# offset and used size at +24 and +40. The JDK 17 VM maps a truncated file
# whose header is whole and dies with SIGBUS while it relocates pointers
# past the end of the file, so the regions are checked against the size.
_MAGIC, _VERSION, _REGIONS, _REGION_BYTES = 0xF00BABA8, 11, 7, 72


def _archive_whole(path: str) -> bool | None:
    """True when ``path`` is a JDK 17 dynamic archive whose regions all lie
    inside the file, None when it is an archive of a header layout this
    check does not know, False otherwise (missing, truncated, still being
    written, not an archive)."""
    try:
        with open(path, "rb") as f:
            head = f.read(16 + _REGIONS * _REGION_BYTES)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < 16 or struct.unpack_from("<I", head)[0] != _MAGIC:
        return False
    if struct.unpack_from("<I", head, 8)[0] != _VERSION:
        return None
    if len(head) < 16 + _REGIONS * _REGION_BYTES:
        return False
    end = 0
    for r in range(_REGIONS):
        offset, _, used = struct.unpack_from("<QQQ", head, 16 + r * _REGION_BYTES + 24)
        end = max(end, offset + used if used else 0)
    return 0 < end <= size


# a recording JVM writes its archive in 10-15 s; a ``.part`` file
# untouched for this long was left by a JVM that died while writing
_STALE_S = 600


def _age(path: str) -> float:
    try:
        return time.time() - os.stat(path).st_mtime
    except OSError:
        return 0.0


def _settle(path: str) -> bool | None:
    """Tidy the cache for the archive at ``path`` and say whether a whole
    one is there (None: a header layout ``_archive_whole`` does not know).
    When ``path`` is not whole, the newest whole ``.part`` of this key
    becomes ``path``; other whole and stale ``.part`` files of this key are
    deleted, and a ``.part`` that another JVM may still be writing is kept.
    When there is still no archive, so this launch records one, a broken
    file at ``path`` and the files of other keys are deleted too."""
    stem = path[: -len(".jsa")]
    whole = _archive_whole(path)
    for part in sorted(glob.glob(glob.escape(stem) + ".*.part"), key=_age):
        done = _archive_whole(part)
        with contextlib.suppress(OSError):
            if done and whole is False:
                os.replace(part, path)
                whole = True
            elif done or _age(part) > _STALE_S:
                os.remove(part)
    if whole is False:
        for old in glob.glob(os.path.join(glob.escape(_cache_dir()), "*.*")):
            if old.endswith((".jsa", ".part")) and (old == path or not old.startswith(stem + ".")):
                with contextlib.suppress(OSError):
                    os.remove(old)
    return whole


def _archive_flags(driver_memory: str, java_opts: str) -> str | None:
    """The JVM options that give the JVM this ``get_spark`` call launches
    its class archive: map it when a whole one exists, else record it at
    exit. None when the launch must stay as it was without one (module
    docstring), or when the archive has a header layout ``_archive_whole``
    does not know; such an archive is neither mapped nor recorded again."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:  # noqa: SLF001
        return None
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    if not _only_templates(conf_dir):
        return None
    path = _archive_path(driver_memory, java_opts)
    # the path goes unquoted into a whitespace-split option string
    if path is None or any(c.isspace() or c in "\"'\\" for c in path):
        return None
    try:
        os.makedirs(os.path.join(_cache_dir(), "conf"), exist_ok=True)
    except OSError:
        return None
    whole = _settle(path)
    if whole is None:
        return None
    if whole:
        return f"-XX:SharedArchiveFile={path} -Xlog:cds*=off"
    part = f"{path[: -len('.jsa')]}.{os.getpid()}.{secrets.token_hex(4)}.part"
    return f"-XX:ArchiveClassesAtExit={part} -Xlog:cds*=off"


@contextlib.contextmanager
def _empty_conf_dir():
    """Point ``SPARK_CONF_DIR`` at the cache's empty directory while the
    gateway launches."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(_cache_dir(), "conf")
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(
    master: str | None = None,
    app_name: str = "anything2rdf_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # in local[N], shuffle partitions ~ cores; on a real cluster this would
    # be ~2-3x total executor cores, set via spark-submit conf.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        n = n.split(",")[0]  # local[N,maxFailures] is legal Spark syntax
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # keep AQE's post-shuffle coalescing from collapsing small-SF test
        # runs to 1 partition (it would serialize every shuffled stage);
        # at 100 TB the default 64m advisory size is the right setting
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        # local mode = driver-only: the driver heap is the whole cluster's
        # memory; size it to the machine, not the default 1g (guide §Session)
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        # throughput GC: measured ~15% faster than G1 on codegen-heavy
        # string workloads in this environment. SPARK_GC_OPTS overrides —
        # e.g. capping ParallelGCThreads below the (oversubscribed)
        # advertised vCPU count on burst-throttled hosts.
        "spark.driver.extraJavaOptions": os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
    }
    conf |= extra_conf or {}
    flags = None
    if "spark.driver.extraJavaOptions" not in (extra_conf or {}):
        flags = _archive_flags(conf["spark.driver.memory"], conf["spark.driver.extraJavaOptions"])
        if flags:
            conf["spark.driver.extraJavaOptions"] += " " + flags
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        b = b.config(k, v)
    with _empty_conf_dir() if flags else contextlib.nullcontext():
        spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
    # allow a fresh master (e.g. local[8] -> local[32]) in the same process
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001
