"""SparkSession factory with scale-aware defaults.

Local test runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same builder config applies unchanged (AQE, skew-join handling, UTC
session timezone, Arrow transfer for the few pandas-interop points).

Reference parity: the reference configures 200 shuffle partitions and a
10 MB auto-broadcast threshold (its configs/pipeline_config.yml:28-29). We
keep the broadcast threshold and let AQE coalesce shuffle partitions
instead of hard-coding 200 — at 100 TB a fixed 200 is wrong in both
directions, while AQE right-sizes per stage from map output statistics.

Cold start. Most of a cold session start is the driver JVM loading
Spark's classes, so the JVM uses a dynamic AppCDS archive (JEP 350) by
default, one per host:

    ${XDG_CACHE_HOME:-~/.cache}/instacart_medallion_lakehouse_spark/cds/<key>.jsa

- **Key:** the JDK's identity, the Spark jar set (names, sizes, mtimes)
  and what Spark's launcher builds the JVM classpath from. The
  directory keeps only the current key's files; archives for other
  keys are deleted.
- **Recording:** with no archive for the key, the JVM runs with
  ``-XX:ArchiveClassesAtExit=<key>.<pid>.tmp`` and writes the classes
  it loaded when it exits (once: about 13 s and 177 MB for a session
  that ran the medallion refresh). ``build_session`` saves the JVM's
  class path next to it and keeps this process alive until the JVM has
  written it.
- **Verification and promotion:** the next process that resolves the
  options checks every temp file whose pid is gone by starting
  ``java -Xshare:on -XX:+VerifySharedSpaces`` on it with the recorded
  class path. If that exits 0 the file is renamed to ``<key>.jsa``,
  otherwise it is deleted. A truncated archive with a valid header
  crashes (SIGBUS) the JVM that maps it, so no unverified file reaches
  a session.
- **Loading:** later launches add ``-XX:SharedArchiveFile=<key>.jsa``.
- **Conf directory:** Spark puts ``SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) on the JVM classpath, and JDK 17 will not
  archive with a non-empty directory on it. When that directory holds
  only ``*.template`` files (or does not exist), ``SPARK_CONF_DIR``
  points at an empty directory in the cache; Spark reads no template,
  so no configuration changes. When it holds any other file, no archive
  is used.
- An unwritable cache or any failed step leaves the flags without an
  archive. Deleting the directory resets it: the next launch records.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import hashlib
import os
import shutil
import subprocess

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# A long-lived session compiles one codegen'd class per stage; the JVM's
# default reserved code cache (240m) fills after a few dozen distinct
# queries, silently DISABLING the JIT — hot loops (regex, interpreted
# expression eval) then run 10-50x slower. These flags must reach the
# driver JVM at LAUNCH: in local pyspark the JVM is started from
# PYSPARK_SUBMIT_ARGS before any builder .config() is read, so
# spark.driver.extraJavaOptions set via the builder is too late.
# ``_JVM_OPTS`` (module ``__getattr__`` below) adds the archive flags.
_BASE_JVM_OPTS = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
# JVM log lines go to stderr: stdout carries the callers' results (the
# JSON last line of perfbench/run.py). The cds tags stay at error, or a
# recording JVM prints a warning per class it cannot archive.
_JVM_LOG_OPTS = "-Xlog:disable -Xlog:all=warning,cds*=error:stderr:uptime,level,tags"
_CACHE_NAME = "instacart_medallion_lakehouse_spark"
_RECORD_FLAG = "-XX:ArchiveClassesAtExit="


def __getattr__(name: str):
    # Resolved on first use, so importers that never launch a JVM pay
    # nothing for the archive bookkeeping.
    if name == "_JVM_OPTS":
        return _launch_settings()[0]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


@functools.cache
def _launch_settings() -> tuple[str, str | None]:
    """(driver JVM options, SPARK_CONF_DIR to launch with or None)."""
    base = f"{_BASE_JVM_OPTS} {_JVM_LOG_OPTS}"
    try:
        archive, conf_dir = _cds_settings()
    except (OSError, subprocess.SubprocessError):
        return base, None
    return (f"{base} {archive}", conf_dir) if archive else (base, None)


def _cds_settings() -> tuple[str, str | None]:
    """The archive flags and conf directory (module docstring), or
    ``("", None)`` when no archive can be used."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    # the java spark-class launches
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    spark_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not java or not os.path.isdir(jars):
        return "", None
    if os.path.isdir(spark_conf) and any(
        not n.endswith(".template") for n in os.listdir(spark_conf)
    ):
        return "", None
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), _CACHE_NAME
    )
    if any(c.isspace() or c in "\"'" for c in root):  # must survive PYSPARK_SUBMIT_ARGS
        return "", None
    conf_dir = os.path.join(root, "spark-conf")
    cds = os.path.join(root, "cds")
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(cds, exist_ok=True)
    if os.listdir(conf_dir) or not os.access(cds, os.W_OK):
        return "", None
    key = _cds_key(java, jars, conf_dir)
    archive = os.path.join(cds, key + ".jsa")
    _promote(cds, key, java, archive)
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive}", conf_dir
    tmp = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    return f"{_RECORD_FLAG}{tmp} -XX:+VerifySharedSpaces", conf_dir


def _cds_key(java: str, jars: str, conf_dir: str) -> str:
    h = hashlib.sha256()
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    files = [java, os.path.join(jdk, "lib", "modules"),
             os.path.join(jdk, "lib", "server", "libjvm.so")]
    files += sorted(os.path.join(jars, n) for n in os.listdir(jars))
    for f in files:
        if os.path.exists(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    # what Spark's launcher builds the classpath from
    classpath = [conf_dir, os.path.join(jars, "*")] + [
        os.environ.get(v, "") for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ]
    h.update(os.pathsep.join(classpath).encode())
    return h.hexdigest()[:16]


def _promote(cds: str, key: str, java: str, archive: str) -> None:
    """Promote or delete every temp archive of ``key`` whose writer has
    exited, then delete every file that is not the archive and does not
    belong to a live recording. Files are ``<key>.<pid>.{tmp,cp,err}``."""

    def writer_gone(name: str) -> bool:
        pid = name.split(".")[1] if name.count(".") == 2 else ""
        return not (pid.isdigit() and _alive(int(pid)))

    for name in os.listdir(cds):
        if name.startswith(key + ".") and name.endswith(".tmp") and writer_gone(name):
            tmp = os.path.join(cds, name)
            with contextlib.suppress(FileNotFoundError):  # a concurrent promoter
                if _archive_verified(java, tmp):
                    os.replace(tmp, archive)
                else:
                    os.remove(tmp)
    for name in os.listdir(cds):
        if name != key + ".jsa" and writer_gone(name):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(cds, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _archive_verified(java: str, tmp: str) -> bool:
    """True if a JVM maps ``tmp`` on the class path it was recorded with
    and its checksums hold. A crash report goes next to it, not to the
    cwd."""
    stem = tmp[: -len(".tmp")]
    try:
        with open(stem + ".cp") as f:
            classpath = f.read()
        proc = subprocess.run(
            [java, "-Xshare:on", "-XX:+VerifySharedSpaces", f"-XX:SharedArchiveFile={tmp}",
             f"-XX:ErrorFile={stem}.err", "-XX:-CreateCoredumpOnCrash",
             "-cp", classpath, "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        )
    except (FileNotFoundError, subprocess.TimeoutExpired):
        return False
    return proc.returncode == 0


def _watch_recording(spark: SparkSession) -> None:
    """If this session's JVM records an archive at exit, save the class
    path it runs with (``_archive_verified`` needs it) and keep this
    process alive at exit until the JVM has written the archive: a
    later process takes the pid's exit to mean the file is complete."""
    if _RECORD_FLAG not in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return
    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    tmp = next((a[len(_RECORD_FLAG):] for a in args if a.startswith(_RECORD_FLAG)), "")
    proc = SparkContext._gateway.proc
    if not tmp.endswith(".tmp") or proc is None:
        return
    try:
        with open(tmp[: -len(".tmp")] + ".cp", "w") as f:
            f.write(jvm.System.getProperty("java.class.path"))
    except OSError:  # unverifiable: the next resolution deletes the archive
        return
    atexit.unregister(_await_exit)  # getOrCreate may return this session again
    atexit.register(_await_exit, proc)


def _await_exit(proc: subprocess.Popen) -> None:
    if proc.poll() is None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=300)


def ensure_vendored_protobuf() -> None:
    """transformWithStateInPandas' state-server workers import
    ``google.protobuf``; this container ships no protobuf wheel, so the
    repo vendors a MINIMAL runtime covering exactly the
    StateMessage.proto subset (vendor/google/protobuf/_shim.py, r11).
    Prepend it to PYTHONPATH (inherited by every python worker a LATER
    JVM spawns — must run before the gateway launches) and sys.path,
    ONLY when the real package is absent: an installed wheel always
    wins. Called from _ensure_jvm_opts AND at package import (the
    driver/plain-session path builds its own SparkSession without
    build_session, but imports the package first)."""
    import sys as _sys

    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    _vendor = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "vendor",
    )
    if not os.path.isdir(os.path.join(_vendor, "google", "protobuf")):
        return
    if _vendor not in _sys.path:
        _sys.path.insert(0, _vendor)
    pp = os.environ.get("PYTHONPATH", "")
    if _vendor not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _vendor + (os.pathsep + pp if pp else "")



def _ensure_jvm_opts() -> None:
    """Inject launch-time process settings before the gateway starts the
    JVM. No-op if a JVM is already up (they can't apply retroactively)."""
    from pyspark import SparkContext

    # glibc mmap()s every allocation above 128K and returns it to the OS
    # on free, so each large numpy temporary in a python worker is
    # fresh, lazily-faulted memory — on virtualized hosts with on-demand
    # paging that costs ~1ms/page (a 32 MB cosine matrix ≈ seconds of
    # faults PER BATCH). Raising the threshold keeps big buffers in the
    # reusable arena: first use pays, the rest run warm. Exported here so
    # the JVM and every python worker it spawns inherit it.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    ensure_vendored_protobuf()

    if SparkContext._jvm is not None:  # JVM already launched
        return
    opts, conf_dir = _launch_settings()
    # Before the early return below: a caller that builds
    # PYSPARK_SUBMIT_ARGS from _JVM_OPTS itself (perfbench/run.py) needs
    # the conf directory the archive flags were resolved with, too.
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    existing = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    if "ReservedCodeCacheSize" in existing:
        return
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{opts}" ' + existing
    )


def build_session(
    app_name: str = "instacart-medallion-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Scale posture:
    - AQE on: runtime partition coalescing + skew-join splitting means the
      same plan survives a 100x scale-up without retuning.
    - ``autoBroadcastJoinThreshold=10m`` mirrors the reference; small dims
      (region/nation/part at any SF, aisles/departments/products in the
      reference) broadcast instead of shuffling the fact side.
    - UTC session timezone so timestamp semantics match the DuckDB oracle
      and are cluster-timezone-independent.
    """
    _ensure_jvm_opts()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy: preferSortMergeJoin and the AQE SMJ->SHJ
        # rewrite threshold were A/B'd per-query in round 11 (q8,
        # q21, dim_parts, top_brands, snapshot_reconcile — 3 reps,
        # min): every delta inside noise, because AQE already
        # broadcast-rewrites the small sides at runtime and the
        # surviving SMJ inputs are exchange-floor-bound here. Left at
        # defaults; see OPTIMIZATION_r11.md.
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _watch_recording(spark)
    return spark
