"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
All knobs here are safe at both extremes:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion replace hand-tuned partition counts at scale.
- shuffle.partitions is only the *initial* number; AQE coalesces. At 100 TB
  you would raise it (or rely on AQE's initialPartitionNum); locally 32 avoids
  tiny-partition overhead.
- Arrow enabled for the Python boundary (the HCL parse UDF and any pandas UDFs
  transfer columnar batches, not pickled rows).
- Session timezone pinned to UTC so timestamp semantics are deterministic and
  match the DuckDB oracle (which is timezone-naive).
- Python workers fork from ``daemon.py`` (``spark.python.daemon.module``), not
  from pyspark's stock daemon: it imports pyspark from cached bytecode
  instead of compiling it from pyspark.zip in every session, and imports
  pandas, pyarrow and the parse modules once for all the workers it forks.

Cold start: one cache root, ``$XDG_CACHE_HOME/steampipe_plugin_terraform_spark/``
(default ``~/.cache``, never the checkout), holds two artifacts that later
sessions reuse: the driver JVM's class-data-sharing archive in ``jvm/``,
and the worker daemon's unpacked Python archives with their bytecode in
``py/`` (see ``daemon.py``). To clear either, delete its directory.

A new driver JVM maps its classes from a class-data-sharing (AppCDS)
archive instead of loading and verifying them from the jars, which cuts
session start from about 14 to 8.5 CPU-s on 4 vCPUs. The archive holds the
classes its recording session loaded (170-230 MB). Its name is a digest of
the JDK (path and ``release`` file), the driver heap setting and the path,
name, size and modification time of every jar in ``$SPARK_HOME/jars``,
which is what the JVM checks before it maps an archive. On a miss the
session only records the names of the classes it loads
(``-XX:DumpLoadedClassList``, no slower than a plain session); an
``atexit`` hook then waits for the JVM to exit and builds the archive
from that list with a static ``-Xshare:dump`` of the same java, options
and class path (about 40 s, single-threaded, after the session's work is
done), into a ``.part`` name it renames when the dump is complete. Every
later session maps it. A dump that fails leaves an empty file under the
archive's name, so later sessions start without an archive instead of
paying for the dump again.
JDK 17 neither dumps nor maps an archive while a non-empty directory is on
the class path, so the conf directory (``SPARK_CONF_DIR``, default
``$SPARK_HOME/conf``) is pointed at an empty directory beside the archive
when it holds nothing but ``*.template`` files, which Spark never reads;
when it holds real files, or a Hadoop/YARN conf directory or extra class
path is set, the session starts without an archive. So does one whose
cache directory cannot be written, and one whose JVM options (the
builder's ``spark.driver.extraJavaOptions``, ``JAVA_TOOL_OPTIONS``,
``JDK_JAVA_OPTIONS`` or ``PYSPARK_SUBMIT_ARGS``) start a flight recording
or a Java agent: JDK 17 crashes in its class-file load hook on classes
mapped from an archive. For the same reason, attaching JFR to a running
session (``jcmd <pid> JFR.start``) crashes a JVM that mapped the archive;
delete ``jvm/`` first, or start the session with
``-XX:StartFlightRecording``.

JIT: every new driver JVM, with an archive or without, compiles on two
threads (``-XX:CICompilerCount=2``: one C1 and one C2, the least tiered
compilation runs with). HotSpot's default grows with the cores, 3/4/12/15
threads at 4/8/16/32, and in a short session most of the set-up CPU goes
to them. C2 stays on: C1 alone starts faster but runs warm code about 20%
slower. A ``-XX:CICompilerCount`` of the user's comes later on the
command line and wins: in ``spark.driver.extraJavaOptions``, or in the
``spark.driver.defaultJavaOptions`` of the builder or of the conf
directory's ``spark-defaults.conf``, which ``create`` keeps after its own.

Stdout belongs to the CLIs, which print one JSON line there, and the JVM
logs to stdout by default. ``-Xlog:cds*=off`` keeps any CDS warning off it
(JDK 17 logs a rejected archive at info level, so none is expected
there), and ``-Xlog:jfr+startup=off`` the lines a flight recording prints
as it starts: JFR re-enables that tag on stdout whatever level or output
it is given, so only ``off`` silences it (harmless without JFR).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess

from pyspark.sql import SparkSession

from . import state


# RocksDB-backed streaming state: keeps per-key state off-heap and spills
# to local disk, so stateful operators (session windows, dedup-within-
# watermark, flatMapGroupsWithState) are bounded by disk, not executor
# heap — the right provider once streaming state outgrows memory (100 TB
# design point: billions of live session keys). The default HDFS-backed
# provider keeps every key's state in the JVM heap.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# Python worker daemon that imports pyspark from cached bytecode and
# preloads pandas and pyarrow for the workers it forks (see daemon.py).
DAEMON_MODULE = "steampipe_plugin_terraform_spark.daemon"


# options of every new driver JVM (see "JIT" and "Stdout" above)
_DRIVER_OPTIONS = "-XX:CICompilerCount=2 -Xlog:cds*=off -Xlog:jfr+startup=off"

# JVM options that install a class-file load hook: JFR, and Java agents,
# which use the same hook (that case is untested). JDK 17 crashes in
# KlassFactory::check_shared_class_file_load_hook when such a hook meets a
# class mapped from the archive, so these sessions start without one.
_LOAD_HOOK_OPTIONS = ("-XX:StartFlightRecording", "-javaagent:", "-agentlib:", "-agentpath:")
_JAVA_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "PYSPARK_SUBMIT_ARGS")


def get_spark(
    app_name: str = "steampipe-terraform-spark",
    master: str | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    affinity = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(min(32, affinity or 1))
    master = master or f"local[{cpus}]"
    # Pin BLAS to one thread per Python worker: N parallel Arrow-batched
    # tasks each spawning an ncores-thread OpenBLAS matmul oversubscribes
    # the box N-fold (measured here: 1-6x run-to-run swings on the numpy
    # cosine operators under 32 workers x 32 BLAS threads). Parallelism
    # belongs to Spark's task scheduler, not to per-task BLAS pools —
    # same rule on a real cluster, where executor cores are already the
    # unit of parallelism. setdefault honors an explicit override; the
    # env must be set BEFORE the JVM launches so the forked Python
    # worker daemon inherits it (executorEnv covers cluster mode).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Spark starts DAEMON_MODULE with `python -m` in the JVM's working
    # directory, so put this package's parent on the workers' path (the
    # JVM passes its PYTHONPATH on) for a driver started from elsewhere.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, root])
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) if cpus.isdigit() else 32, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
    )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    # local[N] runs all executor threads inside the driver JVM, so the
    # driver heap IS the cluster memory: undersizing it turns execution
    # memory pressure into GC churn (measured: the full bench suite is
    # ~2× slower at 8g than 48g on a 128 GiB box). On a real cluster
    # this knob sizes only the coordinator; executors are sized by
    # spark.executor.memory.
    spark = create(builder, os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    if rocksdb_state:
        # providerClass is a runtime SQL conf read at stream start, so it
        # also takes effect when getOrCreate returned a pre-existing session
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    return spark


def create(builder: SparkSession.Builder, driver_memory: str) -> SparkSession:
    """``builder.getOrCreate()`` with a ``driver_memory`` heap; a new driver
    JVM runs two JIT compiler threads and starts from the class-data-sharing
    archive, or records the classes it loads so that the archive can be
    built after it exits.

    The flags go in through ``spark.driver.defaultJavaOptions``, ahead of
    the value that would otherwise apply: the builder's, or else the conf
    directory's ``spark-defaults.conf`` one, which the builder's value
    replaces on the launcher's command line. Later options win, so those
    and a user's ``spark.driver.extraJavaOptions`` override ours. A session
    in an already running JVM gets none: its JVM started with whatever it
    had.
    """
    from pyspark import SparkContext

    builder = builder.config("spark.driver.memory", driver_memory)
    cds = None
    if SparkContext._gateway is None:
        options = builder._options
        own = options.get("spark.driver.defaultJavaOptions")
        if own is None:
            own = _spark_default("spark.driver.defaultJavaOptions")
        cds = _cds_flags(driver_memory, options.get("spark.driver.extraJavaOptions", ""))
        flags = [_DRIVER_OPTIONS, cds[0] if cds else "", own]
        builder = builder.config("spark.driver.defaultJavaOptions", " ".join(f for f in flags if f))
    spark = builder.getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if cds is not None and cds[1] is not None and proc is not None:
        # the dump runs the session JVM's own java, options and class path;
        # one joined string, as iterating a py4j list costs 0.5 s
        lang = spark._jvm.java.lang
        options = lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        java = [os.path.join(lang.System.getProperty("java.home"), "bin", "java"),
                *(o for o in lang.String.join("\n", options).split("\n")
                  if not o.startswith(("-XX:DumpLoadedClassList=", "-Xlog:"))),
                "-cp", lang.System.getProperty("java.class.path")]
        atexit.register(_publish, proc, java, *cds[1], os.getpid())
    return spark


def archive_key(driver_memory: str) -> str | None:
    """Digest naming the archive a driver JVM with this heap can map: the
    JDK, the heap and the jars, down to the modification times the JVM
    checks. None when one is unreadable."""
    from pyspark.find_spark_home import _find_spark_home

    java = os.environ.get("JAVA_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("java") or ""))))
    jars = os.path.realpath(os.path.join(_find_spark_home(), "jars"))
    try:
        with open(os.path.join(java, "release"), "rb") as f:
            release = f.read()
        listing = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(jars))
    except OSError:
        return None
    if not listing:
        return None
    heap = driver_memory.strip().lower()
    digest = hashlib.sha256(repr((os.path.realpath(java), release, heap, jars, listing)).encode())
    return digest.hexdigest()[:20]


def _conf_dir() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")


# a properties line: its key ends at an unescaped blank, "=" or ":"
_PROPERTY = re.compile(r"((?:\\.|[^\\=: \t\f])*)[ \t\f]*[=:]?[ \t\f]*(.*)", re.S)
_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "f": "\f"}


def _spark_default(name: str) -> str | None:
    """``name``'s value in the conf directory's ``spark-defaults.conf``, read
    as the launcher reads it (a Java properties file: the last entry wins,
    trimmed), or None."""
    try:
        with open(os.path.join(_conf_dir(), "spark-defaults.conf"), encoding="utf-8", errors="replace") as f:
            text = f.read()
    except OSError:
        return None
    found, logical = None, ""
    for line in re.split(r"\r\n|\r|\n", text):
        line = line.lstrip(" \t\f")
        if not logical and (not line or line[0] in "#!"):
            continue
        if (len(line) - len(line.rstrip("\\"))) % 2:  # continued on the next line
            logical += line[:-1]
            continue
        key, value = _PROPERTY.match(logical + line).groups()
        logical = ""
        if _unescape(key) == name:
            found = _unescape(value).strip()
    return found


def _unescape(text: str) -> str:
    def one(m: re.Match) -> str:
        c = m[1]
        return chr(int(c[1:], 16)) if len(c) == 5 else _ESCAPES.get(c, c)

    return re.sub(r"\\(u[0-9a-fA-F]{4}|.)", one, text, flags=re.S)


def _cds_flags(driver_memory: str, java_options: str = "") -> tuple[str, tuple[str, str, str] | None] | None:
    """(archive java option, (class list, dump path, archive path) on a
    miss) for a new driver JVM, pointing ``SPARK_CONF_DIR`` at the empty conf
    directory; None when the JVM must start without an archive.
    ``java_options`` is the session's ``spark.driver.extraJavaOptions``."""
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None  # the launcher puts these on the class path too
    asked = " ".join([java_options, *(os.environ.get(v, "") for v in _JAVA_OPTION_VARS)])
    if any(o in asked for o in _LOAD_HOOK_OPTIONS):
        return None
    try:
        if any(not n.endswith(".template") for n in os.listdir(_conf_dir())):
            return None
    except OSError:
        pass  # no conf directory: nothing to read either
    key = archive_key(driver_memory)
    cache = state.cache_dir("jvm")
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if key is None or os.listdir(empty_conf):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        if os.path.getsize(archive) == 0:
            return None  # its dump failed: do not pay for it again
        flag, dump = f"-XX:SharedArchiveFile={_quote(archive)}", None
    elif os.access(cache, os.W_OK):
        for part in state.dead_parts(cache):
            _unlink(part)
        classes = os.path.join(cache, f"{key}.classes.{os.getpid()}.part")
        dump = (classes, f"{archive}.{os.getpid()}.part", archive)
        flag = f"-XX:DumpLoadedClassList={_quote(classes)}"
    else:
        return None
    os.environ["SPARK_CONF_DIR"] = empty_conf
    return flag, dump


def _quote(path: str) -> str:
    # spark-launcher splits java options shell-style: escape every byte
    # that could be a space, a quote or a backslash
    return "".join(c if c.isalnum() or c in "/._-" else "\\" + c for c in path)


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def _publish(proc: subprocess.Popen, java: list[str], classes: str, part: str,
             archive: str, owner: int) -> None:
    """At interpreter exit: end the JVM (it exits when its stdin closes),
    build the archive from the classes it loaded with a static dump, then
    publish it under the archive's name. A dump that fails publishes an
    empty file, which later sessions take as "start without an archive"."""
    from pyspark import SparkContext

    if os.getpid() != owner:
        return  # a forked child inherited the hook
    try:
        sc = SparkContext._active_spark_context
        if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
            # stop it first: its accumulator server would print the JVM's
            # exit as an EOFError traceback
            sc.stop()
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=120)
        if proc.returncode == 0 and os.path.isfile(classes):
            done = subprocess.run(
                [java[0], "-Xshare:dump", f"-XX:SharedClassListFile={classes}",
                 f"-XX:SharedArchiveFile={part}", *java[1:]],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=900)
            if done.returncode != 0 or not os.path.isfile(part):
                open(part, "wb").close()
            os.replace(part, archive)
    except (OSError, subprocess.TimeoutExpired):
        pass  # the next miss records the classes again
    finally:
        _unlink(classes)
        _unlink(part)
