"""The driver JVM's class-data-sharing archive, end to end.

Subprocess sessions run with XDG_CACHE_HOME in a temporary directory: the
first records the classes it loads and builds the archive from them after
its JVM exits, the second maps it. A JVM line on stdout would break the
one-JSON-line contract of the CLIs.
"""

import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest

from steampipe_plugin_terraform_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the workload both scripts run: a Python task (its accumulator updates open
# the JVM's connection back) and an aggregate over an Arrow Python task
WORKLOAD = """
from pyspark.sql import functions as F
rows = spark.sparkContext.parallelize(range(10), 2).count()
df = spark.range(100).mapInPandas(lambda batches: batches, "id long")
groups = df.groupBy(F.col("id") % 7).count().count()
jvm = spark._jvm
hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
jit = int(hotspot.getVMOption("CICompilerCount").getValue())
site = jvm.java.lang.System.getProperty("graft.site")
"""
SCRIPT = """
import json
from steampipe_plugin_terraform_spark import get_spark
spark = get_spark("session-test")
""" + WORKLOAD + """
print(json.dumps({"master": spark.sparkContext.master, "rows": rows, "groups": groups, "jit": jit,
                  "site": site}))
"""


def _session(cache: str, logs: str | None = None, memory: str = "4g", conf: str | None = None) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS")}
    env.update(XDG_CACHE_HOME=cache, SPARK_DRIVER_MEMORY=memory)
    if conf:
        env["SPARK_CONF_DIR"] = conf
    if logs:
        env["JAVA_TOOL_OPTIONS"] = f"-Xlog:class+load=info:file={logs}/cl-%p.log"
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "Traceback" not in out.stderr, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, f"JVM output on stdout: {lines[:5]}"
    return json.loads(lines[0])


def _jvm_dir(cache: str) -> str:
    return os.path.join(cache, "steampipe_plugin_terraform_spark", "jvm")


def _spark_session_source(logs: str) -> str:
    for path in glob.glob(os.path.join(logs, "cl-*.log")):
        with open(path) as f:
            m = re.search(r"\] org\.apache\.spark\.sql\.SparkSession source: (.*)", f.read())
        if m:
            return m[1]
    raise AssertionError(f"no driver JVM class-load log in {logs}")


@pytest.fixture
def cache():
    """An empty XDG_CACHE_HOME, removed with the archive it gets."""
    path = tempfile.mkdtemp(prefix="xdg-")
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def warm():
    """A cache after one recording session, and the two sessions' results.
    The space in its path must survive the launcher's option parsing."""
    cache = tempfile.mkdtemp(prefix="xdg cache-")
    logs = tempfile.mkdtemp(prefix="class-load-")  # JAVA_TOOL_OPTIONS splits at spaces
    first = _session(cache)
    published = sorted(os.listdir(_jvm_dir(cache)))
    second = _session(cache, logs=logs)
    yield cache, logs, published, [first, second]
    shutil.rmtree(cache, ignore_errors=True)
    shutil.rmtree(logs, ignore_errors=True)


def test_first_session_publishes_one_archive(warm):
    cache, _, published, _ = warm
    key = session.archive_key("4g")
    assert published == sorted(["conf", f"{key}.jsa"])  # no .part left behind
    assert os.path.getsize(os.path.join(_jvm_dir(cache), f"{key}.jsa")) > 10 << 20
    assert os.listdir(os.path.join(_jvm_dir(cache), "conf")) == []


def test_second_session_maps_the_archive(warm):
    _, logs, _, results = warm
    assert _spark_session_source(logs) == "shared objects file"
    assert all(r["rows"] == 10 for r in results)


def test_driver_jit_compiles_on_two_threads(warm):
    # the recording session starts without an archive, the second maps it
    assert [r["jit"] for r in warm[3]] == [2, 2]


def test_site_default_java_options_still_apply(cache, tmp_path):
    """The session's own spark.driver.defaultJavaOptions goes to the
    launcher as --conf, which replaces the conf directory's value: the
    site's options must be carried in it. Real conf files also mean no
    archive."""
    (tmp_path / "spark-defaults.conf").write_text(
        "spark.driver.defaultJavaOptions  -Dgraft.site=kept -XX:CICompilerCount=3\n")
    result = _session(cache, conf=str(tmp_path))
    assert (result["site"], result["jit"]) == ("kept", 3)
    assert not os.path.exists(_jvm_dir(cache)) or not any(
        n.endswith(".jsa") for n in os.listdir(_jvm_dir(cache)))


def test_spark_default_reads_java_properties(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    name = "spark.driver.defaultJavaOptions"
    assert session._spark_default(name) is None  # no spark-defaults.conf
    (tmp_path / "spark-defaults.conf").write_text(
        "# spark.driver.defaultJavaOptions -Dcomment=1\n"
        "  ! a comment too \\\n"
        "spark.driver.defaultJavaOptions=-Dfirst=1\n"
        "\n"
        "spark.driver.defaultJavaOptions : -Da=1 \\\n"
        "     -Db=C:\\\\x\\u0041 \r\n"
        "spark.driver.extraJavaOptions -Dother=1\n")
    assert session._spark_default(name) == "-Da=1 -Db=C:\\xA"
    assert session._spark_default("spark.driver.extraJavaOptions") == "-Dother=1"
    assert session._spark_default("spark.driver") is None


def test_default_master_follows_cpu_affinity(warm):
    cpus = min(32, len(os.sched_getaffinity(0)))
    assert [r["master"] for r in warm[3]] == [f"local[{cpus}]"] * 2


@pytest.mark.parametrize("kind", ["corrupt", "mismatched"])
def test_bad_archive_still_starts_with_clean_stdout(warm, cache, kind):
    os.makedirs(_jvm_dir(cache))
    if kind == "corrupt":
        memory = "4g"
        with open(os.path.join(_jvm_dir(cache), f"{session.archive_key(memory)}.jsa"), "wb") as f:
            f.write(b"\0" * (1 << 20))
    else:
        # dumped with compressed oops, mapped by a heap too large for them
        memory = "48g"
        shutil.copy(os.path.join(_jvm_dir(warm[0]), f"{session.archive_key('4g')}.jsa"),
                    os.path.join(_jvm_dir(cache), f"{session.archive_key(memory)}.jsa"))
    assert _session(cache, memory=memory)["rows"] == 10


JFR_SCRIPT = """
import json, sys
from pyspark.sql import SparkSession
from steampipe_plugin_terraform_spark.session import create
builder = (SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
           .config("spark.driver.extraJavaOptions",
                   "-XX:CICompilerCount=3 -XX:StartFlightRecording=filename=" + sys.argv[1]))
spark = create(builder, "4g")
""" + WORKLOAD + """
print(json.dumps({"rows": rows, "groups": groups, "jit": jit}))
"""


def test_flight_recording_session_runs_beside_an_archive(warm, tmp_path):
    """JDK 17 crashed (SIGSEGV in its class-file load hook) when a
    recording met classes mapped from the archive: such a session now
    starts without one. JFR's start-up lines stay off stdout, and the
    user's compiler thread count wins over the session's."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    env.update(XDG_CACHE_HOME=warm[0], PYTHONPATH=ROOT)
    out = subprocess.run([sys.executable, "-c", JFR_SCRIPT, str(tmp_path / "rec.jfr")],
                         cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, (out.stdout + out.stderr)[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, f"JVM output on stdout: {lines[:5]}"
    assert json.loads(lines[0]) == {"rows": 10, "groups": 7, "jit": 3}
    assert os.path.getsize(tmp_path / "rec.jfr") > 0


@pytest.mark.parametrize("var", ["extraJavaOptions", *session._JAVA_OPTION_VARS])
@pytest.mark.parametrize("option", [*session._LOAD_HOOK_OPTIONS])
def test_load_hook_options_start_without_archive(tmp_path, monkeypatch, var, option):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "templates"))
    for v in session._JAVA_OPTION_VARS:
        monkeypatch.delenv(v, raising=False)
    assert session._cds_flags("4g", "-Xss4m") is not None
    asked = f"-Dx=1 {option}"
    if var == "extraJavaOptions":
        assert session._cds_flags("4g", asked) is None
    else:
        monkeypatch.setenv(var, asked)
        assert session._cds_flags("4g") is None


def test_key_follows_heap_and_jars(tmp_path, monkeypatch):
    assert session.archive_key("4g") == session.archive_key(" 4G ")
    assert session.archive_key("4g") != session.archive_key("48g")
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"x" * 10)
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    keys = [session.archive_key("4g")]
    (jars / "b.jar").write_bytes(b"x")
    keys.append(session.archive_key("4g"))
    (jars / "a.jar").write_bytes(b"x" * 11)
    keys.append(session.archive_key("4g"))
    # same size, new mtime (a reinstall): the JVM would reject the archive
    os.utime(jars / "a.jar", ns=(1, 1))
    keys.append(session.archive_key("4g"))
    assert None not in keys and len(set(keys)) == 4


def test_conf_directory_rule(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    flags = session._cds_flags("4g")
    assert flags is not None and "-XX:DumpLoadedClassList=" in flags[0]
    # templates only: the class path gets the empty directory instead
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(_jvm_dir(str(tmp_path / "xdg")), "conf")
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._cds_flags("4g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_miss_removes_part_files_of_dead_processes(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = tmp_path / "templates"
    conf.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    jvm = tmp_path / "steampipe_plugin_terraform_spark" / "jvm"
    jvm.mkdir(parents=True)
    dead, live = jvm / "k.jsa.999999999.part", jvm / f"k.classes.{os.getpid()}.part"
    dead.write_bytes(b"x")
    live.write_bytes(b"x")
    flags = session._cds_flags("4g")
    assert flags is not None and "-XX:DumpLoadedClassList=" in flags[0]
    assert not dead.exists() and live.exists()


def test_failed_dump_is_not_retried(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = tmp_path / "templates"
    conf.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    _, (classes, part, archive) = session._cds_flags("4g")
    with open(classes, "w") as f:
        f.write("java/lang/Object\n")
    jvm = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                           stdin=subprocess.PIPE)
    # a "java" that fails the dump
    session._publish(jvm, [sys.executable, "-c", "raise SystemExit(1)"],
                     classes, part, archive, os.getpid())
    assert os.path.getsize(archive) == 0
    assert not os.path.exists(classes) and not os.path.exists(part)
    assert session._cds_flags("4g") is None
