"""The Python worker daemon: unpacked archives on the path, preloaded libraries.

The unpack tests run ``daemon.unpacked`` on a temporary archive with
``XDG_CACHE_HOME`` in a temporary directory; the daemon itself is only
started by Spark, for the suite's session (conftest sets the conf).
"""

from __future__ import annotations

import importlib.util
import os
import tempfile
import zipfile

import pytest

from steampipe_plugin_terraform_spark import daemon


def test_python_tasks_fork_from_the_unpacking_daemon(spark):
    """A task imports pyspark from a directory, not from pyspark.zip, has
    no importer over an archive (zip or jar) left to re-read, and runs in a worker forked
    from a daemon that had already imported pandas, pyarrow and the engine
    (the task itself never imports the engine)."""

    def where(batches):
        import sys

        preloaded = all(m in sys.modules for m in
                        ("pandas", "pyarrow", "steampipe_plugin_terraform_spark.engine"))
        import os

        import pandas as pd
        import pyspark

        with open(f"/proc/{os.getppid()}/maps") as f:
            daemon_maps = f.read()
        import zipimport

        zips = [p for p in sys.path if os.path.isfile(p)]
        zips += [p for p, f in sys.path_importer_cache.items()
                 if isinstance(f, zipimport.zipimporter)]
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pyspark": [pyspark.__file__], "zips": [",".join(zips)], "preloaded": [preloaded],
            "daemon_libs": ["/pandas/_libs/" in daemon_maps and "libarrow" in daemon_maps],
        })

    rows = spark.range(4).repartition(2).mapInPandas(
        where, "pyspark string, zips string, preloaded boolean, daemon_libs boolean").collect()
    assert len(rows) == 2
    for r in rows:
        assert ".zip" not in r.pyspark and os.path.isfile(r.pyspark), r.pyspark
        assert r.zips == "", r.zips
        assert r.preloaded and r.daemon_libs


def _write(archive, modules):
    with zipfile.ZipFile(archive, "w") as zf:
        for name in modules:
            zf.writestr(f"pkg/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    path = str(tmp_path / "mods.zip")
    _write(path, ["alpha"])
    return path


@pytest.fixture
def extracts(monkeypatch):
    calls = []
    stock = daemon._extract

    def counting(archive, dest):
        calls.append(dest)
        stock(archive, dest)

    monkeypatch.setattr(daemon, "_extract", counting)
    return calls


def _py_dir(tmp_path):
    return tmp_path / "xdg" / "steampipe_plugin_terraform_spark" / "py"


def test_same_archive_reuses_its_copy(tmp_path, archive, extracts):
    copy = daemon.unpacked(archive)
    assert os.path.dirname(copy) == str(_py_dir(tmp_path))
    assert os.path.isfile(os.path.join(copy, "pkg", "alpha.py"))
    # compiled as it is published, even where imports write no bytecode
    assert os.path.isfile(importlib.util.cache_from_source(os.path.join(copy, "pkg", "alpha.py")))
    assert daemon.unpacked(archive) == copy
    assert len(extracts) == 1
    assert sorted(os.listdir(_py_dir(tmp_path))) == [os.path.basename(copy)]


def test_rewritten_archive_gets_a_new_copy(tmp_path, archive, extracts):
    first = daemon.unpacked(archive)
    _write(archive, ["alpha", "beta"])  # one more module: the size changes
    second = daemon.unpacked(archive)
    assert second != first and len(extracts) == 2
    assert os.path.isfile(os.path.join(second, "pkg", "beta.py"))
    assert not os.path.exists(os.path.join(first, "pkg", "beta.py"))


def test_unwritable_cache_falls_back_to_a_temp_directory(tmp_path, monkeypatch, archive):
    blocker = tmp_path / "not-a-directory"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    copy = daemon.unpacked(archive)
    assert os.path.dirname(os.path.dirname(copy)) == str(tmp_path)
    assert os.path.basename(os.path.dirname(copy)).startswith("tf_py_")
    assert os.path.isfile(os.path.join(copy, "pkg", "alpha.py"))


def test_racing_daemons_end_with_one_complete_copy(tmp_path, archive, monkeypatch):
    stock = daemon._extract
    results = []

    def rival_publishes_first(src, dest):
        stock(src, dest)
        # a second daemon (another pid, so another part) runs start to end
        with monkeypatch.context() as m:
            m.setattr(daemon, "_extract", stock)
            m.setattr(os, "getpid", lambda pid=os.getpid(): pid + 1)
            results.append(daemon.unpacked(src))

    monkeypatch.setattr(daemon, "_extract", rival_publishes_first)
    results.append(daemon.unpacked(archive))
    assert len(results) == 2 and results[0] == results[1]
    assert os.listdir(_py_dir(tmp_path)) == [os.path.basename(results[0])]
    assert os.path.isfile(os.path.join(results[0], "pkg", "alpha.py"))


def test_miss_removes_parts_of_dead_daemons(tmp_path, archive):
    py = _py_dir(tmp_path)
    dead, live = py / "mods-0.999999999.part", py / f"mods-0.{os.getpid()}.part"
    dead.mkdir(parents=True)
    live.mkdir()
    copy = daemon.unpacked(archive)
    assert not dead.exists() and live.exists()
    assert os.path.isdir(copy)


def test_archive_without_python_unpacks_to_nothing(tmp_path, archive):
    jar = tmp_path / "classes.jar"
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/A.class", b"\xca\xfe")
    copy = daemon.unpacked(str(jar))
    assert os.path.isdir(copy) and os.listdir(copy) == []


def test_unreadable_archive_stays_on_the_path(tmp_path, archive):
    bad = tmp_path / "bad.zip"
    bad.write_bytes(b"not a zip")
    assert daemon.unpacked(str(bad)) is None
    assert daemon.unpacked(str(tmp_path / "missing.zip")) is None
