"""The Python worker daemon's zip-directory rule.

``daemon.invalidate_caches`` is called directly on importers over a
temporary archive, so the stdlib ``zipimporter`` class is never patched
in the test process; reads are counted on ``zipimport._read_directory``.
"""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from steampipe_plugin_terraform_spark import daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 zipimporter.invalidate_caches no longer re-reads; "
    "the daemon leaves it alone",
)


def _write(archive, modules):
    with zipfile.ZipFile(archive, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    count = [0]
    stock = zipimport._read_directory

    def counting(archive):
        count[0] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return count


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write(archive, ["alpha"])
    importer = zipimport.zipimporter(archive)
    daemon.invalidate_caches(importer)  # first call records the key
    reads[0] = 0
    for _ in range(5):
        daemon.invalidate_caches(importer)
    assert reads[0] == 0
    assert importer.find_spec("alpha") is not None


def test_rewritten_archive_is_reread_once(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write(archive, ["alpha"])
    importer = zipimport.zipimporter(archive)
    daemon.invalidate_caches(importer)
    assert importer.find_spec("beta") is None
    _write(archive, ["alpha", "beta"])  # one more module: the size changes
    reads[0] = 0
    daemon.invalidate_caches(importer)
    assert reads[0] == 1
    assert importer.find_spec("beta") is not None
    daemon.invalidate_caches(importer)
    assert reads[0] == 1


def test_deleted_archive_empties_importer(tmp_path, reads):
    archive = tmp_path / "mods.zip"
    _write(str(archive), ["alpha"])
    importer = zipimport.zipimporter(str(archive))
    daemon.invalidate_caches(importer)
    archive.unlink()
    daemon.invalidate_caches(importer)  # must not raise
    assert importer.find_spec("alpha") is None
    assert str(archive) not in zipimport._zip_directory_cache


def test_python_tasks_fork_from_the_daemon(spark):
    """Every Python task in the suite runs in a worker whose zipimporter
    carries the daemon's ``invalidate_caches`` (conftest sets the conf)."""

    def where(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"f": [code.co_filename]})

    rows = spark.range(1).mapInPandas(where, "f string").collect()
    assert rows and all(
        r.f.endswith("steampipe_plugin_terraform_spark/daemon.py") for r in rows
    )
