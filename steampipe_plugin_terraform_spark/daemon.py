"""Python worker daemon: pyspark from cached bytecode, libraries preloaded.

Spark forks every Python worker from a daemon (``spark.python.daemon.module``,
run as ``python -m``); ``session.get_spark`` points that conf here. The
stock daemon imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``,
which ships sources only, so every session compiled pyspark again (about
1.4 CPU-s against 0.4 from bytecode), and every forked worker imported
pandas and pyarrow on its own (about 0.3 CPU-s each).

Before it imports anything from pyspark, this daemon puts an unpacked copy
of each archive on its ``sys.path`` in the archive's place: pyspark.zip,
py4j's zip, and the spark-core jar Spark adds, which holds no Python and
unpacks to an empty directory. The copies live in
``$XDG_CACHE_HOME/steampipe_plugin_terraform_spark/py/`` (default
``~/.cache``), the cache root that also holds the driver JVM's
class-data-sharing archive (``jvm/``, see ``session.py``). A copy's name
is a digest of the archive's path, size and modification time and of the
interpreter's bytecode tag, so a rewritten archive or another Python gets
its own copy. A copy is unpacked and compiled to bytecode in a ``.part``
directory (about 0.2 + 3.5 CPU-s and 38 MB for pyspark.zip, once per key;
``PYTHONDONTWRITEBYTECODE`` does not stop it) and renamed into place, so a
racing daemon either wins the rename or uses the winner's copy; parts left
by killed daemons are removed by the next miss. When the cache cannot be
written, the copy goes uncompiled to a temporary directory removed when
the daemon exits. With no archive left on the path, the
``importlib.invalidate_caches()`` a worker runs before every task has no
zip directory to re-read (on CPython < 3.13 it re-reads one per importer:
0.2-0.3 CPU-s per task with pyspark.zip's and the jar's).

The daemon then imports pandas, pyarrow and the engine's parse modules, so
every forked worker inherits them instead of importing them itself.
"""

from __future__ import annotations

import compileall
import hashlib
import importlib
import os
import shutil
import sys
import zipfile

from . import state

# what a parse task would otherwise import in each worker
PRELOAD = ("pandas", "pyarrow", "steampipe_plugin_terraform_spark.engine")


def unpacked(archive: str) -> str | None:
    """Directory holding ``archive``'s files, unpacked once per archive and
    interpreter; None when the archive cannot be read or unpacked."""
    try:
        st = os.stat(archive)
        key = repr((os.path.abspath(archive), st.st_size, st.st_mtime_ns,
                    sys.implementation.cache_tag))
        name = (os.path.basename(archive).rsplit(".", 1)[0] + "-"
                + hashlib.sha256(key.encode()).hexdigest()[:16])
        cache = state.cache_dir("py")
        copy = os.path.join(cache, name)
        if os.path.isdir(copy):
            return copy
        try:
            os.makedirs(cache, exist_ok=True)
            return _publish(archive, cache, copy)
        except OSError:
            copy = os.path.join(state.temp_root("tf_py_"), name)
            _extract(archive, copy)
            return copy
    except (OSError, zipfile.BadZipFile):
        return None


def _publish(archive: str, cache: str, copy: str) -> str:
    for dead in state.dead_parts(cache):
        shutil.rmtree(dead, ignore_errors=True)
    part = f"{copy}.{os.getpid()}.part"
    try:
        _extract(archive, part)
        # quiet: the daemon's stdout is its channel to the JVM
        compileall.compile_dir(part, quiet=2)
        try:
            os.rename(part, copy)
        except OSError:
            if not os.path.isdir(copy):
                raise
            # another daemon published first: use its copy
    finally:
        shutil.rmtree(part, ignore_errors=True)
    return copy


def _extract(archive: str, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    with zipfile.ZipFile(archive) as zf:
        if any(n.endswith((".py", ".pyc")) for n in zf.namelist()):
            zf.extractall(dest)
        else:  # nothing to import: a jar of classes unpacks to nothing
            os.makedirs(dest)


def main() -> None:
    for i, path in enumerate(sys.path):
        if os.path.isfile(path):  # an archive: zipimport reads it
            copy = unpacked(path)
            if copy is not None:
                sys.path[i] = copy
                # its zipimporter would re-read the archive on every
                # importlib.invalidate_caches() (CPython < 3.13)
                sys.path_importer_cache.pop(path, None)
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:
            pass  # a worker that needs it fails the same way itself
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
