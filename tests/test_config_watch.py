"""Connection-config defaults (.spc loader) and watch-refresh parity.

Reference behaviors covered:
- config/terraform.spc:23-25 default path lists, resolved against CWD
- connection_config.go:7-12 field set incl. deprecated `paths`
  (utils.go:71-75: `paths` wins when set)
- steampipe:"watch" re-scan on file change (connection_config.go:8-11):
  edited / added / deleted files are reflected without engine
  reconstruction, and only changed files re-parse.
"""

import shutil

import pytest

from steampipe_plugin_terraform_spark.engine import TerraformEngine
from steampipe_plugin_terraform_spark.sources.config import (
    DEFAULT_CONFIGURATION_FILE_PATHS,
    TerraformConnectionConfig,
    parse_spc,
)
from steampipe_plugin_terraform_spark.streaming.watch import TerraformWatcher

SPC = """
connection "terraform" {
  plugin = "terraform"
  configuration_file_paths = ["*.tf", "modules/**/*.tf"]
  plan_file_paths          = ["tfplan.json"]
  state_file_paths         = ["*.tfstate"]
}
"""


def test_parse_spc_fields():
    cfg = parse_spc(SPC)
    assert cfg.configuration_file_paths == ["*.tf", "modules/**/*.tf"]
    assert cfg.plan_file_paths == ["tfplan.json"]
    assert cfg.state_file_paths == ["*.tfstate"]
    assert cfg.paths is None


def test_parse_spc_selects_connection_by_label():
    two = SPC + '\nconnection "other" { paths = ["x/*.tf"] }\n'
    assert parse_spc(two, "other").paths == ["x/*.tf"]
    with pytest.raises(ValueError):
        parse_spc(SPC, "missing")


def test_deprecated_paths_wins_over_configuration_file_paths(tmp_path):
    cfg = TerraformConnectionConfig(
        configuration_file_paths=["a/*.tf"], paths=["b/*.tf"]
    )
    c, p, s = cfg.resolve(str(tmp_path))
    assert c == [str(tmp_path / "b" / "*.tf")]
    assert p == [] and s == []


def test_defaults_resolve_relative_to_base_dir(tmp_path):
    c, p, s = TerraformConnectionConfig().resolve(str(tmp_path))
    assert c == [str(tmp_path / g) for g in DEFAULT_CONFIGURATION_FILE_PATHS]
    assert str(tmp_path / "tfplan.json") in p
    assert s == [str(tmp_path / "*.tfstate")]
    # remote URLs / forced-getter prefixes never get anchored
    cfg = TerraformConnectionConfig(configuration_file_paths=["s3a://b/k/*.tf"])
    assert cfg.resolve(str(tmp_path))[0] == ["s3a://b/k/*.tf"]


def test_with_defaults_scans_cwd_star_tf(spark, fixtures_dir, tmp_path):
    shutil.copy(fixtures_dir / "config" / "main.tf", tmp_path / "main.tf")
    (tmp_path / "notes.txt").write_text("not terraform")
    eng = TerraformEngine.with_defaults(spark, base_dir=str(tmp_path))
    assert {k for _, k in eng.files} == {"config"}
    assert eng.table("terraform_resource").count() > 0


def test_from_spc_end_to_end(spark, fixtures_dir, tmp_path):
    (tmp_path / "terraform.spc").write_text(SPC)
    shutil.copy(fixtures_dir / "config" / "main.tf", tmp_path / "main.tf")
    eng = TerraformEngine.from_spc(
        spark, str(tmp_path / "terraform.spc"), base_dir=str(tmp_path)
    )
    assert eng.table("terraform_resource").count() > 0


def test_watcher_detects_modify_add_delete(spark, fixtures_dir, tmp_path):
    shutil.copy(fixtures_dir / "config" / "main.tf", tmp_path / "main.tf")
    eng = TerraformEngine.with_defaults(spark, base_dir=str(tmp_path))
    eng.register_views()
    before = spark.sql(
        "select count(*) from terraform_resource where type = 'watch_canary'"
    ).collect()[0][0]
    assert before == 0
    watcher = TerraformWatcher(eng)
    assert watcher.poll() == set()  # no change -> no-op tick

    # modify: append a resource to the watched file
    with open(tmp_path / "main.tf", "a") as f:
        f.write('\nresource "watch_canary" "c1" { x = 1 }\n')
    changed = watcher.poll()
    assert changed == {str(tmp_path / "main.tf")}
    assert (
        spark.sql(
            "select count(*) from terraform_resource where type = 'watch_canary'"
        ).collect()[0][0]
        == 1
    )

    # add: a brand-new file matching *.tf
    (tmp_path / "extra.tf").write_text('resource "watch_canary" "c2" { x = 2 }\n')
    assert watcher.poll() == {str(tmp_path / "extra.tf")}
    assert (
        spark.sql(
            "select count(*) from terraform_resource where type = 'watch_canary'"
        ).collect()[0][0]
        == 2
    )

    # delete: rows for the removed file disappear
    (tmp_path / "extra.tf").unlink()
    assert watcher.poll() == {str(tmp_path / "extra.tf")}
    assert (
        spark.sql(
            "select count(*) from terraform_resource where type = 'watch_canary'"
        ).collect()[0][0]
        == 1
    )


def test_incremental_refresh_reparses_only_changed(spark, tmp_path):
    """A one-file edit must not re-parse the unchanged files: corrupt an
    unchanged file AFTER the cache is built — with on_error='fail' a full
    re-parse would raise, while the incremental path serves its rows from
    cache and re-reads only the changed file."""
    (tmp_path / "a.tf").write_text('resource "t" "a" { x = 1 }\n')
    (tmp_path / "b.tf").write_text('resource "t" "b" { x = 1 }\n')
    eng = TerraformEngine.with_defaults(spark, base_dir=str(tmp_path))
    assert eng.table("terraform_resource").count() == 2  # materialize cache

    (tmp_path / "a.tf").write_text("resource {{{ not hcl")
    (tmp_path / "b.tf").write_text(
        'resource "t" "b" { x = 2 }\nresource "t" "b2" { x = 3 }\n'
    )
    eng.refresh(changed_paths=[str(tmp_path / "b.tf")])
    res = eng.table("terraform_resource")
    assert {r["name"] for r in res.collect()} == {"a", "b", "b2"}


def test_canonical_batch_writer_skips_replayed_batch(spark, tmp_path):
    # foreachBatch is at-least-once: the writer must not duplicate rows
    # when the same micro-batch id is replayed after a checkpoint race
    from steampipe_plugin_terraform_spark.streaming.watch import canonical_batch_writer

    store = str(tmp_path / "store")
    batch = spark.createDataFrame([("a", "terraform_resource")], "path string, tf_table string")
    write = canonical_batch_writer(store, str(tmp_path / "ckpt"))
    write(batch, 0)
    write(batch, 0)  # replay: must be skipped
    assert spark.read.parquet(store).count() == 1
    write(batch, 1)  # genuinely new batch still appends
    assert spark.read.parquet(store).count() == 2


def test_watcher_snapshot_survives_failed_refresh(spark, tmp_path):
    # if refresh raises, the delta must be re-detected on the next poll —
    # advancing the snapshot first would lose the change forever
    (tmp_path / "a.tf").write_text('resource "r" "x" {}\n')
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
    w = TerraformWatcher(eng)
    (tmp_path / "a.tf").write_text('resource "r" "y" {}\n')

    calls = []

    def boom(changed):
        calls.append(set(changed))
        raise RuntimeError("transient")

    real = eng.refresh
    eng.refresh = boom
    with pytest.raises(RuntimeError):
        w.poll()
    eng.refresh = real
    changed = w.poll()  # same delta re-detected and refreshed for real
    assert calls and changed == calls[0]


def test_refresh_tolerates_vanished_file(spark, tmp_path):
    # a file deleted between discovery and the in-task read must be
    # treated as deleted, not crash the refresh
    from unittest import mock

    from steampipe_plugin_terraform_spark import engine as engine_mod

    (tmp_path / "a.tf").write_text('resource "r" "x" { n = 1 }\n')
    (tmp_path / "b.tf").write_text('resource "r" "y" { n = 1 }\n')
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
    assert eng.table("terraform_resource").count() == 2
    listed = engine_mod.discover_files(*eng._source_lists)
    (tmp_path / "b.tf").unlink()

    # discovery still lists b.tf; the parse task finds it gone
    with mock.patch.object(engine_mod, "discover_files", return_value=listed):
        eng.refresh([str(tmp_path / "b.tf")])
    # b.tf behaved as deleted: only a.tf's row remains, no exception
    assert eng.table("terraform_resource").count() == 1


def test_watch_flag_autostarts_watcher(spark, tmp_path):
    """`watch=True` wires the watcher automatically — the reference's
    `steampipe:"watch"` tags (connection_config.go:8-11) make watching a
    property of the connection, not an object the user assembles by hand."""
    import time

    (tmp_path / "a.tf").write_text('resource "r" "x" { n = 1 }\n')
    eng = TerraformEngine(
        spark,
        config_paths=[str(tmp_path / "*.tf")],
        watch=True,
        watch_interval=0.1,
    )
    try:
        eng.register_views()
        assert eng.watcher is not None and eng._watch_thread.is_alive()
        (tmp_path / "b.tf").write_text('resource "watch_canary" "c" { n = 2 }\n')
        deadline = time.time() + 30
        while time.time() < deadline:
            n = spark.sql(
                "select count(*) from terraform_resource where type = 'watch_canary'"
            ).collect()[0][0]
            if n == 1:
                break
            time.sleep(0.2)
        assert n == 1, "background watch never picked up the new file"
    finally:
        eng.stop_watch()
    assert eng._watch_thread is None
    # idempotent restart path
    eng.start_watch(interval=0.1)
    eng.start_watch(interval=0.1)
    eng.stop_watch()


def test_watch_loop_records_failures_and_recovers(spark, tmp_path, monkeypatch):
    """A poll that raises keeps the poll loop alive and is visible on the
    watcher: ``last_error`` holds the exception and ``consecutive_failures``
    counts it until the next successful poll. Checked in the foreground
    (``TerraformWatcher.run``, as the README runs it) and in the background
    (``engine.start_watch`` runs the same loop on a thread)."""
    import threading

    (tmp_path / "a.tf").write_text('resource "r" "x" { n = 1 }\n')
    seen, done = [], threading.Event()

    def poll(self):
        seen.append((self.consecutive_failures, self.last_error))
        if len(seen) <= 2:
            raise RuntimeError(f"boom {len(seen)}")
        self.stop()
        done.set()
        return set()

    monkeypatch.setattr(TerraformWatcher, "poll", poll)
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
    for background in (False, True):
        seen.clear()
        done.clear()
        if background:
            watcher = eng.start_watch(interval=0.01)
            thread = eng._watch_thread
            try:
                assert done.wait(30), "loop stopped polling after a failure"
            finally:
                eng.stop_watch()
            assert not thread.is_alive()
        else:
            watcher = TerraformWatcher(eng)
            guard = threading.Timer(30, watcher.stop)
            guard.start()
            try:
                watcher.run(interval=0.01)  # the third poll stops it
            finally:
                guard.cancel()
            assert done.is_set(), "loop stopped polling after a failure"
        assert seen[0] == (0, None)
        assert seen[1][0] == 1 and str(seen[1][1]) == "boom 1"
        assert seen[2][0] == 2 and str(seen[2][1]) == "boom 2"
        assert len(seen) == 3
        assert watcher.consecutive_failures == 0, "a successful poll resets the count"
        assert str(watcher.last_error) == "boom 2"


def _plan_nodes(plan) -> int:
    kids = plan.children()
    return 1 + sum(_plan_nodes(kids.apply(i)) for i in range(kids.size()))


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _modify(path, i: int) -> str:
    path.write_text(f'resource "t" "{path.stem}" {{ x = {i} }}\n')
    return str(path)


def test_refresh_keeps_the_view_plan_flat(spark, tmp_path):
    """Each incremental refresh checkpoints the next generation from the
    current one, so the analyzed plan of a registered view does not grow
    tick over tick (a growing lineage eventually overflows the stack when
    a task deserializes it)."""
    for name in ("a", "b", "c"):
        _modify(tmp_path / f"{name}.tf", 0)
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
    eng.register_views()
    try:
        sizes = []
        for i in range(1, 7):
            eng.refresh([_modify(tmp_path / "b.tf", i)])
            plan = spark.table("terraform_resource")._jdf.queryExecution().analyzed()
            sizes.append(_plan_nodes(plan))
        assert sizes[0] == sizes[-1], sizes
        df = spark.sql("select type, count(*) from terraform_resource group by type")
        assert df.collect()[0][1] == 3
        # served from the checkpoint's blocks, not from a cached relation
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
        assert "InMemoryTableScan" not in plan and "TableCacheQueryStage" not in plan
    finally:
        eng.unpersist()


def test_checkpoint_generations_lifetime(spark, tmp_path):
    """At most two generations hold blocks: the current one and the one
    before it, which a frame taken before a refresh still reads. unpersist()
    releases both; engines without a checkpoint release nothing."""
    for name in ("a", "b"):
        _modify(tmp_path / f"{name}.tf", 0)
    base = _persistent_rdds(spark)
    eng = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")])
    assert eng.table("terraform_resource").count() == 2
    for i in range(1, 6):
        eng.refresh([_modify(tmp_path / "b.tf", i)])
        assert len(_persistent_rdds(spark) - base) <= 2
    before = eng.table("terraform_resource")
    rows = sorted(map(tuple, before.collect()))
    eng.refresh([_modify(tmp_path / "a.tf", 9)])
    assert sorted(map(tuple, before.collect())) == rows
    assert eng.table("terraform_resource").filter("arguments like '%9%'").count() == 1
    eng.unpersist()
    assert _persistent_rdds(spark) - base == set()

    uncached = TerraformEngine(spark, config_paths=[str(tmp_path / "*.tf")], cache=False)
    store = str(tmp_path / "store")
    uncached.save_canonical(store)
    loaded = TerraformEngine.load_canonical(spark, store)
    for eng in (uncached, loaded):
        held = _persistent_rdds(spark)
        assert eng.table("terraform_resource").count() == 2
        eng.refresh([_modify(tmp_path / "b.tf", 10)] if eng is uncached else None)
        eng.unpersist()
        assert eng.table("terraform_resource").count() == 2
        assert _persistent_rdds(spark) == held
