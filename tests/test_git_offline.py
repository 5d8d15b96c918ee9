"""Offline end-to-end git fetch: a local BARE repo stands in for the
remote (``git::file://…`` is a documented go-getter form), so clone,
``?ref=`` pinning (tag AND commit-SHA fallback), and ``//`` subdir
splitting run for real without network — closing round-5's "structurally
tested only" gap (`sources/discover.py:fetch_remote`)."""

import subprocess

import pytest

from steampipe_plugin_terraform_spark.sources.discover import (
    discover_files,
    expand_glob,
    fetch_remote,
    is_git_url,
)


def _git(*args, cwd=None):
    r = subprocess.run(["git", *args], cwd=cwd, capture_output=True, text=True)
    assert r.returncode == 0, f"git {' '.join(args)}: {r.stderr}"
    return r.stdout.strip()


def _commit(work, msg):
    _git("-c", "user.email=t@t", "-c", "user.name=t", "add", ".", cwd=work)
    _git("-c", "user.email=t@t", "-c", "user.name=t", "commit", "-m", msg, cwd=work)


@pytest.fixture(scope="module")
def bare_repo(tmp_path_factory):
    """Bare repo with two commits: v1 has one resource, HEAD (tag v2.0.0)
    adds a second resource plus a sub/dir tree."""
    work = tmp_path_factory.mktemp("git_work")
    (work / "main.tf").write_text(
        'resource "aws_instance" "one" {\n  ami = "ami-1"\n}\n'
    )
    _git("init", "-b", "main", cwd=work)
    _commit(work, "v1")
    _git("tag", "v1.0.0", cwd=work)
    sha_v1 = _git("rev-parse", "HEAD", cwd=work)
    sub = work / "sub" / "dir"
    sub.mkdir(parents=True)
    (sub / "extra.tf").write_text('resource "aws_s3_bucket" "b" {\n  bucket = "x"\n}\n')
    (work / "second.tf").write_text('resource "aws_instance" "two" {\n  ami = "ami-2"\n}\n')
    _commit(work, "v2")
    _git("tag", "v2.0.0", cwd=work)
    bare = tmp_path_factory.mktemp("git_bare") / "repo.git"
    _git("clone", "--bare", str(work), str(bare))
    return {"url": f"git::file://{bare}", "sha_v1": sha_v1}


def test_clone_default_branch(bare_repo):
    local, sub = fetch_remote(bare_repo["url"])
    assert sub is None
    files = expand_glob(f"{local}/**/*.tf")
    names = {f.rsplit("/", 1)[-1] for f in files}
    assert names == {"main.tf", "second.tf", "extra.tf"}


def test_ref_tag_pins_the_old_tree(bare_repo):
    local, _ = fetch_remote(bare_repo["url"] + "?ref=v1.0.0")
    files = expand_glob(f"{local}/**/*.tf")
    assert {f.rsplit("/", 1)[-1] for f in files} == {"main.tf"}


def test_ref_commit_sha_falls_back_to_full_clone(bare_repo):
    # --branch <sha> fails, so fetch_remote's full-clone+checkout path runs
    local, _ = fetch_remote(bare_repo["url"] + "?ref=" + bare_repo["sha_v1"])
    files = expand_glob(f"{local}/**/*.tf")
    assert {f.rsplit("/", 1)[-1] for f in files} == {"main.tf"}


def test_subdir_split_globs_inside_the_clone(bare_repo):
    assert is_git_url(bare_repo["url"] + "//sub/dir/*.tf")
    files = expand_glob(bare_repo["url"] + "//sub/dir/*.tf")
    assert len(files) == 1 and files[0].endswith("extra.tf")


def test_engine_end_to_end_over_git_source(spark, bare_repo):
    from steampipe_plugin_terraform_spark import TerraformEngine

    eng = TerraformEngine(spark, config_paths=[bare_repo["url"] + "//*.tf"])
    rows = eng.table("terraform_resource").select("name", "type").collect()
    got = {(r["type"], r["name"]) for r in rows}
    assert got == {("aws_instance", "one"), ("aws_instance", "two")}


def test_repeat_discovery_reuses_one_clone(spark, bare_repo):
    """A git source is cloned once per process: repeat discovery returns
    the same paths, so a watch tick over an unchanged remote sees no
    change and refreshes nothing."""
    from steampipe_plugin_terraform_spark import TerraformEngine
    from steampipe_plugin_terraform_spark.streaming.watch import TerraformWatcher

    url = bare_repo["url"] + "//*.tf"
    first = discover_files(config_paths=[url])
    assert len(first) == 2
    assert discover_files(config_paths=[url]) == first
    w = TerraformWatcher(TerraformEngine(spark, config_paths=[url]))
    assert w.poll() == set()


def test_repeat_discovery_fetches_upstream_commits(spark, tmp_path):
    """The cached clone is updated in place: a commit pushed upstream shows
    up in the next discovery, a watch tick reports only the file it added,
    and a full ``refresh()`` serves the next commit's rows."""
    from steampipe_plugin_terraform_spark import TerraformEngine
    from steampipe_plugin_terraform_spark.streaming.watch import TerraformWatcher

    work = tmp_path / "work"
    work.mkdir()
    (work / "main.tf").write_text('resource "aws_instance" "one" {\n  ami = "ami-1"\n}\n')
    _git("init", "-b", "main", cwd=work)
    _commit(work, "one")
    bare = tmp_path / "repo.git"
    _git("clone", "--bare", str(work), str(bare))
    url = f"git::file://{bare}//*.tf"
    eng = TerraformEngine(spark, config_paths=[url])
    w = TerraformWatcher(eng)
    (main,) = discover_files(config_paths=[url])

    (work / "second.tf").write_text('resource "aws_instance" "two" {\n  ami = "ami-2"\n}\n')
    _commit(work, "two")
    _git("push", str(bare), "main", cwd=work)
    second = main[0].rsplit("/", 1)[0] + "/second.tf"
    assert w.poll() == {second}
    names = {r["name"] for r in eng.table("terraform_resource").collect()}
    assert names == {"one", "two"}

    (work / "third.tf").write_text('resource "aws_instance" "three" {\n  ami = "ami-3"\n}\n')
    _commit(work, "three")
    _git("push", str(bare), "main", cwd=work)
    eng.refresh()
    names = {r["name"] for r in eng.table("terraform_resource").collect()}
    assert names == {"one", "two", "three"}
