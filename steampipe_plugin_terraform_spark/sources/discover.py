"""Driver-side file discovery: glob lists → concrete (path, kind) rows.

Behavior port of ``tfConfigList`` (/root/reference/terraform/utils.go:38-169):

- three independent glob lists route files to kinds config/plan/state
- ``*`` and ``**`` globs and ``~`` expansion (SDK GetSourceFiles semantics,
  docs/index.md:118-268)
- directories are skipped (utils.go:96-103)
- a missing/unmatchable path contributes zero rows instead of failing
  (utils.go:87-90)
- a ``path =`` equals-qual bypasses globbing entirely and routes a
  ``.tfstate`` suffix to the state branch (utils.go:45-58) — see
  ``discover_files(path_qual=...)``

Remote sources: ``s3a://``/``s3://`` URLs pass through untouched (Spark's
Hadoop FS reads them natively — the scale path); the reference's documented
go-getter form ``s3::https://bucket.s3.region.amazonaws.com/key//*.tf``
(docs/index.md:227-268) is translated to the equivalent ``s3a://`` URL; git
URLs are cloned once per process to a local temp dir on the driver and
fetched into on later calls (``fetch_remote``), mirroring the reference's
go-getter behavior (utils.go:82; docs/index.md:118-268) without putting a
non-distributable step on executors. Any other ``scheme::`` forced-getter
prefix raises instead of silently matching zero local files.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import re
import subprocess
import threading

from .. import state

_REMOTE_SCHEME_RE = re.compile(r"^(s3a?|wasbs?|abfss?|gs|hdfs)://")
_GIT_RE = re.compile(r"^(git::|git@|github\.com/|gitlab\.com/|bitbucket\.org/|https://github\.com/|https://gitlab\.com/|https://bitbucket\.org/)")
# go-getter "forced getter" prefix, e.g. s3::, git::, hg:: (utils.go:82 via
# hashicorp/go-getter; documented formats docs/index.md:118-268)
_FORCED_GETTER_RE = re.compile(r"^([a-z0-9]+)::")
# (clone URL, ref) -> (local clone, ref to fetch into it or None when pinned
# to a commit): repeat discovery of one git source (every watch tick) must see
# the same paths, not a fresh clone with new ones
_CLONES: dict[tuple[str, str | None], tuple[str, str | None]] = {}
_CLONES_LOCK = threading.Lock()  # a background watch tick may discover too


def is_dfs_url(p: str) -> bool:
    return bool(_REMOTE_SCHEME_RE.match(p))


def is_git_url(p: str) -> bool:
    return bool(_GIT_RE.match(p))


def parse_s3_getter(url: str) -> tuple[str, dict[str, str]]:
    """Translate a go-getter S3 URL to (``s3a://bucket/key``, auth params).

    Handles both addressing styles go-getter accepts:
    - virtual-hosted: ``s3::https://bucket.s3.us-east-1.amazonaws.com/folder//*.tf``
    - path-style:     ``s3::https://s3-eu-west-1.amazonaws.com/bucket/folder//*.tf``

    The ``//`` subpath separator just collapses into the key. Query params
    (``?aws_profile=…``, ``?region=…`` — reference docs/index.md:227-268)
    come back as the second element; ``s3a_auth_confs`` maps them onto
    Hadoop S3A's per-bucket configuration.
    """
    raw = url[len("s3::"):] if url.startswith("s3::") else url
    params: dict[str, str] = {}
    if "?" in raw:
        raw, qs = raw.split("?", 1)
        from urllib.parse import parse_qsl

        params = dict(parse_qsl(qs))
    m = re.match(r"^https?://(?P<host>[^/]+)/?(?P<key>.*)$", raw)
    if not m:
        raise ValueError(f"unrecognized S3 URL format: {url!r}")
    host, key = m.group("host"), m.group("key").replace("//", "/")
    if host.startswith("s3.") or re.match(r"^s3-[a-z0-9-]+\.", host):
        # path-style: first key segment is the bucket
        bucket, _, key = key.partition("/")
    else:
        # virtual-hosted: host is bucket.s3[.region].amazonaws.com
        bucket = host.split(".s3.")[0].split(".s3-")[0]
        if bucket == host:
            raise ValueError(f"cannot extract bucket from S3 host {host!r} in {url!r}")
    if not bucket:
        raise ValueError(f"empty bucket in S3 URL {url!r}")
    return f"s3a://{bucket}/{key.lstrip('/')}", params


# pseudo-key in an auth-conf dict for the process-wide profile selection
# (everything else is a real per-bucket Hadoop key)
ENV_AWS_PROFILE = "env.AWS_PROFILE"


def s3a_auth_confs(s3a_url: str, params: dict[str, str]) -> dict[str, str]:
    """Map go-getter S3 auth params onto Hadoop S3A per-bucket configuration.

    - ``?region=R`` → ``fs.s3a.bucket.<b>.endpoint.region = R`` (public
      Hadoop S3A per-bucket override, hadoop-aws docs "Configurations
      different S3 buckets").
    - ``?aws_profile=P`` → per-bucket credentials provider pinned to the AWS
      SDK profile provider, plus the ``env.AWS_PROFILE`` pseudo-key: the SDK
      resolves the profile NAME process-wide from $AWS_PROFILE (Hadoop has
      no per-bucket profile-name key), so ``apply_s3a_auth`` sets the env
      var and refuses conflicting profiles loudly rather than silently
      reading one bucket with another bucket's credentials.

    Unknown params raise — dropping an auth param silently is how you read
    prod data with the wrong role.
    """
    bucket = s3a_url[len("s3a://"):].split("/", 1)[0]
    confs: dict[str, str] = {}
    for k, v in params.items():
        if k == "region":
            confs[f"fs.s3a.bucket.{bucket}.endpoint.region"] = v
        elif k == "aws_profile":
            confs[f"fs.s3a.bucket.{bucket}.aws.credentials.provider"] = (
                "software.amazon.awssdk.auth.credentials.ProfileCredentialsProvider"
            )
            confs[ENV_AWS_PROFILE] = v
        elif k == "version":
            # go-getter S3 object versioning — Hadoop S3A reads latest only
            raise ValueError(
                f"S3 object versioning (?version=) is not supported: {s3a_url!r}"
            )
        else:
            raise ValueError(f"unsupported S3 auth param {k!r} in {s3a_url!r}")
    return confs


def _jvm_getenv(spark, name: str) -> str | None:
    """The driver JVM's view of an environment variable.

    Separate from ``os.environ``: the JVM snapshots its environment at
    launch, so a Python-side ``os.environ`` mutation after SparkSession
    creation is invisible to the AWS SDK running inside it (and to executor
    JVMs, which inherit their env from the cluster manager, not from this
    process).
    """
    return spark._jvm.java.lang.System.getenv(name)


def apply_s3a_auth(spark, confs: dict[str, str]) -> None:
    """Apply collected S3A auth confs to the session's Hadoop configuration.

    Must run before the first read of the affected bucket (Hadoop caches FS
    instances per scheme+authority). The ``env.AWS_PROFILE`` pseudo-key
    carries the requested profile NAME, which the AWS SDK resolves from the
    $AWS_PROFILE environment variable *inside each JVM* — a value we cannot
    set retroactively (the driver JVM snapshots its env at launch; executor
    JVMs never see this process's environ at all). So instead of mutating
    ``os.environ`` (which would silently leave the SDK on the default
    profile — the wrong-credentials scenario), require that the profile was
    exported BEFORE SparkSession launch and verify the driver JVM agrees;
    refuse loudly otherwise. For cluster deployments the same value must
    also reach executors via ``spark.executorEnv.AWS_PROFILE``.
    """
    confs = dict(confs)
    profile = confs.pop(ENV_AWS_PROFILE, None)
    if profile is not None:
        jvm_profile = _jvm_getenv(spark, "AWS_PROFILE")
        if jvm_profile != profile:
            raise ValueError(
                f"path requires AWS profile {profile!r} but the driver JVM "
                f"was launched with $AWS_PROFILE={jvm_profile!r}; profile "
                "selection is per-JVM and fixed at launch — export "
                "AWS_PROFILE before starting the SparkSession (and set "
                "spark.executorEnv.AWS_PROFILE for cluster mode), or use "
                "per-bucket static/assumed-role credentials in Hadoop conf "
                "instead"
            )
        exec_env = spark.conf.get("spark.executorEnv.AWS_PROFILE", None)
        if exec_env not in (None, profile):
            raise ValueError(
                f"spark.executorEnv.AWS_PROFILE={exec_env!r} conflicts with "
                f"the path's requested profile {profile!r}"
            )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in confs.items():
        hconf.set(k, v)


def expand_glob(pattern: str, auth_sink: dict[str, str] | None = None) -> list[str]:
    """Expand one glob pattern to concrete files (dirs skipped, misses → []).

    ``auth_sink``: optional dict that per-path S3 auth params accumulate
    into as Hadoop confs (see ``s3a_auth_confs``); conflicting values for
    the same key raise rather than last-writer-wins."""
    if is_dfs_url(pattern):
        # distributed-FS URLs are resolved by Spark's reader (pathGlobFilter
        # handles trailing globs); pass through as-is
        return [pattern]
    if pattern.startswith("s3::"):
        s3a_url, params = parse_s3_getter(pattern)
        if params and auth_sink is not None:
            for k, v in s3a_auth_confs(s3a_url, params).items():
                if auth_sink.get(k, v) != v:
                    raise ValueError(
                        f"conflicting S3 auth for {k}: {auth_sink[k]!r} vs {v!r} "
                        f"(from {pattern!r})"
                    )
                auth_sink[k] = v
        return [s3a_url]
    if is_git_url(pattern):
        local, sub_glob = fetch_remote(pattern)
        return expand_glob(os.path.join(local, sub_glob or "**/*.tf"))
    forced = _FORCED_GETTER_RE.match(pattern)
    if forced:
        # an unrecognized forced-getter scheme must fail loudly — falling
        # through to a local glob would silently yield zero files
        raise ValueError(
            f"unsupported remote scheme {forced.group(1)!r}:: in {pattern!r} "
            "(supported: s3::, git::, plain s3a/gs/wasbs/abfss/hdfs URLs, "
            "github.com/gitlab.com/bitbucket.org git paths)"
        )
    pattern = os.path.expanduser(pattern)
    out = []
    for m in sorted(_glob.glob(pattern, recursive=True)):
        if os.path.isdir(m):
            continue
        out.append(os.path.abspath(m))
    return out


def _split_git_subpath(raw: str) -> tuple[str, str | None]:
    """Split a git URL into (clone_url, subpath_glob) at the first ``//``
    that is not part of a ``scheme://`` prefix — go-getter's subdir rule.

    Works for every format the reference documents (docs/index.md:141-200):
    ``github.com/org/repo//**/*.tf``, ``git::ssh://git@host/org/repo//*.tf``,
    scp-style ``git@host:org/repo//*.tf``, and nested
    ``host/org/repo//sub/dir//*.tf`` (only the FIRST ``//`` splits; later
    ``//`` collapse harmlessly inside the filesystem glob).
    """
    scheme_end = raw.find("://")
    start = scheme_end + 3 if scheme_end >= 0 else 0
    pos = raw.find("//", start)
    if pos < 0:
        return raw, None
    return raw[:pos], raw[pos + 2 :]


def fetch_remote(url: str) -> tuple[str, str | None]:
    """Clone a git URL (optionally ``?ref=`` pinned, ``//sub/glob`` suffixed)
    to a temp dir, once per (repository, ref) per process; returns
    (local_dir, sub_glob or None). A later call fetches the branch or tag
    into that clone in place, so upstream commits show up while unchanged
    files keep their paths and mtimes; a commit-SHA ref never moves.

    Driver-side only — mirrors go-getter's git support (reference
    docs/index.md:141-200). Requires a ``git`` binary; raises RuntimeError
    when unavailable.
    """
    raw = url[len("git::"):] if url.startswith("git::") else url
    ref = None
    if "?ref=" in raw:
        raw, ref = raw.split("?ref=", 1)
    raw, sub = _split_git_subpath(raw)
    if "://" not in raw and not raw.startswith("git@"):
        raw = "https://" + raw
    with _CLONES_LOCK:
        hit = _CLONES.get((raw, ref))
        if hit is None:
            hit = _CLONES[raw, ref] = _clone(url, raw, ref)
        elif hit[1] is not None:
            _git(url, ["-C", hit[0], "fetch", "--depth", "1", "origin", hit[1]], 300)
            _git(url, ["-C", hit[0], "reset", "--hard", "FETCH_HEAD"], 60)
    return hit[0], sub


def _clone(url: str, raw: str, ref: str | None) -> tuple[str, str | None]:
    """``git clone`` ``raw`` (at ``ref``) into a fresh temp dir; returns it
    with the ref a later call fetches (None for a commit SHA)."""
    dest = state.temp_root("tf_git_")
    cmd = ["git", "clone", "--depth", "1"]
    if ref:
        cmd += ["--branch", ref]
    try:
        r = subprocess.run(cmd + [raw, dest], capture_output=True, timeout=300)
    except (OSError, subprocess.SubprocessError) as e:
        raise RuntimeError(f"git fetch failed for {url}: {e}") from e
    if r.returncode == 0:
        return dest, ref or "HEAD"
    if not ref:
        raise RuntimeError(f"git fetch failed for {url}: {r.stderr.decode(errors='replace')}")
    # a commit SHA is not clonable via --branch: full clone + checkout
    shutil.rmtree(dest, ignore_errors=True)
    _git(url, ["clone", raw, dest], 600)
    _git(url, ["-C", dest, "checkout", ref], 60)
    return dest, None


def _git(url: str, args: list[str], timeout: int) -> None:
    try:
        subprocess.run(["git", *args], check=True, capture_output=True, timeout=timeout)
    except (OSError, subprocess.SubprocessError) as e:
        raise RuntimeError(f"git fetch failed for {url}: {e}") from e


def file_size(path: str) -> int:
    """Size in bytes of a local file; one that vanished weighs 0."""
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def pack_by_size(files: list, n: int, size=file_size, slices: int = 0) -> list[list]:
    """Largest-first greedy bin-packing of local files into at most ``n``
    non-empty bins, each file into the lightest, so one large file (a
    ``.tfstate`` parses ~10× slower than a ``.tf``) cannot straggle a bin of
    many small ones. ``size`` maps an item to its bytes. With ``slices``, the
    count of equal-count slices Spark cuts a local collection into, bin ``i``
    holds the ``i``-th contiguous run of them that ``coalesce(n)`` makes."""
    sized = sorted(((size(f), f) for f in files), reverse=True)
    n = max(n, 1)
    edge = [len(files) * (i * slices // n) // slices if slices else i * len(files) for i in range(n + 1)]
    room = [edge[i + 1] - edge[i] for i in range(n)]
    bins: list[list] = [[] for _ in range(n)]
    weight = [0] * n
    for nbytes, f in sized:
        i = min((j for j in range(n) if len(bins[j]) < room[j]), key=weight.__getitem__)
        bins[i].append(f)
        weight[i] += nbytes + 1  # +1 so many zero-byte files still spread
    return [b for b in bins if b]


def discover_files(
    config_paths: list[str] | tuple = (),
    plan_paths: list[str] | tuple = (),
    state_paths: list[str] | tuple = (),
    path_qual: str | None = None,
    auth_sink: dict[str, str] | None = None,
) -> list[tuple[str, str]]:
    """Resolve the three glob lists to [(path, kind)] rows.

    ``path_qual`` replicates the pushed-down ``WHERE path = x`` fast path:
    exactly that file, state-routed iff it ends in ``.tfstate``.
    ``auth_sink`` collects per-path S3 auth Hadoop confs (``expand_glob``).
    """
    if path_qual is not None:
        kind = "state" if path_qual.endswith(".tfstate") else "config"
        if not is_dfs_url(path_qual):
            # normalize like expand_glob does, so the reader's absolute URI
            # and the path column agree with the caller's filter value
            path_qual = os.path.abspath(os.path.expanduser(path_qual))
        return [(path_qual, kind)]
    out: list[tuple[str, str]] = []
    for patterns, kind in ((config_paths, "config"), (plan_paths, "plan"), (state_paths, "state")):
        for pattern in patterns or ():
            for path in expand_glob(pattern, auth_sink=auth_sink):
                out.append((path, kind))
    return out
