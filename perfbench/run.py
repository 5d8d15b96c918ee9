"""End-to-end and per-layer benchmark of the Terraform engine and the catalog.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (closed loop, one client
process, Spark on ``local[<cores>]``):

- ``tf_ingest``   fresh ``TerraformEngine(cache=True)`` + materialize all
                  seven tables + unpersist, over a seeded corpus of more
                  than 1,024 files (``.tf``, plan JSON, ``.tfstate``, some
                  large state files); the first ingest of the session.
- ``tf_query``    warm engine with views registered over a seeded corpus
                  below 1,024 files; cycles the fourteen documented query
                  shapes plus ``table(name, path=...)`` point lookups.
                  In traced runs, after the timed queries, a
                  ``TerraformWatcher`` segment runs a few ticks: each edits
                  three files (modify / add / delete), calls ``poll()`` and
                  runs one query that must see the edits (per-layer
                  ``watch.*`` metrics).
- ``catalog_mix`` pinned batch catalog entries over the parquet tables in
                  ``perfbench/data``; no Terraform parse.

Each run does a fixed number of operations per workload, scaled linearly
from ``--seconds`` (a run measures about that long on a 4-core box), so a
given seed always produces the same inputs and the same operations.  Every
operation's output is checked; a wrong result counts as a failed
operation.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The full result,
with sample counts, run settings and box probes, and (traced runs) every
span, is written to ``perfbench/work/results/``.

End-to-end metrics (every workload), both in CPU seconds of the process
tree (this process, its JVM and Spark's Python workers), which leave out
the time a shared host's hypervisor steals:

- ``setup_s``    CPU seconds of set-up: session start + warm-up (the first,
                 cold load of the inputs and warm operations) + the median
                 of the repeated loads (corpus generation, engine state).
- ``op_cpu_ms``  CPU milliseconds of one operation (one ingest, one query,
                 one catalog pass), less the CPU of the JVM's JIT compiler
                 threads: compilation is a warm-up cost that arrives in
                 bursts and would swamp small operations.  It is the mean
                 over the run's operations with the highest and lowest
                 tenth left out, which drops bursts (a GC, a busy
                 co-tenant) and, unlike a median, does not snap to the
                 10 ms clock tick.  For a catalog pass it is the sum over
                 the entries of each entry's median CPU, so a burst in one
                 entry of one pass does not move it.

Wall-clock numbers (``op.p50_ms``, ``query.p90_ms``, ``ingest.files_per_s``,
``watch.fresh_p50_ms``, ``catalog.pass_s``, ``setup.wall_s``) and memory
(``memory.peak_rss_mb``: the largest sum of ``VmHWM`` over the process tree,
sampled after every operation) are per-layer metrics.  Every result carries
the box canary and steal ticks read around the run; a run with more than
2% of CPU stolen, or whose canary slowed by 30%, is flagged in the results
file, not dropped.

A traced run alternates untraced and traced operations; per-layer numbers
come from the traced ones, and ``trace.overhead_ratio`` is the median
traced latency over the median untraced latency.  ``self.<layer>_ms`` is
the layer's self time summed over the run's traced operations.  Layers are timed from
outside, around calls to the package's public functions.  A metric of a
layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
PACKAGE = "steampipe_plugin_terraform_spark"

# op counts per second of --seconds, calibrated on a 4-core box
OPS_PER_S = {"tf_ingest": 0.1, "tf_query": 6.4, "catalog_mix": 0.6}
MIN_OPS = {"tf_ingest": 1, "tf_query": 16, "catalog_mix": 5}
# whole cycles of the query mix (14 shapes + 2 point lookups), so every
# seed times the same shapes.  A catalog pass's CPU falls by a third over
# the first six passes of a session while the JVM compiles, then holds
WARM_QUERIES = 48
WARM_PASSES = 6
WATCH_TICKS = 2
LOAD_REPS = 3
STEAL_FLAG = 0.02    # share of CPU time stolen by the hypervisor
CANARY_FLAG = 1.3    # canary after the workload / canary before it

# corpus sizes (config, plan, state, large state)
INGEST_CORPUS = (1030, 30, 20, 3)
QUERY_CORPUS = (90, 8, 6, 1)
EDITS_PER_TICK = 3

CATALOG_FAMILIES = {
    "dedup_": "operators.dedup_s",
    "emb_": "operators.similarity_s",
    "docs_": "operators.text_s",
    "media_": "operators.multimodal_s",
}
RELATIONAL = "catalog.relational_s"


# ---------------------------------------------------------------------------
# run settings
# ---------------------------------------------------------------------------


def configure(run_dir: str) -> dict:
    """Fit Spark to this machine and keep every file it writes in run_dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    mem_gib = mem_kb / 2**20
    driver_gib = 4 if mem_gib >= 12 else max(1, int(mem_gib / 3))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM, the spark-submit launcher included, keeps its files in tmp
    java_opts = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": java_opts.strip(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "pyspark-shell",
        ]),
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {**settings, "cores": cpus, "mem_total_gib": round(mem_gib, 1),
            "client_processes": 1, "load_threads": 0}


def run_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "1"))


def start_session(tracer):
    from steampipe_plugin_terraform_spark import get_spark

    with tracer.phase("session"), Cost() as c:
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    tracer.spark = spark
    return spark, c


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# the run: op bookkeeping shared by all workloads
# ---------------------------------------------------------------------------


class Cost:
    """Wall seconds, process-tree CPU seconds, and the part of that CPU the
    JVM's JIT compiler threads used, over a ``with`` block."""

    def __enter__(self):
        from spans import tree_cpu

        self._t = time.perf_counter()
        self._cpu, self._jit = tree_cpu()
        return self

    def __exit__(self, *exc):
        from spans import tree_cpu

        self.wall = time.perf_counter() - self._t
        cpu, jit = tree_cpu()
        self.cpu = cpu - self._cpu
        self.jit = sum(v - self._jit.get(tid, 0.0) for tid, v in jit.items())
        return False


class Run:
    def __init__(self, args, spark, tracer, run_dir):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        # traced runs alternate untraced and traced ops, and the first op
        # (a cold one in tf_ingest) is left out of the overhead ratio
        self.n_ops = max(MIN_OPS[args.workload], round(args.seconds * OPS_PER_S[args.workload]),
                         3 if tracer.enabled else 1)
        self.attempted = 0
        self.failed = 0
        self.lat_ms: list[float] = []         # every measured op
        self.traced_ms: list[float] = []
        self.untraced_ms: list[float] = []
        self.layer: dict[str, float] = {}     # per-layer values
        self.samples: dict[str, int] = {}
        self.load_s: list[float] = []
        self.warmup_s = 0.0
        self.rss_mb = 0.0
        self.cpu_ms: list[float] = []         # per op, JIT compiler threads left out
        self.op_cpu_ms: float | None = None   # a workload's own estimate of op CPU
        self.detail: dict = {}                # raw samples for the results file
        self.jit_ms: list[float] = []         # per op, the JIT compiler threads' CPU
        self.jit_s = 0.0
        self.warmup_cpu_s = 0.0
        self.load_cpu_s: list[float] = []
        self.errors: list[str] = []

    def traced(self, i: int) -> bool:
        """Traced runs alternate: odd ops traced, even ops untraced."""
        return self.tracer.enabled and i % 2 == 1

    def record(self, i: int, cost: "Cost", ok: bool | None) -> None:
        """One timed op; ``ok=None`` when its checks were counted already.

        Its CPU leaves out the JIT compiler threads: compilation is a
        warm-up cost that arrives in bursts and would swamp small ops."""
        if ok is not None:
            self.attempted += 1
            self.failed += 0 if ok else 1
        ms = cost.wall * 1e3
        self.lat_ms.append(ms)
        self.cpu_ms.append((cost.cpu - cost.jit) * 1e3)
        self.jit_ms.append(cost.jit * 1e3)
        self.jit_s += cost.jit
        (self.traced_ms if self.traced(i) else self.untraced_ms).append(ms)
        self.sample_rss()

    def sample_rss(self) -> None:
        """Memory is sampled after every op: Python workers come and go, so
        the peak is the largest sum seen, not only the sum at the end."""
        from spans import peak_rss_mb

        self.rss_mb = max(self.rss_mb, peak_rss_mb())

    def check(self, ok: bool, what: str) -> bool:
        """An untimed correctness check (set-up and warm-up outputs)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what} differs from the expected answer")
        return ok

    def fail(self, what: str) -> None:
        msg = f"{what}: {traceback.format_exc(limit=3)}"
        self.errors.append(msg)
        print(msg, file=sys.stderr)

    def load(self, build):
        """Run ``build`` LOAD_REPS times and return the last value.

        The first, cold build (first Spark job, Python workers, JIT) counts
        as warm-up; the median of the others is the repeatable load time."""
        out = None
        for rep in range(LOAD_REPS):
            if out is not None and hasattr(out, "unpersist"):
                out.unpersist()
            with self.tracer.phase("warmup" if rep == 0 else "load"), Cost() as c:
                out = build()
            if rep == 0:
                self.warmup_s += c.wall
                self.warmup_cpu_s += c.cpu
            else:
                self.load_s.append(c.wall)
                self.load_cpu_s.append(c.cpu)
        return out

    def warmup(self, fn) -> None:
        with self.tracer.phase("warmup"), Cost() as c:
            fn()
        self.warmup_s += c.wall
        self.warmup_cpu_s += c.cpu


def _corpus(run: Run, name: str, sizes: tuple, seed_salt: str):
    from corpus import Corpus

    root = os.path.join(run.run_dir, name)
    shutil.rmtree(root, ignore_errors=True)
    seed = int(hashlib.md5(f"{run.args.seed}:{seed_salt}".encode()).hexdigest()[:8], 16)
    return Corpus(root, seed, *sizes)


def _engine(run: Run, corpus):
    """A cached engine over the corpus, materialized; returns (engine, rows per table)."""
    from steampipe_plugin_terraform_spark import TerraformEngine

    with run.tracer.span("engine.init"):
        eng = TerraformEngine(run.spark, cache=True, **corpus.globs)
    with run.tracer.span("engine.wide"):
        wide = eng.wide()
    with run.tracer.span("engine.materialize", spark=True):
        counts = dict(wide.groupBy("tf_table").count().collect())
    return eng, counts


def _public_counts(counts: dict, corpus) -> bool:
    return {t: counts.get(t, 0) for t in corpus.table_counts()} == corpus.table_counts()


def _parse_layer(run: Run, corpus, ingest_s: float | None) -> None:
    """Single-threaded ``build_rows_for_file`` over the corpus (traced runs)."""
    from steampipe_plugin_terraform_spark.tfcore.rows import build_rows_for_file

    total_s, rows, per_kind = 0.0, 0, {}
    for kind in ("config", "plan", "state"):
        paths = corpus.paths(kind)
        t_kind = 0.0
        for p in paths:
            with open(p) as f:
                text = f.read()
            t = time.perf_counter()
            rows += len(build_rows_for_file(p, kind, text))
            t_kind += time.perf_counter() - t
        per_kind[kind] = (t_kind, len(paths))
        total_s += t_kind
    n = sum(c for _, c in per_kind.values())
    for kind, (s, c) in per_kind.items():
        run.layer[f"parse.{kind}_ms_per_file"] = s * 1e3 / c if c else 0.0
    run.layer["parse.rows_per_file"] = rows / n if n else 0.0
    run.samples["parse"] = n
    if ingest_s:
        run.layer["ingest.parallel_efficiency"] = total_s / (ingest_s * run_cores())


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def tf_ingest(run: Run) -> None:
    corpus = run.load(lambda: _corpus(run, "ingest", INGEST_CORPUS, "ingest"))
    n_files = len(corpus.rows)

    def one():
        eng, counts = _engine(run, corpus)
        if run.tracer.active:
            _engine_state(run, eng)
        eng.unpersist()
        return counts

    # no warm-up: the first ingest of a fresh session is the measured one,
    # as a command-line user of the engine pays it on every invocation
    for i in range(run.n_ops):
        with Cost() as c, run.tracer.op("ingest", traced=run.traced(i)):
            try:
                ok = _public_counts(one(), corpus)
            except Exception:
                run.fail("ingest")
                ok = False
        run.record(i, c, ok)
    med_s = statistics.median(run.lat_ms) / 1e3
    run.layer["ingest.files_per_s"] = n_files / med_s
    run.samples["ingest"] = len(run.lat_ms)
    run.layer["discover.files"] = n_files
    if run.tracer.enabled:
        _parse_layer(run, corpus, med_s)


def _warm_engine(run: Run) -> "_Warm":
    """Corpus below 1,024 files, materialized engine, views registered."""
    corpus = _corpus(run, "query", QUERY_CORPUS, "query")
    eng, counts = _engine(run, corpus)
    run.check(_public_counts(counts, corpus), "set-up table counts")
    eng.register_views()
    return _Warm(eng, corpus)


class _Warm:
    def __init__(self, eng, corpus):
        self.eng, self.corpus = eng, corpus

    def unpersist(self):
        self.eng.unpersist()


def _query_ops(corpus, rng: random.Random, n: int):
    """Seeded cycle: the fourteen shapes plus two point lookups per cycle."""
    from corpus import TABLES
    from shapes import SHAPES

    ops = []
    while len(ops) < n:
        cycle = [("shape", s) for s in SHAPES]
        paths = corpus.paths()
        cycle += [("point", (rng.choice(TABLES), rng.choice(paths))) for _ in range(2)]
        rng.shuffle(cycle)
        ops += cycle
    return ops[:n]


def _run_query(run: Run, op, corpus) -> tuple[bool, str]:
    from shapes import normalize

    kind, arg = op
    if kind == "point":
        table, path = arg
        with run.tracer.span("query.exec", spark=True):
            got = run.eng.table(table, path=path).count()
        return got == corpus.file_table_count(path, table), "point"
    name, qkind, sql, expected = arg
    with run.tracer.span("query.analyze"):
        df = run.spark.sql(sql)
    with run.tracer.span("query.exec", spark=True):
        got = normalize(df.collect())
    return got == expected(corpus.all_rows), qkind


def tf_query(run: Run) -> None:
    warm = run.load(lambda: _warm_engine(run))
    run.eng, corpus = warm.eng, warm.corpus
    ops = _query_ops(corpus, run.rng, run.n_ops)
    run.warmup(lambda: [run.check(_run_query(run, op, corpus)[0], "warm-up query")
                        for op in _query_ops(corpus, random.Random(-run.args.seed), WARM_QUERIES)])
    by_kind: dict[str, list[float]] = {"json": [], "scalar": [], "point": []}
    for i, op in enumerate(ops):
        with Cost() as c, run.tracer.op("query", traced=run.traced(i)):
            try:
                ok, kind = _run_query(run, op, corpus)
            except Exception:
                run.fail(f"query {op[1][0]}")
                ok, kind = False, "point" if op[0] == "point" else op[1][1]
        run.record(i, c, ok)
        by_kind[kind].append(c.wall * 1e3)
    from spans import pct

    run.layer["query.p50_ms"] = pct(run.lat_ms, 50)
    run.layer["query.p90_ms"] = pct(run.lat_ms, 90)
    for kind, vals in by_kind.items():
        run.layer[f"query.{kind}_p50_ms"] = pct(vals, 50)
        run.samples[f"query.{kind}"] = len(vals)
    run.samples["query"] = len(run.lat_ms)
    run.layer["discover.files"] = len(corpus.rows)
    if run.tracer.enabled:
        _engine_state(run, run.eng)
        _parse_layer(run, corpus, None)
        # its numbers are per-layer only; untraced runs spend that time
        # timing more queries
        _watch_segment(run, corpus)


def _engine_state(run: Run, eng) -> None:
    """Partitions and cached size of the engine's wide frame."""
    run.layer["engine.wide_partitions"] = eng.wide().rdd.getNumPartitions()
    infos = run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    run.layer["engine.cache_mb"] = sum(i.memSize() for i in infos) / 2**20


def _tick_edits(run: Run, corpus) -> list[str]:
    """Edit EDITS_PER_TICK distinct files: a seeded mix of modify/add/delete."""
    edited: list[str] = []
    stamp = time.time_ns()
    for _ in range(EDITS_PER_TICK):
        action = run.rng.choices(("modify", "add", "delete"), (3, 1, 1))[0]
        kind = run.rng.choices(("config", "plan", "state"), (8, 1, 1))[0]
        candidates = [p for p in corpus.paths(kind) if p not in edited]
        if action == "add" or len(candidates) < 2:
            path = corpus.add(kind)
        else:
            path = run.rng.choice(candidates)
            corpus.delete(path) if action == "delete" else corpus.modify(path)
        if os.path.exists(path):
            # a distinct mtime per edit, as separate saves of a file have
            stamp += 1_000_000
            os.utime(path, ns=(stamp, stamp))
        edited.append(path)
    return edited


def _fresh_sql(paths: list[str]) -> str:
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return (
        "SELECT path, count(*), max(CAST(get_json_object(attributes_std, '$.tags.rev') AS INT)) "
        f"FROM terraform_resource WHERE path IN ({quoted}) GROUP BY path"
    )


def _fresh_expected(corpus, paths: list[str]) -> list[tuple]:
    from shapes import normalize

    out = []
    for p in paths:
        res = [r for r in corpus.rows.get(p, ()) if r.table == "terraform_resource"]
        if res:
            revs = [int(r.rev) for r in res if r.rev is not None]
            out.append((p, len(res), max(revs) if revs else None))
    return normalize(out)


def _watch_segment(run: Run, corpus) -> None:
    """WATCH_TICKS ticks on the warm engine, after the query ops.

    Each tick edits files, calls ``TerraformWatcher.poll()`` and runs one
    query that must see the edits; its latency is edit to fresh result.
    The ticks are checked like every op but timed apart from the queries,
    so the query latency stays a zero-parse measurement."""
    from shapes import normalize
    from spans import pct
    from steampipe_plugin_terraform_spark.streaming.watch import TerraformWatcher

    watcher = TerraformWatcher(run.eng)
    fresh_ms, poll_ms, query_ms, parts = [], [], [], []
    detected = edited_n = 0
    for i in range(WATCH_TICKS):
        with run.tracer.op("tick", traced=run.traced(i)):
            t = time.perf_counter()
            try:
                with run.tracer.span("corpus.edit"):
                    edited = _tick_edits(run, corpus)
                t1 = time.perf_counter()
                with run.tracer.span("watch.poll", spark=True):
                    changed = watcher.poll()
                t2 = time.perf_counter()
                with run.tracer.span("query.analyze"):
                    df = run.spark.sql(_fresh_sql(edited))
                with run.tracer.span("query.exec", spark=True):
                    got = normalize(df.collect())
                t3 = time.perf_counter()
                ok = changed == set(edited) and got == _fresh_expected(corpus, edited)
                poll_ms.append((t2 - t1) * 1e3)
                query_ms.append((t3 - t2) * 1e3)
                fresh_ms.append((t3 - t) * 1e3)
                detected += len(changed & set(edited))
                edited_n += len(edited)
                parts.append(run.eng.wide().rdd.getNumPartitions())
            except Exception:
                run.fail("tick")
                ok = False
        run.check(ok, "watch tick")
        run.sample_rss()
    # the whole corpus must still agree after every tick was applied
    counts = dict(run.eng.wide().groupBy("tf_table").count().collect())
    run.check(_public_counts(counts, corpus), "table counts after the last tick")
    run.layer["watch.poll_ms"] = pct(poll_ms, 50)
    run.layer["watch.query_after_ms"] = pct(query_ms, 50)
    run.layer["watch.detected_ratio"] = detected / edited_n if edited_n else 0.0
    run.layer["watch.partitions_first"] = parts[0] if parts else 0
    run.layer["watch.partitions_last"] = parts[-1] if parts else 0
    run.layer["watch.fresh_p50_ms"] = pct(fresh_ms, 50)
    run.layer["watch.fresh_p75_ms"] = pct(fresh_ms, 75)
    run.samples["tick"] = len(fresh_ms)


def load_pins() -> dict:
    with open(os.path.join(HERE, "catalog_pins.json")) as f:
        return json.load(f)


def digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive digest (floats to 6 significant digits)."""
    def cell(v):
        return format(v, ".6g") if isinstance(v, float) else repr(v)

    lines = sorted("\x1f".join(cell(v) for v in r) for r in rows)
    return len(lines), hashlib.md5("\x1e".join(lines).encode()).hexdigest()


def _entry(run: Run, fn, data_dir: str):
    with run.tracer.span("catalog.build"):
        t = time.perf_counter()
        df = fn(run.spark, data_dir)
        t1 = time.perf_counter()
    with run.tracer.span("catalog.exec", spark=True):
        rows = df.collect()
        t2 = time.perf_counter()
    return digest(rows), t1 - t, t2 - t1


def catalog_mix(run: Run) -> None:
    from steampipe_plugin_terraform_spark.catalog import QUERIES

    pins = load_pins()["entries"]
    names = sorted(pins)

    def build():
        data = os.path.join(run.run_dir, "data")
        shutil.rmtree(data, ignore_errors=True)
        shutil.copytree(os.path.join(HERE, "data"), data)
        return data

    data = run.load(build)

    def one_pass(i: int | None, order: list[str]) -> None:
        for name in order:
            try:
                with Cost() as c:
                    (n, dg), b, e = _entry(run, QUERIES[name], data)
                ok = (n, dg) == (pins[name]["rows"], pins[name]["digest"])
                if not ok:
                    run.errors.append(f"{name}: {n} rows, digest {dg}; pinned {pins[name]}")
            except Exception:
                run.fail(name)
                ok, b, e = False, 0.0, 0.0
            run.check(ok, name)
            if i is not None:
                per_entry.setdefault(name, []).append(b + e)
                entry_cpu_ms.setdefault(name, []).append((c.cpu - c.jit) * 1e3)
                if run.traced(i):
                    build_ms.append(b * 1e3)
                    exec_s.append(e)

    per_entry: dict[str, list[float]] = {}
    entry_cpu_ms: dict[str, list[float]] = {}
    build_ms: list[float] = []
    exec_s: list[float] = []
    run.warmup(lambda: [one_pass(None, names) for _ in range(WARM_PASSES)])
    for i in range(run.n_ops):
        order = names[:]
        run.rng.shuffle(order)
        with Cost() as c, run.tracer.op("pass", traced=run.traced(i)):
            one_pass(i, order)
        run.record(i, c, None)
    passes = len(run.lat_ms)
    run.op_cpu_ms = sum(statistics.median(v) for v in entry_cpu_ms.values())
    run.detail["entry_cpu_ms"] = entry_cpu_ms
    run.layer["catalog.pass_s"] = statistics.median(run.lat_ms) / 1e3
    run.layer["catalog.build_ms"] = sum(build_ms) / max(1, len(run.traced_ms))
    run.layer["catalog.exec_s"] = sum(exec_s) / max(1, len(run.traced_ms))
    fam: dict[str, float] = {}
    for name, vals in per_entry.items():
        med = statistics.median(vals)
        run.layer[f"catalog.{name}_s"] = med
        key = next((v for k, v in CATALOG_FAMILIES.items() if name.startswith(k)), RELATIONAL)
        fam[key] = fam.get(key, 0.0) + med
    run.layer.update(fam)
    run.samples["pass"] = passes
    run.samples["entry"] = sum(len(v) for v in per_entry.values())


WORKLOADS = {
    "tf_ingest": tf_ingest,
    "tf_query": tf_query,
    "catalog_mix": catalog_mix,
}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _instrument(tracer) -> None:
    """Spans around the package's public functions, for traced runs only."""
    from steampipe_plugin_terraform_spark import engine
    from steampipe_plugin_terraform_spark.streaming import watch

    tracer.wrap(engine, "discover_files", "discover")
    tracer.wrap(watch, "discover_files", "discover")
    tracer.wrap(engine.TerraformEngine, "refresh", "engine.refresh")


def layer_metrics(run: Run, session: Cost, box: dict) -> dict[str, float]:
    tracer = run.tracer
    m = dict.fromkeys((x["name"] for x in _bench_spec()["per_layer"]), 0.0)
    m.update(run.layer)
    m["session.start_s"] = session.wall
    m["session.warmup_s"] = run.warmup_s
    m["setup.load_s"] = statistics.median(run.load_s)
    m["setup.wall_s"] = session.wall + run.warmup_s + statistics.median(run.load_s)
    m["op.p50_ms"] = statistics.median(run.lat_ms)
    m["memory.peak_rss_mb"] = run.rss_mb
    n_traced = max(1, len(run.traced_ms))
    for name, ms in tracer.self_ms(in_ops=True).items():
        m[f"self.{name}_ms"] = ms
    main_op = {"tf_ingest": "ingest", "tf_query": "query", "catalog_mix": "pass"}[run.args.workload]
    op_spans = [s for s in tracer.spans if s.parent is None and s.attrs.get("op") == main_op]
    m["spark.jobs"] = sum(s.jobs for s in op_spans) / n_traced
    m["spark.stages"] = sum(s.stages for s in op_spans) / n_traced
    m["spark.tasks"] = sum(s.tasks for s in op_spans) / n_traced

    def mean_ms(name):
        # spans of traced ops; layers that only run in set-up use set-up spans
        d = tracer.durations(name, in_ops=True) or tracer.durations(name)
        return sum(d) / len(d) if d else 0.0

    m["discover.ms"] = mean_ms("discover")
    m["engine.init_ms"] = mean_ms("engine.init")
    m["engine.materialize_s"] = mean_ms("engine.materialize") / 1e3
    m["query.analyze_ms"] = mean_ms("query.analyze")
    m["query.exec_ms"] = mean_ms("query.exec")
    m["ops.failed_ratio"] = run.failed / max(1, run.attempted)
    m["box.canary_ms"] = box["canary_ms"]
    m["box.steal_ticks"] = box["steal_ticks"]
    if run.traced_ms and len(run.untraced_ms) > 1:
        m["trace.overhead_ratio"] = statistics.median(run.traced_ms) / statistics.median(run.untraced_ms[1:])
    return m


def metric_samples(run: Run, names) -> dict[str, int]:
    """How many measurements each reported metric is computed from."""
    s = run.samples
    traced = len(run.traced_ms)
    by_prefix = [
        ("setup_s", len(run.load_s)), ("op_cpu_ms", len(run.lat_ms)),
        ("op.", len(run.lat_ms)), ("memory.", len(run.lat_ms)),
        ("setup.load_s", len(run.load_s)), ("query.", s.get("query", 0)),
        ("watch.", s.get("tick", 0)), ("parse.", s.get("parse", 0)),
        ("ingest.", s.get("ingest", 0)), ("catalog.", s.get("pass", 0)),
        ("operators.", s.get("pass", 0)), ("spark.", traced), ("self.", traced),
        ("discover.ms", traced), ("trace.", len(run.lat_ms)),
        ("ops.", run.attempted), ("box.canary_ms", 2),
    ]
    return {n: next((c for p, c in by_prefix if n.startswith(p)), 1) for n in names}


def trimmed_mean(values: list[float], cut: float = 0.1) -> float:
    """Mean of ``values`` without the lowest and the highest ``cut`` share."""
    v = sorted(values)
    k = int(len(v) * cut)
    return statistics.mean(v[k:len(v) - k])


def e2e_metrics(run: Run, session: Cost) -> dict[str, float]:
    return {
        "setup_s": session.cpu + run.warmup_cpu_s + statistics.median(run.load_cpu_s),
        "op_cpu_ms": run.op_cpu_ms if run.op_cpu_ms is not None else trimmed_mean(run.cpu_ms),
    }


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import Tracer, canary_ms, steal_ticks

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    settings = configure(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        canary = [canary_ms()]
        steal0 = steal_ticks()
        spark, session = start_session(tracer)
        if args.trace:
            _instrument(tracer)
        run = Run(args, spark, tracer, run_dir)
        WORKLOADS[args.workload](run)
        tracer.unwrap()
        steal = steal_ticks() - steal0
        canary.append(canary_ms())
        run.sample_rss()
        steal_share = steal / max(1e-9, (time.perf_counter() - T0) * run_cores() * 100)
        box = {"canary_ms": statistics.median(canary), "canary_samples_ms": canary,
               "steal_ticks": steal, "steal_share": steal_share,
               # contended runs are flagged, never dropped
               "flagged": steal_share > STEAL_FLAG or canary[1] > CANARY_FLAG * canary[0]}
        if args.trace:
            metrics = layer_metrics(run, session, box)
            units = {x["name"]: x["unit"] for x in _bench_spec()["per_layer"]}
        else:
            metrics = e2e_metrics(run, session)
            units = {x["name"]: x["unit"] for x in _bench_spec()["end_to_end"]}
        counts = metric_samples(run, units)
        line = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
        full = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "settings": settings, "box": box,
            "samples": {**run.samples, "ops": len(run.lat_ms), "load": len(run.load_s)},
            "phases_s": {"session": session.wall, "load": run.load_s, "warmup": run.warmup_s,
                         "ops_cpu": sum(run.cpu_ms) / 1e3, "ops_jit": run.jit_s,
                         "session_cpu": session.cpu,
                         "warmup_cpu": run.warmup_cpu_s, "load_cpu": run.load_cpu_s,
                         "ops": sum(run.lat_ms) / 1e3, "process": time.perf_counter() - T0},
            "metric_samples": counts, "layer": run.layer,
            "latencies_ms": run.lat_ms, "cpu_ms": run.cpu_ms, "jit_ms": run.jit_ms, **run.detail, "errors": run.errors[:20],
            "result": line,
        }
        out = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
        if args.trace:
            tracer.dump(out, full)
        else:
            with open(out, "w") as f:
                json.dump(full, f)
        print(json.dumps({"samples": full["samples"], "phases_s": full["phases_s"], "box": box, "settings": {
            k: settings[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "cores")}}))
        print(json.dumps(line))
        return 0
    finally:
        tracer.unwrap()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
