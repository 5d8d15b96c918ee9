"""Alternating pairs of one benchmark workload: a base revision against the
working tree.

    python3 tools/perf_pairs.py --workload catalog_mix --base HEAD --pairs 10 --seed <unused seed>

Both sides run ``perfbench/run.py --trace 0`` from a clean ``git archive``
copy in a temporary directory: the base from ``--base``, the change from
the working tree as ``git add -A`` would stage it (tracked edits and new
files the ``.gitignore`` lets through). Pair ``i`` runs seed ``seed + i``
on both sides, the base first on even pairs and the change first on odd
ones, so a box that drifts during the run weighs on both sides alike.

Prints one line per run (its end-to-end metrics, ``failed``, the session
and warm-up CPU, and the timed operations' CPU outside and inside the
driver JVM's JIT compiler threads, ``ops_cpu`` and ``ops_jit``), then for
each end-to-end metric of ``BENCHMARK.json`` and each of those CPU figures
both sides' median and quartiles and how many pairs the change won.
``op_cpu_ms`` leaves the JIT threads out, so a change that moves compile
work shows only in ``ops_jit``. Run it solo: another process on the box
inflates samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# CPU-s figures of a run's phases_s, summarized next to the end-to-end metrics
_PHASES = ("session_cpu", "warmup_cpu", "ops_cpu", "ops_jit")


def _git(*args: str, **kw) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True, **kw).stdout.strip()


def _working_tree() -> str:
    """A tree object of the working tree, staged into a scratch index so
    the real index is left alone."""
    with tempfile.TemporaryDirectory() as tmp:
        index = os.path.join(tmp, "index")
        shutil.copy(os.path.join(ROOT, _git("rev-parse", "--git-path", "index")), index)
        env = {**os.environ, "GIT_INDEX_FILE": index}
        _git("add", "-A", env=env)
        return _git("write-tree", env=env)


def _export(tree: str, dest: str) -> str:
    os.makedirs(dest)
    with subprocess.Popen(["git", "archive", tree], cwd=ROOT, stdout=subprocess.PIPE) as archive:
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.returncode != 0:
        raise SystemExit(f"git archive {tree} failed")
    return dest


def _run(copy: str, workload: str, seed: int, seconds: float) -> dict:
    # the copy alone on the path: a checkout on the caller's PYTHONPATH
    # would reach the Python workers ahead of it
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=copy, env={**os.environ, "PYTHONPATH": copy}, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{copy}: seed {seed} failed:\n{out.stderr[-3000:]}")
    line = json.loads(out.stdout.splitlines()[-1])
    with open(os.path.join(copy, "perfbench", "work", "results", f"{workload}-s{seed}-t0.json")) as f:
        phases = json.load(f)["phases_s"]
    return {"failed": line["failed"], **{k: v["value"] for k, v in line["metrics"].items()},
            **{k: phases[k] for k in _PHASES}}


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q1, med, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", default="HEAD", help="revision of the base side")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    trees = {"base": _git("rev-parse", f"{args.base}^{{tree}}"), "change": _working_tree()}
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="perf-pairs-") as tmp:
        copies = {side: _export(tree, os.path.join(tmp, side)) for side, tree in trees.items()}
        for i in range(args.pairs):
            seed = args.seed + i
            for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                r = _run(copies[side], args.workload, seed, spec["run_seconds"])
                runs[side].append(r)
                print(f"pair {i} seed {seed} {side:6}", json.dumps(r), flush=True)

    names = [(m["name"], m["better"]) for m in spec["end_to_end"]]
    for name, better in [*names, *((p, "lower") for p in _PHASES)]:
        sides = {s: [r[name] for r in runs[s]] for s in runs}
        wins = sum((c < b) if better == "lower" else (c > b)
                   for b, c in zip(sides["base"], sides["change"]))
        (bq1, bmed, bq3), (cq1, cmed, cq3) = (_quartiles(sides[s]) for s in ("base", "change"))
        print(f"{args.workload} {name}: base median {bmed:.4g} (quartiles {bq1:.4g}-{bq3:.4g}), "
              f"change median {cmed:.4g} (quartiles {cq1:.4g}-{cq3:.4g}), "
              f"{(cmed - bmed) / bmed:+.1%}, change won {wins}/{args.pairs}, "
              f"|median change| {'>' if abs(cmed - bmed) > bq3 - bq1 else '<='} base IQR {bq3 - bq1:.4g}")
    failed = sum(r["failed"] for side in runs.values() for r in side)
    print(f"{args.workload}: {failed} failed operations over {2 * args.pairs} runs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
