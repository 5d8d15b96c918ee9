"""Duplicate-cluster resolution: distributed connected components.

Near-dup pair generators (minhash_lsh_pairs, simhash_near_dups,
cosine_near_dup_pairs) emit EDGES; an actual dedup pass needs COMPONENTS —
"these 17 docs are all the same article; keep one". This module closes that
gap with the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), the standard
shuffle-bounded formulation:

- large-star: for every node u, connect every strictly-larger neighbor to
  the minimum of u's neighborhood (including u).
- small-star: orient every edge toward the smaller endpoint; connect every
  neighbor ≤ u (and u itself) to the neighborhood minimum.

Each round is one groupBy shuffle over the edge list; the edge count never
grows beyond the input size + node count, and the number of rounds is
O(log n) — vs O(graph diameter) for naive label propagation, which
degenerates on chain-shaped duplicate runs (crawl mirrors, boilerplate
families). At convergence every node points directly at its component's
minimum id, which we use as the cluster id.

Scale notes (100 TB design point):
- per-round lineage is truncated with localCheckpoint(eager): iterative
  DataFrame loops otherwise accumulate a plan per round and re-execute
  the whole history every round (and overwhelm the optimizer by ~round 8).
- convergence test is a one-job set-equality aggregate (full-outer join
  null check over the checkpointed round outputs), never a collect of
  rows.
- the hub nodes large-star creates (everything links to the component min)
  are bounded: large-star emits only (bigger → min) edges, so a component
  of size k contributes ≤ k rows keyed by its min — the classic skew is on
  the GROUP BY of the min-keyed star, which AQE skew-split handles since
  the combiner (min) is associative and applies map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import rounding


def _star_round(edges: DataFrame, large: bool, dedup_output: bool = True) -> DataFrame:
    """One large-star or small-star round over an undirected edge list with
    columns (u, v). Returns a (u, v) edge list with u != v, deduplicated
    unless ``dedup_output=False`` — a large-star round feeding straight
    into a small-star round skips its distinct (one exchange fewer per
    iteration): small-star's collect_set/min aggregation
    dedups neighbor multisets anyway, so duplicate (a, m) rows cannot
    change its output, only ride one shuffle (where map-side partial
    collect_set already collapses them)."""
    if large:
        # symmetric view: every node sees its full neighborhood
        nbrs = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # m = min over N(u) ∪ {u}; connect strictly-larger neighbors to m
        grouped = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"),
            F.collect_set("v").alias("nv"),
        )
        out = grouped.select(
            F.explode("nv").alias("a"), F.col("m").alias("b"), F.col("u")
        ).where(F.col("a") > F.col("u"))
    else:
        # orient toward the smaller endpoint: key = max, value = min
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        grouped = oriented.groupBy("u").agg(
            F.min("v").alias("m"), F.collect_set("v").alias("nv")
        )
        # connect u and every (≤ u) neighbor to the minimum
        out = grouped.select(
            F.explode(F.array_union("nv", F.array("u"))).alias("a"),
            F.col("m").alias("b"),
        )
    out = out.select(F.col("a").alias("u"), F.col("b").alias("v")).where(
        F.col("u") != F.col("v")
    )
    return out.distinct() if dedup_output else out


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the smallest node id in the node's connected component.

    ``pairs`` is an undirected edge list (duplicate pairs); direction and
    duplicate edges are irrelevant.
    """
    edges = (
        pairs.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_rounds):
        after_large = _star_round(edges, large=True, dedup_output=False)
        after_small = _star_round(after_large, large=False).localCheckpoint(eager=True)
        # fixpoint test in ONE job: small-star output is a distinct
        # canonically-oriented (u > v) set, so set-equality with the
        # previous round is exactly "no one-sided row in a full outer join
        # on (u, v)". Duplicate rows that the greatest/least
        # canonicalization of a first-round directed edge list can create
        # on the prev side cannot flip the test — a key is one-sided or it
        # is not — at most they let it converge one (provably no-op) round
        # earlier. Both sides are localCheckpointed, so the test job reads
        # materialized partitions, not lineage.
        canon_prev = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mismatch = (
            after_small.withColumn("__a", F.lit(1))
            .join(canon_prev.withColumn("__b", F.lit(1)), ["u", "v"], "full")
            .where(F.col("__a").isNull() | F.col("__b").isNull())
        )
        converged = mismatch.isEmpty()
        edges = after_small
        if converged:
            break
    if not converged:
        # star-contraction needs O(log n) rounds; hitting the cap means the
        # labels may not be component minima yet — surface it loudly rather
        # than silently returning partial clusters
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds; "
            "raise max_rounds (the alternating algorithm needs O(log n) rounds)"
        )
    # converged star graph: every non-min node points at its component min
    stars = edges.select(F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component"))
    mins = stars.select(F.col("component").alias("node"), F.col("component"))
    return stars.unionByName(mins).distinct()


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """Full dedup assignment over a corpus: (doc_id, cluster_id,
    is_canonical) for EVERY document — docs in no near-dup pair form
    singleton clusters of themselves; within a cluster the smallest doc_id
    is canonical (the copy a dedup pass keeps).
    """
    comp = connected_components(pairs, src=src, dst=dst).withColumnRenamed("node", "doc_id")
    # the component map holds only nodes that appear in a near-dup pair —
    # typically a small fraction of the corpus — so broadcast it when it is;
    # past the limit fall back to a hash join on uniformly-distributed ids
    if comp.count() <= broadcast_limit:
        comp = F.broadcast(comp)
    out = docs.select(F.col(id_col).cast("long").alias("doc_id")).join(comp, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("cluster_id"),
        (F.coalesce("component", "doc_id") == F.col("doc_id")).alias("is_canonical"),
    )


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    digits: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, engine-portable:
    PR_{t+1}(v) = (1-d) + d·Σ_{u→v} PR_t(u)/outdeg(u), each iteration's
    ranks SNAPPED to the ``digits`` grid so a SQL engine unrolling the
    same iterations stays in lockstep (the contribution sum is the only
    order-sensitive op; snapping per iteration stops ulp drift from
    compounding across iterations). Dangling nodes (no out-edges)
    contribute nothing — the original simplified formulation; their rank
    floor is (1-d).

    This is the DataFrame-iterative graph idiom (Spark has no GraphX for
    Python, and an iterative join/agg loop IS the scalable formulation):
    per iteration one edges⋈ranks join keyed on src — co-partitioned
    after the first shuffle since edges are iteration-invariant — and one
    groupBy(dst) contribution shuffle. Fixed iters keeps the oracle
    expressible as unrolled CTEs; for convergence-driven runs, loop on an
    aggregate delta like ``connected_components`` does.

    Scale: per-iteration lineage is truncated with localCheckpoint(eager)
    (same reason as ``connected_components`` — an un-truncated loop
    re-executes the whole history every round); edge skew (a hub dst)
    lands on the contribution groupBy where the sum combiner applies
    map-side, and AQE splits residual skew.

    Returns (node, pr) for every node appearing as src or dst.
    """
    teleport = f"{1.0 - damping:g}"
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    out = e.groupBy("src").agg(F.count("*").alias("__odeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pr = nodes.withColumn("pr", F.lit(1.0))
    for _ in range(iters):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(out, "src")
            .select(F.col("dst").alias("node"), F.expr("pr / __odeg").alias("c"))
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(s, "node", "left")
            .select(
                "node",
                F.expr(
                    rounding.snap_sql(f"{teleport} + {damping:g} * COALESCE(s, 0.0)", digits)
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr


def triangle_counts(
    edges: DataFrame, a: str = "a", b: str = "b", checkpoint: bool = True
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (canonical
    a < b, no self-loops), by DEGREE-ORDERED ORIENTATION — the device that
    makes distributed triangle counting tractable: orient every edge from
    its lower-(degree, id) endpoint to the higher one, enumerate wedges
    only from each node's oriented out-neighborhood, and close them
    against the canonical edge set. Out-degrees under this orientation
    are bounded by O(sqrt(|E|)) regardless of raw degree skew (a
    20M-follower hub has huge in-degree but tiny oriented out-degree), so
    the wedge join fans out O(|E|^1.5) worst-case instead of Σ deg² —
    the difference between feasible and not on a power-law graph.

    Returns (node, triangles) for nodes in ≥1 triangle, all-integer.

    Scale shape: two groupBy shuffles (degree, final count) plus two
    equi-joins (orientation lookup, wedge closure) on uniform hashed
    keys; no cartesian anywhere and the wedge set — not the raw
    adjacency square — is the largest intermediate. The edge set feeds
    THREE consumers (degree count, orientation join, wedge closure), so
    it is materialized once with localCheckpoint(eager) instead of
    re-deriving its upstream (often a self-join) per consumer
    (``checkpoint=False`` keeps the fully lazy plan for plan tests).
    """
    e = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    if checkpoint:
        e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    o = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b")),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(F.struct(F.col("b").alias("src"), F.col("a").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    w = (
        o.alias("x")
        .join(o.alias("y"), on=F.expr("x.src = y.src AND x.dst < y.dst"))
        .select(F.col("x.src").alias("c"), F.col("x.dst").alias("v"), F.col("y.dst").alias("u"))
    )
    tri = w.join(
        e, on=F.expr("least(v, u) = a AND greatest(v, u) = b")
    ).select("c", "v", "u")
    return (
        tri.select(F.explode(F.array("c", "v", "u")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    iters: int = 3,
    a: str = "a",
    b: str = "b",
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list (canonical
    a < b): each round drops every node whose CURRENT degree is < k, then
    drops edges touching a dropped node. After ``iters`` rounds the
    survivors are an upper bound on the true k-core (full convergence
    loops until no node drops — fixed rounds keep the oracle expressible
    as unrolled CTEs, same trade as ``pagerank_fixed``; peeling converges
    geometrically in practice, so a few rounds remove the bulk).

    Returns (node, degree) — survivors with their residual degree after
    the final round. All-integer.

    Scale shape: per round one map-side-combined degree groupBy plus two
    semi-joins filtering the edge list (AQE broadcasts the survivor set
    once it shrinks); lineage is truncated per round with
    localCheckpoint(eager) so round N doesn't re-execute rounds 1..N-1
    (``checkpoint=False`` keeps the full declared plan — for plan tests
    and engines that prefer one lazy composition).
    """
    e = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))

    def deg(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("n"))
            .union(ed.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )

    for _ in range(iters):
        keep = deg(e).filter(F.col("d") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
        )
        if checkpoint:
            e = e.localCheckpoint(eager=True)
    return (
        deg(e)
        .filter(F.col("d") >= k)
        .select(F.col("n").alias("node"), F.col("d").cast("long").alias("degree"))
    )
