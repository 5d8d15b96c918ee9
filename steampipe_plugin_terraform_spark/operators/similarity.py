"""Similarity search over embedding columns (array<float>).

Tiers (SURVEY.md §2.11):
- brute-force cosine top-k — exact baseline. The corpus is hash-blocked;
  queries replicate to each block; each block task does one BLAS matmul
  and emits its local top-k, so the global rank window shuffles
  |Q|·blocks·k rows, never the |Q|·|C| cartesian. Cost is still
  O(|Q|·|C|·d) compute (exactness demands it) but embarrassingly parallel
  with no driver materialization.
- all-pairs near-dup — same blocking on BOTH sides over the
  block-pair grid (B·(B+1)/2 cogroups), matmul per block pair. By default
  an input under two slices of bytes (``parallel.slices``) is one block in
  one task, with no shuffle; a larger one gets 8 blocks.
- LSH (random hyperplane) bucketed search — the scale path: sign-bit
  signatures (one Arrow-batched matmul against the broadcast plane matrix)
  put similar vectors in the same bucket; only bucket-colliding pairs are
  scored. Hyperplanes are generated deterministically from a seed.
- IVF (k-means coarse quantizer) — bucketed index + nprobe pruning.

Dense pairwise linear algebra is the one sanctioned Python hot path
(CLAUDE.md): interpreted zip_with/aggregate lambdas measured 66 s for the
2M-pair matmul BLAS does in well under a second.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import rounding
from ..parallel import plan_bytes, slices, spread


def _dot(a: str, b: str) -> Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _norm(a: str) -> Column:
    return F.sqrt(F.expr(f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"))


def _corpus_blocks(df: DataFrame, id_col: str, num_blocks: int) -> "Column":
    """Uniform deterministic block id for a vector row: xxhash64 of the id
    mod num_blocks — uniform for ANY id distribution (ids that are all
    congruent mod B would make ``id % B`` a single hot block)."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int")


def _snapped_cosine(pairs: DataFrame) -> DataFrame:
    """Add ``cosine`` = qv·cv / (|qv|·|cv|) snapped to the 1e-6 grid."""
    scored = pairs.withColumn("cosine", _dot("qv", "cv") / (_norm("qv") * _norm("cv")))
    return scored.withColumn("cosine", F.expr(rounding.snap_sql("cosine", 6)))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k under the strict total order (cosine DESC,
    neighbor_id ASC): ranking on the ROUNDED score with the id tiebreak
    keeps floating-point last-ulp differences between engines from
    flipping a rank. Returns (query_id, neighbor_id, cosine, rank)."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int | None = 6,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Shape (100 TB path): the corpus is hash-split into ``num_blocks``
    blocks; queries are replicated to every block (a broadcast join on a
    ``num_blocks``-row literal — queries are the small side by contract).
    Each (block) cogroup task computes the dense |Q|×|C|/B score matrix
    with one BLAS matmul (dense linear algebra is the sanctioned Python
    path — interpreted zip_with/aggregate lambdas measured ~30× slower)
    and emits only its LOCAL top-k per query under the global total order,
    so the final rank window shuffles |Q|·num_blocks·k rows instead of
    the |Q|·|C| cartesian. Local top-k under the same strict total order
    (rounded score desc, id asc) is a superset of each block's
    contribution to the global top-k, so the result is exact.

    Returns (query_id, neighbor_id, cosine, rank), ranked by ``_top_k``.
    """
    # replicate queries to every block via explode — no join, no broadcast,
    # whole-stage codegen (queries are the small side by contract)
    q_rep = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.expr(f"sequence(0, {num_blocks - 1})")).alias("blk"),
    )
    c_blk = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _corpus_blocks(corpus, id_col, num_blocks).alias("blk"),
    )

    def block_topk(lpdf, rpdf):
        import pandas as pd

        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        qids = lpdf["query_id"].to_numpy()
        Q = np.stack(lpdf["qv"].to_numpy()).astype("float64")
        nids = rpdf["neighbor_id"].to_numpy()
        C = np.stack(rpdf["cv"].to_numpy()).astype("float64")
        S = (Q @ C.T) / np.outer(
            np.sqrt((Q * Q).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
        )
        if round_digits is not None:
            S = rounding.snap_np(S, round_digits)
        melt = pd.DataFrame(
            {
                "query_id": np.repeat(qids, len(nids)),
                "neighbor_id": np.tile(nids, len(qids)),
                "cosine": S.ravel(),
            }
        )
        return (
            melt.sort_values(
                ["query_id", "cosine", "neighbor_id"], ascending=[True, False, True]
            )
            .groupby("query_id", sort=False)
            .head(k)
        )

    local = (
        q_rep.groupby("blk")
        .cogroup(c_blk.groupby("blk"))
        .applyInPandas(block_topk, "query_id long, neighbor_id long, cosine double")
    )
    return _top_k(local, k)


# Training-sample cap of the Lloyd trainer (_lloyd_subspaces), mirrored by
# the oracle's `tr` CTE (catalog._lloyd_parts) — the two MUST stay in
# lockstep. 65536 exceeds every test corpus (≤ 2000 vectors), so the cap is
# a provable no-op at every tested SF; at scale it bounds the per-iteration
# assignment to cap·k·d FLOPs and the training scan to cap rows,
# independent of corpus size.
TRAIN_CAP = 65536


def _nearest(V, C, digits: int):
    """Row-wise nearest centroid: argmin over the squared distances
    |v|² - 2v·c + |c|² (one BLAS matmul) snapped to the 10^-``digits``
    grid, which absorbs summation-order ulp differences between BLAS and a
    SQL engine's sequential fold. np.argmin returns the FIRST minimum →
    smallest cid, the same tiebreak as SQL's ORDER BY qdist, cid."""
    D = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(axis=1)[None, :]
    return np.argmin(rounding.snap_np(D, digits), axis=1)


def _encode(df: DataFrame, books, dsub: int, dist_digits: int) -> DataFrame:
    """(id, v, code0..code{m-1}) for ``df``'s (id, v array<double>) rows:
    code j is the nearest codeword (``_nearest``) of subspace j's slice of
    ``v``, one Arrow-batched mapInPandas with the codebooks broadcast."""
    bc = df.sparkSession.sparkContext.broadcast(books)

    def go(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy()).astype("float64")
            out = {"id": pdf["id"], "v": pdf["v"]}
            for j, Cj in enumerate(bc.value):
                Vj = V[:, j * dsub : (j + 1) * dsub]
                out[f"code{j}"] = _nearest(Vj, Cj, dist_digits).astype("int32")
            yield pd.DataFrame(out)

    codes = ", ".join(f"code{j} int" for j in range(len(books)))
    return df.mapInPandas(go, f"id {dict(df.dtypes)['id']}, v array<double>, {codes}")


def _lloyd_subspaces(
    base: DataFrame,
    m: int,
    k: int,
    iters: int,
    dist_digits: int,
    mean_digits: int,
    train_cap: int | None,
) -> list:
    """The one deterministic Lloyd trainer: k-means run jointly in each of
    the ``m`` contiguous subspaces of ``base``'s (id, v array<double>)
    vectors. m = 1 is the IVF coarse quantizer (``kmeans_lloyd``); m > 1
    trains the PQ codebooks (``pq_codebooks_encode``) — product
    quantization is k-means once per subspace. Every step is defined so a
    SQL engine can replay it bit-for-bit (catalog._lloyd_parts):

    - training set: the ``train_cap`` vectors with smallest ``(md5(id),
      id)`` — a distributed TakeOrdered, persisted across the iteration
      loop and released in a ``finally``. The cap is a no-op below
      ``train_cap`` rows (every tested SF) and at scale bounds training to
      cap·k·d FLOPs per iteration instead of N·k·d (see TRAIN_CAP).
    - init: the k training vectors with smallest ``(md5(id), id)`` (a
      prefix of the same ordering, so seeds ⊂ sample by construction);
      cid = rank in that order, and subspace j's seeds are slice j of the
      same k vectors. Because seeds are drawn FROM the capped sample,
      ``k`` cannot exceed ``train_cap`` — the sample would silently
      truncate the codebook to train_cap centroids while the caller (and
      the oracle's ``ksel`` CTE) still believed in k, so this raises
      instead. With the √N cap (``catalog._effective_k``) k passes 65536
      only around N ≈ 4.3e9 vectors: use ``kmeans_two_level`` there
      (SCALE.md "IVF at 100 TB").
    - assignment: one Arrow-batched mapInPandas per iteration scores every
      subspace with ``_nearest`` (``dist_digits`` grid, smallest-cid
      tiebreak).
    - update: element-wise means via posexplode + groupBy(subspace,
      bucket, pos) — map-side combined, so the shuffle carries k·dim
      partial rows regardless of training-set size — re-packed JVM-side
      into m·k rows of dsub-arrays (collect_list sorted by pos) so the
      driver collects m·k ROWS, not k·dim; QUANTIZED to ``mean_digits``.
      Empty clusters keep their previous centroid.

    The driver holds only the k×dim centroid state between iterations;
    vectors never leave the executors. Returns the m codebooks as k×dsub
    numpy arrays (fewer than k rows when the input has fewer vectors).
    """
    if train_cap is not None and k > train_cap:
        raise ValueError(
            f"k={k} exceeds train_cap={train_cap}: seeds are a prefix of the "
            "capped training sample, so the codebook would silently truncate "
            "to train_cap centroids. Raise train_cap or use kmeans_two_level "
            "(the design point for k past broadcast-comfortable sizes)."
        )
    train = base.withColumn("__mk", F.md5(F.col("id").cast("string")))
    persisted = None
    try:
        if train_cap is not None:
            # The global limit lands the sample in ONE partition — re-spread
            # it by id hash (deterministic) so the 1 + iters training passes
            # stay executor-parallel; persisted so they don't re-sort the
            # corpus (at scale: one sort + one tiny shuffle, then cap-row
            # cached scans)
            n_part = max(2, base.sparkSession.sparkContext.defaultParallelism)
            train = train.orderBy("__mk", "id").limit(int(train_cap)).repartition(n_part, "id")
            persisted = train.persist()
        seeds = train.orderBy("__mk", "id").limit(k).select("v").collect()
        width = len(seeds[0].v) if seeds else 0
        S = np.asarray([r.v for r in seeds], dtype="float64").reshape(len(seeds), width)
        dsub = width // m
        C = [S[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]
        codes = [f"code{j}" for j in range(m)]
        # a position's subspace and its bucket, that subspace's code; at
        # m = 1 the literal subspace drops out of the grouping keys
        sub, bucket = F.lit(m - 1), F.col(codes[-1])
        for j in reversed(range(m - 1)):
            first = F.col("pos") < (j + 1) * dsub
            sub = F.when(first, j).otherwise(sub)
            bucket = F.when(first, F.col(codes[j])).otherwise(bucket)
        for _ in range(iters):
            # two-stage mean: (subspace, bucket, pos) partials map-side
            # combine, then an m·k-row re-pack into dsub-arrays
            means = (
                _encode(train, C, dsub, dist_digits)
                .select(F.posexplode("v").alias("pos", "x"), *codes)
                .groupBy(sub.alias("sub"), bucket.alias("bucket"), "pos")
                .agg(F.avg("x").alias("m"))
                .groupBy("sub", "bucket")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
                    ).alias("mv")
                )
                .collect()
            )
            for r in means:
                C[r.sub][r.bucket] = rounding.snap_np(np.asarray(r.mv, dtype="float64"), mean_digits)
    finally:
        if persisted is not None:
            persisted.unpersist()
    return C


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    dist_digits: int = 4,
    mean_digits: int = 6,
    train_cap: int | None = TRAIN_CAP,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic distributed Lloyd k-means — the engine-PORTABLE coarse
    quantizer behind the oracle-checked IVF entries: ``_lloyd_subspaces``
    with m = 1 (its docstring has the sample, seed, assignment and update
    rules the DuckDB oracle replays), then one full-corpus assignment.

    With the sqrt-N cap on k (catalog._effective_k) the k×dim centroid
    matrix is ≤ √N·dim doubles; past broadcast-comfortable sizes the
    design point is a two-level coarse quantizer (SCALE.md "IVF at 100
    TB"). Returns (assigned (id, vec, bucket) DataFrame, final centroids).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    (C,) = _lloyd_subspaces(base, 1, k, iters, dist_digits, mean_digits, train_cap)
    centroids = C.tolist()
    # the final full-corpus assignment IS assign_to_centroids — sharing
    # the implementation is what makes the incremental-ingest identity
    # (assign a later batch to these frozen centroids ≡ the assignment a
    # full rebuild with the same centroids would produce) unbreakable by
    # a one-sided edit, the same device as the SCD2 merge/rebuild pair
    final = assign_to_centroids(
        df, centroids, id_col=id_col, vec_col=vec_col, dist_digits=dist_digits
    )
    return final, centroids


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_digits: int = 4,
) -> DataFrame:
    """Assign vectors to a FIXED centroid list with ``kmeans_lloyd``'s
    exact assignment semantics (squared distances quantized to
    ``dist_digits`` with first-min / smallest-cid tiebreak, one BLAS
    matmul per Arrow batch). This is the incremental-ingest half of IVF
    maintenance: a new-vector batch joins an existing index without
    retraining — per-row independent, so batch-assign ∪ stored
    assignments ≡ a full re-assignment against the same centroids.
    Returns (id_col, vec_col, bucket int); no shuffle, no driver data."""
    spark = df.sparkSession
    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec_col]
    Cm = np.asarray(centroids, dtype="float64")
    bc = spark.sparkContext.broadcast(Cm)

    def go(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # float32 → float64 widening is exact, so this matches the
            # training path's transform(vec, x -> CAST(x AS DOUBLE))
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "bucket": _nearest(V, bc.value, dist_digits).astype("int32"),
                }
            )

    schema = f"{id_col} {id_type}, {vec_col} {vec_type}, bucket int"
    return df.select(id_col, vec_col).mapInPandas(go, schema)


def kmeans_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k1: int = 16,
    k2: int = 16,
    iters: int = 2,
    dist_digits: int = 4,
    mean_digits: int = 6,
    train_cap: int | None = TRAIN_CAP,
) -> tuple[DataFrame, DataFrame, list[list[float]]]:
    """Two-level deterministic coarse quantizer — the 100 TB design point
    SCALE.md names for corpus-derived cell counts past what single-level
    Lloyd can train (k = N/K_TARGET ≈ 120k-500k cells).

    Level 1 is ``kmeans_lloyd`` (k1 cells, TRAIN_CAP-sampled training);
    level 2 runs an INDEPENDENT deterministic Lloyd inside every level-1
    cell (k2 sub-cells each, or |cell| when smaller) as one
    ``applyInPandas`` over the cell groups — per-cell local numpy with
    exactly the single-level rules (md5-rank seeds, 1e-``dist_digits``
    quantized distances with first-min = smallest-cid tiebreak,
    1e-``mean_digits`` quantized means, empty clusters keep their
    centroid), so a SQL engine replays both levels (grouped Lloyd CTEs:
    ``catalog._lloyd2_parts``; lockstep forced by
    tests/test_two_level.py).

    Why this shape at scale: k1·k2 total cells, but no pass ever scores a
    vector against more than k1 + k2 centroids (vs k1·k2 for single-level
    — at k=250k cells, 1000 vs 250k per vector), driver/broadcast state
    is (k1 + k1·k2_row)·dim held as DataFrames not matrices, and each
    level-2 group is one cell (~N/k1 rows — choose k1 ≈ √(N/K_TARGET) so
    cells fit an executor task; the group NEVER leaves the executor).

    Returns ``(assigned, centroids, l1_centroids)``: assigned(id, cell1,
    cell2) — cell ids compose as (cell1, cell2); centroids(cell1, cell2,
    centroid) — the trained level-2 codebook, ≤ k1·k2 rows, emitted from
    the same per-cell pass that assigns (no second Lloyd run);
    l1_centroids — the k1 level-1 centroids (the two-stage probe's first
    routing table, see ``two_level_topk``).
    """
    id_type = dict(df.dtypes)[id_col]

    level1, l1_centroids = kmeans_lloyd(
        df, id_col, vec_col, k=k1, iters=iters,
        dist_digits=dist_digits, mean_digits=mean_digits, train_cap=train_cap,
    )
    cells = level1.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
        F.col("bucket").alias("cell1"),
        F.md5(F.col(id_col).cast("string")).alias("__mk"),
    )

    def cell_lloyd(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["__mk", "id"], kind="mergesort")
        V = np.stack(pdf["v"].to_numpy()).astype("float64")
        ids = pdf["id"].to_numpy()
        cell1 = int(pdf["cell1"].iloc[0])
        k_eff = min(k2, len(V))
        C = V[:k_eff].copy()  # md5-rank seeds = first rows of the sort

        for _ in range(iters):
            b = _nearest(V, C, dist_digits)
            newC = C.copy()
            for cid in np.unique(b):
                # Same accepted cross-engine boundary risk as the level-1
                # means (F.avg vs DuckDB avg): numpy's pairwise-summation
                # mean and DuckDB's sequential-fold avg can differ by
                # summation-order ulps, so a true mean landing within
                # ~1e-15 of a 0.5·10^-mean_digits snap boundary could
                # round apart and flip a centroid. No tested corpus sits
                # on a boundary (test_two_level pins lockstep end-to-end);
                # the exposure is one boundary per grid cell, identical to
                # every other snapped mean in this module.
                m = V[b == cid].mean(axis=0)
                newC[cid] = rounding.snap_np(m, mean_digits)
            C = newC
        b = _nearest(V, C, dist_digits)
        member = pd.DataFrame(
            {"id": ids, "cell1": cell1, "cell2": b.astype("int32"), "centroid": None}
        )
        cent = pd.DataFrame(
            {
                "id": None,
                "cell1": cell1,
                "cell2": np.arange(k_eff, dtype="int32"),
                "centroid": list(C),
            }
        )
        return pd.concat([member, cent], ignore_index=True)

    out_schema = f"id {id_type}, cell1 int, cell2 int, centroid array<double>"
    both = cells.groupBy("cell1").applyInPandas(cell_lloyd, out_schema)
    assigned = both.filter(F.col("id").isNotNull()).select(
        F.col("id").alias(id_col), "cell1", "cell2"
    )
    centroids = both.filter(F.col("id").isNull()).select("cell1", "cell2", "centroid")
    return assigned, centroids, l1_centroids


def two_level_topk(
    queries: DataFrame,
    corpus: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    l1_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe1: int = 4,
    nprobe2: int = 4,
) -> DataFrame:
    """Two-stage probe over a ``kmeans_two_level`` index — the serving
    shape that makes k1·k2 total cells affordable: stage 1 ranks the k1
    LEVEL-1 centroids per query (rounded cosine desc, cell asc — the same
    deterministic rank device as ``ivf_topk``) and keeps ``nprobe1``
    cells; stage 2 ranks only the probed cells' level-2 sub-centroids
    (≤ nprobe1·k2 instead of k1·k2) and keeps ``nprobe2`` per cell;
    candidates are the vectors assigned to the probed (cell1, cell2)
    pairs, scored exactly. ``nprobe1=k1, nprobe2=k2`` degrades to exact
    brute force (pinned by test_two_level).

    Scale: a query touches nprobe1·nprobe2/(k1·k2) of the corpus; the
    routing state per stage is k1 + nprobe1·k2 centroid dot products —
    never k1·k2. The level-2 codebook joins as a (broadcastable) ≤ k1·k2
    row DataFrame; vectors come from an equi-join back to the corpus on
    (cell1, cell2)-pruned assignment rows, so at scale the assignment
    store partitioned by (cell1) prunes files exactly like ``ivf_save``'s
    single-level store.
    """
    spark = queries.sparkSession
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    l1 = spark.createDataFrame(
        [(i, c) for i, c in enumerate(l1_centroids)], "cell1 int, c1 array<double>"
    )
    # stage 1: route to nprobe1 level-1 cells
    s1 = q.crossJoin(F.broadcast(l1)).withColumn(
        "cos1",
        rounding.snap(_dot("qv", "c1") / (_norm("qv") * _norm("c1")), 6),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.col("cos1").desc(), F.col("cell1"))
    p1 = (
        s1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= nprobe1)
        .select("query_id", "qv", "cell1")
    )
    # stage 2: rank only the probed cells' sub-centroids
    s2 = p1.join(F.broadcast(centroids), "cell1").withColumn(
        "cos2",
        rounding.snap(_dot("qv", "centroid") / (_norm("qv") * _norm("centroid")), 6),
    )
    w2 = Window.partitionBy("query_id", "cell1").orderBy(
        F.col("cos2").desc(), F.col("cell2")
    )
    p2 = (
        s2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= nprobe2)
        .select("query_id", "qv", "cell1", "cell2")
    )
    # candidates: probed (cell1, cell2) members, vectors from the corpus
    cand = p2.join(assigned, ["cell1", "cell2"]).join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        F.col(id_col) == F.col("neighbor_id"),
    )
    scored = cand.withColumn(
        "cosine",
        rounding.snap(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6),
    )
    return _top_k(scored, k)


def ivf_save(
    assigned: DataFrame,
    centroids: list[list[float]],
    path: str,
) -> None:
    """Persist an IVF index as the write-once bucketed store: vectors as
    parquet PARTITIONED BY bucket (so a probe's bucket filter becomes
    partition PRUNING — only nprobe/n_centroids of the files are ever
    listed, let alone read), centroids as a tiny sibling parquet table
    (``<path>_centroids``).

    This is the billion-vector serving shape: build once with
    ``kmeans_lloyd``, save, then every query session calls ``ivf_load`` +
    ``ivf_topk`` and reads only the probed partitions.
    """
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)
    # centroids are n_centroids × dim doubles — driver-sized by design.
    # Stored as a tiny SIBLING parquet dataset (not inside the index dir,
    # where a non-parquet file would break the scan and an underscore name
    # would be invisible to Hadoop readers); parquet keeps it portable to
    # any filesystem the session can reach.
    spark = assigned.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cid int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "_centroids")


def ivf_load(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load an ``ivf_save`` index: (assigned DataFrame, centroids).

    The returned frame's ``bucket`` column is the partition column, so
    ``ivf_topk``'s bucket equi-join prunes unprobed partitions at planning
    time (verify with .explain: PartitionFilters on the scan).
    """
    assigned = spark.read.parquet(path)
    rows = spark.read.parquet(path.rstrip("/") + "_centroids").collect()
    centroids = [list(r.centroid) for r in sorted(rows, key=lambda r: r.cid)]
    return assigned, centroids


def _probed(
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    nprobe: int,
    ppos: bool,
) -> DataFrame:
    """(query_id, qv, bucket[, ppos]) for each query's ``nprobe`` nearest
    buckets by cosine, ``ppos`` being the bucket's probe position. Cosines
    are quantized to 1e-6 and stable-sorted, so the probed bucket LIST is
    engine-deterministic (rounded cosine desc, cid asc — replayable in the
    SQL oracle), not an ulp coin-flip, and the list at a smaller nprobe is
    a prefix of the list at a larger one."""
    C = np.asarray(centroids, dtype="float64")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    bc = queries.sparkSession.sparkContext.broadcast(Cn)

    def probe(batches):
        import pandas as pd

        Cn_b = bc.value
        # clamp: probing more buckets than exist is just a full probe
        n_probe = min(nprobe, Cn_b.shape[0])
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
            S = rounding.snap_np(Qn @ Cn_b.T, 6)
            order = np.argsort(-S, axis=1, kind="stable")[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(n_probe)].reset_index(drop=True)
            cols = {"query_id": out[id_col], "qv": out[vec_col], "bucket": order.ravel()}
            if ppos:
                cols["ppos"] = np.tile(np.arange(n_probe, dtype="int32"), len(pdf))
            yield pd.DataFrame(cols)

    schema = f"query_id long, qv {dict(queries.dtypes)[vec_col]}, bucket int"
    return queries.select(id_col, vec_col).mapInPandas(
        probe, schema + (", ppos int" if ppos else "")
    )


def ivf_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    static_prune: bool = False,
) -> DataFrame:
    """IVF probe: score each query only against the ``nprobe`` buckets whose
    centroids are nearest (by cosine) — the corpus fraction touched is
    nprobe/n_centroids instead of 1. ``nprobe = n_centroids`` degrades to
    exact brute force (useful as a correctness check).

    ``static_prune=True`` is the serving path over an ``ivf_load`` index:
    the union of probed buckets (≤ n_centroids ints — a bounded, tiny
    collect, not a data collect) is pushed as a literal IN filter, so the
    scan's PartitionFilters prune unprobed bucket partitions at planning
    time. Spark's dynamic partition pruning does not fire here on its own
    (the probe side carries no selective filter predicate), so the static
    push is what turns the bucketed store into an actual index.

    Returns (query_id, neighbor_id, cosine, rank).
    """
    probed = _probed(queries, centroids, id_col, vec_col, nprobe, ppos=False)
    if static_prune:
        buckets = [int(r.bucket) for r in probed.select("bucket").distinct().collect()]
        assigned = assigned.filter(F.col("bucket").isin(buckets))
    cand = F.broadcast(probed).join(assigned, "bucket").select(
        "query_id", "qv", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _top_k(_snapped_cosine(cand), k)


def ivf_topk_curve(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """Every ``nprobes`` curve point of :func:`ivf_topk` from ONE probe
    pass — (nprobe, query_id, neighbor_id, cosine, rank) rows identical to
    ``ivf_topk(..., nprobe=np)`` run independently per point.

    Why the fusion is EXACT, not approximate: the probe ranks buckets by
    ``argsort(-S, kind="stable")`` over the same quantized score matrix for
    every nprobe, so the bucket list at a smaller nprobe is a strict PREFIX
    of the list at a larger one; tagging each probed bucket with its probe
    position ``ppos`` makes point np's candidate set exactly the rows with
    ``ppos < np``. Scoring is the same quantized-cosine expression, and the
    per-point rank is recovered from ONE window pass: a running count of
    subset rows under the shared total order (cosine DESC, neighbor_id ASC
    — strict, since a neighbor lives in exactly one bucket) equals the
    subset's ``row_number``. Cost: one corpus-assignment scan, one bucket
    join, one window sort for the whole curve, vs len(nprobes) of each when
    the points run as separate pipelines (guide §2.4: one exchange serving
    every consumer keyed the same way).
    """
    nps = sorted({int(x) for x in nprobes})
    probed = _probed(queries, centroids, id_col, vec_col, nps[-1], ppos=True)
    cand = F.broadcast(probed).join(assigned, "bucket").select(
        "query_id",
        "qv",
        "ppos",
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    scored = _snapped_cosine(cand)
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "cosine",
        "ppos",
        *[
            F.sum(F.when(F.col("ppos") < np_, 1).otherwise(0))
            .over(w)
            .cast("long")
            .alias(f"__r{np_}")
            for np_ in nps
        ],
    )
    # one row per (point, in-subset candidate) via stack; rank<=k filter per point
    stack_args = ", ".join(
        f"CAST({np_} AS BIGINT), __r{np_}, (ppos < {np_})" for np_ in nps
    )
    return (
        ranked.select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.expr(
                f"stack({len(nps)}, {stack_args}) AS (nprobe, rank, __in)"
            ),
        )
        .filter(F.col("__in") & (F.col("rank") <= k))
        .select("nprobe", "query_id", "neighbor_id", "cosine", "rank")
    )


def pq_codebooks_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    train_cap: int | None = TRAIN_CAP,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantization training + encoding: split each vector into
    ``m`` contiguous subspaces, run the deterministic ``kmeans_lloyd`` per
    subspace (k is a FIXED codebook size — a storage-format constant, not
    corpus-derived like IVF's coarse k), and encode every vector as its m
    nearest-codeword ids. Codebooks train on the md5-rank-smallest
    ``train_cap`` vectors (same sample rule and no-op threshold as
    ``kmeans_lloyd`` — see TRAIN_CAP); every vector is ENCODED regardless.

    Storage contract: m small ints per vector (m·log2(k) bits — here
    4×4 = 2 bytes) instead of dim×4 bytes; the codebooks are m·k·(dim/m)
    floats of driver state, same bounded-state shape as IVF centroids.

    All m subspaces train JOINTLY in ``_lloyd_subspaces``, the trainer
    behind ``kmeans_lloyd``: one seed TakeOrdered, one assignment
    mapInPandas and one mean collect per iteration cover every subspace,
    and codebook j is exactly what ``kmeans_lloyd`` trains on subspace j's
    slice (same md5-ordered seed ids, same 1e-4/1e-6 grids, same first-min
    tiebreak — test_similarity pins it with the cap binding), which is
    what the SQL oracle replays.

    Scale: one narrow projection, k·dim driver state, the mean shuffle
    carries k·dim partial rows regardless of corpus size.
    Returns (codes DataFrame (id, code0..code{m-1}), list of m codebooks).
    """
    dsub = dim // m
    if dsub * m != dim:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    base = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    C = _lloyd_subspaces(base, m, k, iters, 4, 6, train_cap)
    codes = _encode(base, C, dsub, 4).select(
        F.col("id").alias(id_col), *[f"code{j}" for j in range(m)]
    )
    return codes, [Cj.tolist() for Cj in C]


def _adc_luts(spark, q_rows, id_col: str, id_type: str, vec_col: str, books, digits: int):
    """Per-query ADC lookup tables as a (qid, lut0..lut{m-1}) DataFrame
    from the collected query rows (|Q| bounded by contract): cell c of
    ``lut{j}`` is |q_j|² − 2·q_j·c + |c|² for subspace j's codeword c,
    snapped to the ``digits`` grid — the Lloyd assigner's formula and grid,
    so a SQL engine joining the replayed centroid tables computes the
    identical cells. Also returns the left-associative ADC sum expression
    ``lut0[code0] + … + lut{m-1}[code{m-1}]`` over the codes columns.
    """
    m = len(books)
    dsub = len(books[0][0])
    Cs = [np.asarray(book, dtype="float64") for book in books]
    rows = []
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype="float64")
        luts = []
        for j, C in enumerate(Cs):
            qs = qv[j * dsub : (j + 1) * dsub]
            d = (qs * qs).sum() - 2.0 * (C @ qs) + (C * C).sum(axis=1)
            luts.append([float(x) for x in rounding.snap_np(d, digits)])
        rows.append((r[id_col], *luts))
    schema = f"qid {id_type}, " + ", ".join(f"lut{j} array<double>" for j in range(m))
    # Spark [] on arrays is 0-based — codes are 0-based cids, direct index
    adc = " + ".join(f"lut{j}[code{j}]" for j in range(m))
    return spark.createDataFrame(rows, schema=schema), adc


def _adc_top_k(scored: DataFrame, topk: int) -> DataFrame:
    """Per-query top-k of (qid, nid, adc_dist) rows ranked (distance, id),
    so grid ties cannot reorder across engines. Returns (query_id,
    neighbor_id, adc_dist, rank)."""
    w = Window.partitionBy("qid").orderBy("adc_dist", "nid")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    topk: int = 5,
    dist_digits: int = 4,
    trained: tuple[DataFrame, list[list[list[float]]]] | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: exact query subvectors scored
    against the corpus's quantized codes via per-query lookup tables.
    ``trained`` optionally reuses a ``pq_codebooks_encode`` result (train
    once per corpus, serve many query sets — the PQ deployment shape).

    The LUT for a query is m×k quantized subspace distances
    (|q_j|² − 2·q_j·c + |c|², snapped to the ``dist_digits`` grid — the
    same formula/grid as the Lloyd assigner, so a SQL engine joining the
    replayed centroid tables computes the identical cells). A corpus
    item's approximate distance is the LEFT-ASSOCIATIVE sum of its m LUT
    cells — both engines evaluate the same IEEE addition tree. Ranking is
    (distance, id), so grid ties cannot reorder across engines.

    Scale: the scored frame is a map-side broadcast cross join (LUTs are
    |Q|·m·k doubles — broadcast), so scoring is O(N·m) array lookups with
    NO shuffle; only the final per-query top-k window shuffles, carrying
    (qid, nid, dist) triples. At billion-N serving, compose with IVF
    (probe buckets first, ADC within probed buckets) — this operator is
    the scoring kernel of that pipeline. The query side is collected to
    build LUTs: |Q| is bounded by contract (same as ``cosine_topk``'s
    broadcast query side).

    Returns (query_id, neighbor_id, adc_dist, rank), rank <= topk.
    """
    codes, books = trained or pq_codebooks_encode(
        corpus, id_col, vec_col, dim=dim, m=m, k=k, iters=iters
    )
    q_rows = queries.select(id_col, vec_col).collect()  # |Q| bounded by contract
    qdf, adc = _adc_luts(
        corpus.sparkSession, q_rows, id_col, dict(corpus.dtypes)[id_col], vec_col, books, dist_digits
    )
    scored = codes.crossJoin(F.broadcast(qdf)).select(
        "qid",
        F.col(id_col).alias("nid"),
        F.expr(adc).alias("adc_dist"),
    )
    return _adc_top_k(scored, topk)


def ivf_pq_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    codes: DataFrame,
    books: list[list[list[float]]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
    topk: int = 5,
    dist_digits: int = 4,
    cos_digits: int = 6,
) -> DataFrame:
    """The billion-vector serving composition: IVF coarse probe (touch
    only the ``nprobe`` nearest buckets) + PQ asymmetric-distance scoring
    of the candidates (2-byte codes instead of raw vectors).

    This is the shape every production ANN service runs (FAISS IVFPQ):
    the coarse quantizer prunes the corpus to nprobe/k of its buckets,
    and within them distance comes from LUT lookups over the PQ codes, so
    the scan reads and computes O(candidates · m) regardless of dim.
    Both stages reuse the session-shared deterministic quantizers — one
    coarse Lloyd, one PQ training, many query sets.

    Determinism matches the component entries: probe ranks quantized
    cosine (``cos_digits`` grid, centroid-id tiebreak) on the driver over
    the bounded k×dim centroid state; ADC sums ``dist_digits``-snapped
    LUT cells left-associatively; final rank is (distance, id).

    Scale: candidates = assigned ⋈ broadcast(probe pairs) ⋈ codes — all
    equi-joins on bucket/id keys (at scale the assigned/codes join is
    co-partitioned on id, or the codes live IN the bucket-partitioned
    store like ``ivf_save``); no cross join, and the top-k window
    shuffles only |Q|·(corpus/k)·nprobe scored triples.

    Returns (query_id, neighbor_id, adc_dist, rank), rank <= topk.
    """
    spark = assigned.sparkSession
    id_type = dict(assigned.dtypes)[id_col]

    C = np.asarray(centroids, dtype="float64")
    q_rows = queries.select(id_col, vec_col).collect()  # |Q| bounded by contract
    probe_rows = []
    cn = np.sqrt((C * C).sum(axis=1))
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype="float64")
        qn = np.sqrt((qv * qv).sum())
        # identical formula to _cos_sql: dot / (sqrt(aa)*sqrt(bb)), snapped
        cos = rounding.snap_np((C @ qv) / (qn * cn), cos_digits)
        # rank DESC with centroid-id tiebreak: argsort on (-cos, cid)
        order = np.lexsort((np.arange(len(C)), -cos))[:nprobe]
        probe_rows.extend((r[id_col], int(b)) for b in order)
    probe_df = spark.createDataFrame(
        probe_rows, schema=f"qid {id_type}, bucket int"
    )
    qdf, adc = _adc_luts(spark, q_rows, id_col, id_type, vec_col, books, dist_digits)
    cand = (
        assigned.select(F.col(id_col), "bucket")
        .join(F.broadcast(probe_df), "bucket")
        .select("qid", id_col)
        .join(codes, id_col)
        .join(F.broadcast(qdf), "qid")
        .select("qid", F.col(id_col).alias("nid"), F.expr(adc).alias("adc_dist"))
    )
    return _adc_top_k(cand, topk)


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_blocks: int | None = None,
) -> DataFrame:
    """All-pairs cosine pairs above a threshold — blocked both sides, no
    driver materialization (the round-1 version collected the corpus with
    ``toPandas``; at the 100 TB design point the driver dies).

    Shape: every vector gets a uniform block id (xxhash64 mod B); the
    B·(B+1)/2 unordered block PAIRS form a tiny literal grid broadcast to
    both replications; a cogroup on the pair id hands each task exactly two
    blocks (~|N|/B vectors each), which it scores with one BLAS matmul
    (dense linear algebra — the sanctioned Python path; interpreted
    zip_with/aggregate lambdas measured 66 s for 2M pairs at sf0.1, the
    matmul well under a second). Each unordered vector pair lands in
    exactly one block pair, so no dedup pass is needed. Data amplification
    is (B+1)× on the narrow (id, vec) projection; per-task memory is two
    blocks, so B is the knob that fits blocks to executor memory — the
    driver never holds vectors at any B.

    ``num_blocks=None`` sizes B by input bytes: 1 when the (id, vector)
    projection's plan estimate is under two ``parallel.slices``, else 8.
    At one block the input is coalesced to one partition, which satisfies
    the cogroup's distribution: one task and no exchange.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine portable-rounded
    to 6 digits.
    """
    import numpy as np

    proj = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if num_blocks is None:
        num_blocks = 1 if slices(df.sparkSession, plan_bytes(proj)) < 2 else 8
        if num_blocks == 1:
            proj = proj.coalesce(1)
    base = proj.select("id", "v", _corpus_blocks(proj, "id", num_blocks).alias("blk"))
    # a vector in block b participates as the LEFT side of pairs (b, j≥b)
    # and the RIGHT side of pairs (i≤b, b); pid = bi·B + bj. Replication via
    # explode — no grid join, no broadcast, stays in codegen.
    left = base.select(
        F.explode(
            F.expr(f"transform(sequence(blk, {num_blocks - 1}), j -> blk * {num_blocks} + j)")
        ).alias("pid"),
        "id",
        "v",
    )
    # distinct column names on the right side: a self-cogroup with shared
    # attribute ids confuses Catalyst's column pruning (observed: the right
    # frame arriving without its columns under count())
    right = base.select(
        F.explode(
            F.expr(f"transform(sequence(0, blk), i -> i * {num_blocks} + blk)")
        ).alias("pid"),
        F.col("id").alias("rid"),
        F.col("v").alias("rv"),
    )

    def block_pair(key, lpdf, rpdf):
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if not len(lpdf) or not len(rpdf):
            return empty
        bi, bj = divmod(int(key[0]), num_blocks)
        a_ids = lpdf["id"].to_numpy()
        A = np.stack(lpdf["v"].to_numpy()).astype("float64")
        b_ids = rpdf["rid"].to_numpy()
        B = np.stack(rpdf["rv"].to_numpy()).astype("float64")
        S = (A @ B.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
        )
        ai, bix = np.nonzero(S > threshold)
        ia, ib = a_ids[ai], b_ids[bix]
        vals = S[ai, bix]
        if bi == bj:
            # same block on both sides: each unordered pair appears twice
            # ((x,y) and (y,x)) — keep the ordered orientation once
            keep = ia < ib
            ia, ib, vals = ia[keep], ib[keep], vals[keep]
        else:
            # distinct blocks: every combination is a unique unordered pair;
            # normalize orientation (block id ordering ≠ vector id ordering)
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": ia, "id_b": ib, "cosine": rounding.snap_np(vals, 6)}
        )

    return (
        left.groupby("pid")
        .cogroup(right.groupby("pid"))
        .applyInPandas(block_pair, "id_a long, id_b long, cosine double")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5(seed,i,j).

    Avoids numpy RNG state so the same planes can be regenerated anywhere.
    """
    planes = []
    for i in range(num_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()
            # map 8 bytes to a float in [-1, 1)
            (u,) = struct.unpack(">Q", h[:8])
            row.append(u / 2**63 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane sign signature (num_planes bits) per vector.

    Signatures come from ONE Arrow-batched matmul against the (tiny,
    broadcast) plane matrix — the round-1 version built ``num_planes``
    interpreted ``aggregate(zip_with(...))`` expressions per row, the exact
    construct this repo measured ~30× slower than BLAS (SCALE.md). The
    stage stays narrow (no shuffle); only the plane matrix
    (num_planes × dim doubles) ships to executors.

    The sign compares the RAW dot against 0 — deliberately unquantized,
    unlike this repo's score rounding: a cross-engine flip needs the dot
    within summation-order ulp (~1e-15) of the single zero boundary,
    whereas snapping to a 1e-6 grid first would put a flip boundary every
    grid cell (10⁶× the boundary density, strictly more coin-flip
    exposure). The DuckDB oracle replays the same raw ``>= 0``.
    """
    planes = np.asarray(_hyperplanes(dim, num_planes, seed), dtype="float64")
    bc = df.sparkSession.sparkContext.broadcast(planes)
    vec_type = dict(df.dtypes)[vec_col]
    id_type = dict(df.dtypes)[id_col]

    def sign(batches):
        import pandas as pd

        P = bc.value
        weights = 1 << np.arange(P.shape[0], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            bits = (V @ P.T) >= 0.0
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "v": pdf[vec_col],
                    "bucket": (bits * weights).sum(axis=1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        sign, f"id {id_type}, v {vec_type}, bucket bigint"
    )


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 8,
    seed: int = 42,
    digits: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` coordinates.

    The dense counterpart of ``lsh_bucket_signatures``: same md5-seeded
    plane matrix (regenerable anywhere, so the DuckDB oracle replays it),
    but keeping the REAL projections r_i = <v, p_i>/sqrt(out_dim) instead
    of sign bits — the dimensionality-reduction front end for downstream
    clustering/ANN when 64⊸8 preserves pairwise distances within the JL
    bound. Output is long form (id, dim_idx, coord), coord snapped to the
    10^-digits grid (``rounding.snap_np``) so cross-engine summation-order
    ulps cannot change the value.

    Scale: one Arrow-batched BLAS matmul per batch against the broadcast
    (out_dim × dim) plane matrix — a narrow stage, no shuffle; output is
    out_dim rows per vector but each row is 3 scalars (vs the dim-wide
    input), so the stage SHRINKS bytes for out_dim < dim/3.
    """
    planes = np.asarray(_hyperplanes(dim, out_dim, seed), dtype="float64")
    bc = df.sparkSession.sparkContext.broadcast(planes)
    id_type = dict(df.dtypes)[id_col]

    def project(batches):
        import pandas as pd

        P = bc.value
        # divide (not multiply-by-reciprocal): the DuckDB oracle computes
        # dot/sqrt(k), and x/s vs x*(1/s) differ in the last ulp
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            R = (V @ P.T) / np.sqrt(float(P.shape[0]))
            R = rounding.snap_np(R, digits)
            k = P.shape[0]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy().repeat(k),
                    "dim_idx": np.tile(np.arange(k, dtype="int32"), len(pdf)),
                    "coord": R.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        project, f"id {id_type}, dim_idx int, coord double"
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only bucket-colliding (query, corpus) pairs.

    With 8 planes the corpus splits into ~256 buckets; the scored-join
    shrinks by that factor vs brute force. Recall depends on angular
    distance; callers trade planes for recall. Shape: equi-join on bucket
    (uniform md5-free sign pattern — mild skew possible; AQE skew-join
    splits hot buckets at runtime).
    """
    qs = lsh_bucket_signatures(queries, id_col, vec_col, dim, num_planes, seed).withColumnRenamed("id", "query_id").withColumnRenamed("v", "qv")
    cs = lsh_bucket_signatures(corpus, id_col, vec_col, dim, num_planes, seed).withColumnRenamed("id", "neighbor_id").withColumnRenamed("v", "cv")
    return _top_k(_snapped_cosine(F.broadcast(qs).join(cs, "bucket")), k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, scale, q) with
    q[i] = round_half_up(v[i] · 127 / amax) and amax = max(|v|), so
    dequantization is q[i] · scale with scale = amax / 127.

    The storage/IO workhorse of an embedding pipeline: 4× smaller vectors
    for the ANN index and candidate scoring, exact re-scoring on the fp32
    originals afterwards. Pure codegen'd array expressions, one row in/out,
    no shuffle; rounding is the engine-portable floor(x + 0.5) form (all
    IEEE-double ops, bit-identical in the DuckDB oracle). Zero vectors get
    scale 0 and an all-zero q.
    """
    # STAGED projections (r15): inline, the amax expression (a transform +
    # array_max pass over the vector) evaluated four times per row and the
    # double-cast transform three times. Stage them as columns — evaluated
    # once each; CollapseProject never re-inlines an expensive alias with
    # multiple consumers. The gated repartition is the per-row-work spread
    # (parallel.spread: zero-shuffle operator, so nothing downstream
    # parallelizes a single-split input).
    return (
        spread(df.select(id_col, vec_col)).select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> cast(x AS double))").alias("__v"),
        )
        .select(
            F.col(id_col),
            "__v",
            F.expr("array_max(transform(__v, x -> abs(x)))").alias("__amax"),
        )
        .select(
            F.col(id_col),
            F.expr(
                "CASE WHEN __amax = 0 THEN cast(0.0 AS double) ELSE __amax / 127.0 END"
            ).alias("scale"),
            F.expr(
                "CASE WHEN __amax = 0 THEN transform(__v, x -> cast(0 AS int)) "
                "ELSE transform(__v, x -> cast(floor(x * 127.0 / __amax + 0.5) AS int)) END"
            ).alias("q"),
        )
    )


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    digits: int = 4,
) -> DataFrame:
    """Per-group embedding centroid (elementwise mean) in LONG form:
    (group, pos, mean_val, n_vecs) — the cluster-profile / domain-embedding
    aggregation of a curation pipeline (e.g. a language's mean embedding
    for drift monitoring or centroid-based routing).

    Scale shape: posexplode is narrow (|rows|·dim with only the group key,
    position and one double crossing the wire — the vector itself never
    shuffles as a unit); the mean is ONE map-side-combined groupBy on
    (group, pos), so the shuffle carries |groups|·dim partial aggregates
    regardless of corpus size. Long form keeps the result hashable for the
    correctness gate; callers wanting arrays regroup with
    ``array_sort(collect_list(struct(pos, mean_val)))``.
    """
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")).alias("pos", "x"),
    )
    return (
        ex.groupBy("grp", "pos")
        .agg(F.avg("x").alias("m"), F.count("*").alias("n"))
        .select(
            F.col("grp").alias(group_col),
            F.col("pos").cast("int"),
            F.expr(rounding.snap_sql("m", digits)).alias("mean_val"),
            F.col("n").cast("long").alias("n_vecs"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    threshold: float = 0.38,
    cos_digits: int = 6,
    assignment: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: cluster the embedding space
    with the deterministic Lloyd quantizer, then flag within-cluster cosine
    near-duplicates, keeping the lowest id of each near-dup pair.

    The reference engine has no embedding ops; this is the LLM-pipeline
    extension shape (cluster-then-prune, as in SemDeDup, Abbas et al. 2023)
    re-expressed for Spark: one deterministic k-means (``kmeans_lloyd``,
    engine-replayable), one ``applyInPandas`` over clusters where a single
    BLAS matmul scores each cluster's pairs (the sanctioned dense-linear-
    algebra path), one broadcast-size dup-id join back. Cosines snap to the
    ``cos_digits`` grid BEFORE the threshold comparison, so a SQL engine
    replaying the same grid makes identical keep/drop decisions.

    A vector is a duplicate iff some SAME-CLUSTER vector with a smaller id
    has quantized cosine >= threshold (pairwise, not transitive-closure —
    chains prune like SemDeDup's per-cluster epsilon-pruning).
    Zero vectors are never duplicates on either engine: numpy yields
    NaN cosines (comparisons False) and the SQL oracle yields NULL
    (dropped by the threshold predicate) — consistent by construction.

    Scale: cluster sizes are ~N/k and k grows with the corpus at the design
    point (IVF sizing), so the per-cluster quadratic stays bounded; the
    matmul sees one cluster at a time (no all-pairs). Vectors shuffle once
    (by bucket); the dup-id set is |dups| ids, broadcast back. Returns
    (id, bucket, is_dup).
    """
    import pandas as pd

    # `assignment`: optionally reuse a precomputed kmeans_lloyd result (the
    # quantizer is deterministic, so sharing one clustering across the
    # dedup / sampling / curation entries is free correctness-wise)
    assigned, _ = assignment or kmeans_lloyd(df, id_col, vec_col, k=k, iters=iters)
    id_type = dict(df.dtypes)[id_col]

    def cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"dup_id": pd.Series([], dtype=pdf["__id"].dtype)})
        order = np.argsort(pdf["__id"].to_numpy())
        ids = pdf["__id"].to_numpy()[order]
        V = np.stack(pdf["__v"].to_numpy())[order].astype("float64")
        N = V / np.sqrt((V * V).sum(axis=1))[:, None]
        S = rounding.snap_np(N @ N.T, cos_digits)
        iu, ju = np.triu_indices(len(ids), 1)
        dup = np.unique(ids[ju[S[iu, ju] >= threshold]])
        return pd.DataFrame({"dup_id": dup})

    dups = (
        assigned.select(
            "bucket",
            F.col(id_col).alias("__id"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
        )
        .groupBy("bucket")
        .applyInPandas(cluster_dups, schema=f"dup_id {id_type}")
    )
    return (
        assigned.select(id_col, "bucket")
        .join(
            F.broadcast(dups.withColumnRenamed("dup_id", id_col)).withColumn(
                "is_dup", F.lit(True)
            ),
            id_col,
            "left",
        )
        .select(id_col, "bucket", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def hard_negatives(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    bucket_col: str = "bucket",
    cos_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector, the
    most-cosine-similar SAME-CLUSTER vector with a DIFFERENT label.

    Takes a pre-clustered (id, vec, label, bucket) frame (share the
    deterministic ``kmeans_lloyd`` assignment across entries — one
    clustering, many consumers). Per cluster, one BLAS matmul scores all
    pairs (the sanctioned dense-linear-algebra path, same shape as
    ``semantic_dedup``); cosines snap to the ``cos_digits`` grid BEFORE
    the argmax and ties break to the smallest candidate id (candidates are
    id-sorted, argmax takes the first maximum), so a SQL engine replaying
    grid + (cosine DESC, id) ranking picks identical negatives.

    Anchors with no valid negative in their cluster (no different-label
    neighbor, or a zero vector on either side — excluded exactly like the
    oracle's dot(v,v) > 0 predicate) produce no row.

    Scale: per-cluster O((N/k)²) bounded by corpus-sized k (IVF sizing,
    SCALE.md); one bucket shuffle, no all-pairs, nothing on the driver.
    Returns (id, label, neg_id, neg_label, cosine).
    """
    import pandas as pd

    id_type = dict(assigned.dtypes)[id_col]
    label_type = dict(assigned.dtypes)[label_col]

    def cluster_negatives(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id": pd.Series([], dtype=pdf["__id"].dtype),
                "label": pd.Series([], dtype=pdf["__label"].dtype),
                "neg_id": pd.Series([], dtype=pdf["__id"].dtype),
                "neg_label": pd.Series([], dtype=pdf["__label"].dtype),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["__id"].to_numpy())
        ids = pdf["__id"].to_numpy()[order]
        labels = pdf["__label"].to_numpy()[order]
        V = np.stack(pdf["__v"].to_numpy())[order].astype("float64")
        nrm = np.sqrt((V * V).sum(axis=1))
        valid = nrm > 0.0
        N = V / np.where(valid, nrm, 1.0)[:, None]
        S = rounding.snap_np(N @ N.T, cos_digits)
        S[~valid, :] = -np.inf
        S[:, ~valid] = -np.inf
        S[labels[:, None] == labels[None, :]] = -np.inf  # incl. diagonal
        best = np.argmax(S, axis=1)
        score = S[np.arange(len(ids)), best]
        keep = np.isfinite(score)
        return pd.DataFrame(
            {
                "id": ids[keep],
                "label": labels[keep],
                "neg_id": ids[best[keep]],
                "neg_label": labels[best[keep]],
                "cosine": score[keep],
            }
        )

    out_schema = (
        f"id {id_type}, label {label_type}, neg_id {id_type}, "
        f"neg_label {label_type}, cosine double"
    )
    return (
        assigned.select(
            F.col(bucket_col).alias("bucket"),
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__label"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
        )
        .groupBy("bucket")
        .applyInPandas(cluster_negatives, schema=out_schema)
        .select(
            F.col("id").alias(id_col),
            F.col("label").alias(label_col),
            "neg_id",
            "neg_label",
            "cosine",
        )
    )


def md5_rank_take(df: DataFrame, part_col: str, id_col: str, limit_expr) -> DataFrame:
    """Deterministic per-partition selection shared by the sampling /
    curation entries: keep the rows whose ``(md5(id), id)`` rank within
    ``part_col`` is <= ``limit_expr(n)`` (``n`` = partition size). ONE
    definition so the rule stays bit-identical to its DuckDB oracle replay
    everywhere it appears (a tiebreak tweak applied to one copy would
    silently break parity for the others)."""
    wr = Window.partitionBy(part_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    wn = Window.partitionBy(part_col)
    return (
        df.withColumn("__rn", F.row_number().over(wr))
        .withColumn("__n", F.count("*").over(wn))
        .filter(F.col("__rn") <= limit_expr(F.col("__n")))
        .drop("__rn", "__n")
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    frac: float = 0.25,
    assignment: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """Cluster-balanced sampling: take a deterministic ``frac`` of EVERY
    Lloyd cluster — the data-mixture shape (diversity-preserving
    downsampling: small semantic regions keep proportional representation
    instead of being washed out by a global uniform sample).

    Per-cluster selection is the md5 rank (smallest ``(md5(id), id)``
    first), the same driverless shuffle-free device as the stratified
    sampler; ``ceil(n*frac)`` keeps at least one vector per non-empty
    cluster. One bucket shuffle (the k-means assignment) + one window —
    no collect, no second scan. Returns (id, bucket).
    """
    assigned, _ = assignment or kmeans_lloyd(df, id_col, vec_col, k=k, iters=iters)
    return md5_rank_take(
        assigned.select(id_col, "bucket"),
        "bucket",
        id_col,
        lambda n: F.ceil(n * F.lit(frac)),
    )


def nearest_centroid_confusion(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    digits: int = 6,
    offset: int = 10_000_000,
) -> DataFrame:
    """Nearest-centroid classification self-evaluation: assign every
    vector to the closest per-label centroid and return the confusion
    matrix (label, assigned, n) — the pseudo-labeling / label-quality
    audit of embedding pipelines (off-diagonal mass = label noise or
    entangled classes), ENTIRELY in integer arithmetic:

    - coordinates quantize to the 10^-``digits`` grid (xq = ⌊x·10^digits+½⌋);
    - the centroid coordinate is the integer mean ⌊Σxq / n⌋ computed as
      ``(Σxq + n·offset) DIV n − offset`` — the offset keeps the
      numerator positive, where integer division is truncation==floor in
      BOTH Spark and DuckDB (they disagree on negatives: Spark DIV and
      DuckDB // both truncate toward zero, so a negative Σxq would
      otherwise round differently than a floor-based engine);
    - squared distance is an exact integer sum Σ(xq−cq)²;
    - argmin tiebreaks on the candidate label.

    No IEEE addition anywhere, so the assignment can never flip by an
    ulp across engines.

    Scale shape: centroids are one map-side-combined groupBy (|labels|·dim
    rows) broadcast back; each vector scores all |labels| candidates via
    that broadcast join — fan-out |labels|·dim per vector, one final
    count groupBy. No all-pairs, no collect.
    """
    x = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "xv"),
    ).withColumn("xq", F.expr(f"CAST({rounding.units_sql('CAST(xv AS DOUBLE)', digits)} AS BIGINT)"))
    cent = (
        x.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("xq").alias("s"), F.count("*").alias("n"))
        .select(
            "clabel",
            "pos",
            F.expr(f"CAST((s + n * {offset}) DIV n - {offset} AS BIGINT)").alias("cq"),
        )
    )
    d2 = (
        x.join(F.broadcast(cent), "pos")
        .groupBy("id", "label", "clabel")
        .agg(F.sum(F.expr("(xq - cq) * (xq - cq)")).alias("d2"))
    )
    w = Window.partitionBy("id").orderBy("d2", "clabel")
    assigned = d2.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        assigned.groupBy("label", F.col("clabel").alias("assigned"))
        .agg(F.count("*").cast("long").alias("n"))
    )


def intra_class_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    digits: int = 6,
    offset: int = 10_000_000,
) -> DataFrame:
    """Noisy-label mining: vectors whose squared distance to their OWN
    label's centroid deviates more than 3σ ABOVE the class mean — the
    candidates to re-annotate or drop before contrastive training
    (`nearest_centroid_confusion` asks "which class is closest"; this
    asks "does it even belong where it is").

    Same integer machinery as the confusion entry (quantized coords,
    offset-positive integer-mean centroids, exact integer d²) plus the
    one-sided integer 3σ test (d²·n − s) > 0 ∧ (d²·n − s)² > 9(n·ss − s²)
    — the moment products reach ~1e32 at d² ≈ 2.6e14, so the test runs
    in DECIMAL(38,0) on both engines (exact; DuckDB promotes to HUGEINT
    natively).

    Returns flagged (id, label, d2) rows.

    Scale shape: centroid build and the per-label moment window both run
    over |labels|·dim / |labels| frames; the per-vector work is one
    broadcast join + one groupBy — identical bounds to the confusion
    operator.
    """
    x = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "xv"),
    ).withColumn("xq", F.expr(f"CAST({rounding.units_sql('CAST(xv AS DOUBLE)', digits)} AS BIGINT)"))
    cent = (
        x.groupBy("label", "pos")
        .agg(F.sum("xq").alias("sx"), F.count("*").alias("nx"))
        .select(
            "label",
            "pos",
            F.expr(f"CAST((sx + nx * {offset}) DIV nx - {offset} AS BIGINT)").alias("cq"),
        )
    )
    d2 = (
        x.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("id", "label")
        .agg(F.sum(F.expr("(xq - cq) * (xq - cq)")).cast("decimal(38,0)").alias("d2"))
    )
    w = Window.partitionBy("label").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    st = (
        d2.withColumn("n", F.count("*").over(w).cast("decimal(38,0)"))
        .withColumn("s", F.sum("d2").over(w))
        .withColumn("ss", F.sum(F.col("d2") * F.col("d2")).over(w))
    )
    return st.filter(
        (F.col("d2") * F.col("n") - F.col("s") > 0)
        & (
            (F.col("d2") * F.col("n") - F.col("s")) * (F.col("d2") * F.col("n") - F.col("s"))
            > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        )
    ).select(
        F.col("id").alias(id_col), "label", F.col("d2").cast("long").alias("d2")
    )


def mmr_select(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_candidates: int = 8,
    k_select: int = 4,
    lam10: int = 7,
) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank (Carbonell & Goldstein
    1998) — the retrieval/curation step that turns a similarity top-k into
    a RELEVANT-BUT-DIVERSE top-k: greedily pick ``k_select`` of each
    query's ``k_candidates`` nearest neighbors, each step maximizing
    λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).

    Determinism contract (the oracle-replayable part): relevance and
    pairwise similarities snap to the 1e-6 cosine grid FIRST, λ is the
    rational lam10/10, and every greedy comparison is integer arithmetic
    on (λ·1e7-scaled) scores with the neighbor id as tiebreaker — no
    float ever enters the argmax, so a SQL replay of the same snapped
    inputs reproduces the selection bit-for-bit.

    Shape (100 TB path): candidate generation is ``cosine_topk`` (blocked
    matmul, |Q|·k rows out); the candidate set re-acquires vectors via a
    BROADCAST join into the corpus (the corpus never shuffles); the
    greedy step is per-query over k_candidates rows — an Arrow-batched
    grouped map whose per-group work is a k×k integer matrix, bounded by
    construction. Returns (query_id, select_order, neighbor_id,
    mmr_score_x1e7).
    """
    import pandas as pd

    cand = cosine_topk(
        queries, corpus, id_col=id_col, vec_col=vec_col, k=k_candidates
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(f"CAST({rounding.units_sql('cosine', 6)} AS BIGINT)").alias("rel_e6"),
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    wide = cvec.join(F.broadcast(cand), "neighbor_id")
    lam, omlam = lam10, 10 - lam10

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        V = np.stack(pdf["cv"].to_numpy()).astype("float64")
        norms = np.sqrt((V * V).sum(axis=1))
        sim_e6 = rounding.units_np((V @ V.T) / np.outer(norms, norms), 6).astype("int64")
        rel = pdf["rel_e6"].to_numpy().astype("int64")
        nid = pdf["neighbor_id"].to_numpy()
        qid = int(pdf["query_id"].iloc[0])
        sel: list[int] = []
        out = []
        for step in range(1, min(k_select, len(pdf)) + 1):
            best_key, best_i, best_score = None, -1, 0
            for i in range(len(pdf)):
                if i in sel:
                    continue
                pen = max(sim_e6[i, j] for j in sel) if sel else 0
                score = lam * int(rel[i]) - omlam * int(pen)
                key = (-score, int(nid[i]))
                if best_key is None or key < best_key:
                    best_key, best_i, best_score = key, i, score
            sel.append(best_i)
            out.append((qid, step, int(nid[best_i]), best_score))
        return pd.DataFrame(
            out,
            columns=[
                "query_id",
                "select_order",
                "neighbor_id",
                "mmr_score_x1e7",
            ],
        )

    return wide.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, select_order long, neighbor_id long, "
        "mmr_score_x1e7 long",
    )


def cluster_quality(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    assignment: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """Per-cluster quality report over a deterministic Lloyd clustering —
    the QA pass a curation pipeline runs before trusting its clusters
    (SemDeDup prunes within clusters; a crowded or diffuse cluster makes
    those prunes wrong). Per non-empty cluster: population ``n``, mean
    and max snapped squared distance to the own centroid (cohesion /
    radius, 1e-4-grid BIGINTs so per-cluster sums are integer-exact),
    the squared distance to the NEAREST other centroid
    (``min_sep_e4``), and ``crowding_bp`` = mean intra-distance over
    separation in basis points (all-positive integer division, so Spark
    ``DIV`` and a replaying engine's ``//`` agree) — high crowding means
    the cluster bleeds into its neighbour. Distances use the
    |v|² − 2·v·c + |c|² form on the 1e-4 grid on BOTH engines (the same
    ulp-absorption argument as the Lloyd assignment itself).

    Scale: the per-vector pass is one broadcast join (k×dim centroids)
    + one bucket-keyed aggregate whose exchange carries k partial rows;
    the centroid pairwise is k² rows of k-row broadcast self-join — with
    the √N cap on k that is ≤ N total pairs, distributed, never
    driver-side. Returns one row per non-empty cluster.
    """
    assigned, centroids = assignment or kmeans_lloyd(
        df, id_col, vec_col, k=k, iters=iters
    )
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid INT, cv ARRAY<DOUBLE>",
    )

    # string-SQL siblings of the module-level Column helpers `_dot`/
    # `_norm` (distinct names — no shadowing): these compose into ONE
    # embedded expression text, and both operands are pre-cast DOUBLE
    # arrays so the per-element casts the Column form carries are
    # redundant here
    def _dot_txt(a: str, b: str) -> str:
        return f"aggregate(zip_with({a},{b},(x,y)->x*y), 0D, (s,x)->s+x)"

    def _d2e4(a: str, b: str) -> str:
        d2 = f"{_dot_txt(a, a)} - 2*{_dot_txt(a, b)} + {_dot_txt(b, b)}"
        return f"CAST({rounding.units_sql(d2, 4)} AS BIGINT)"

    per_vec = (
        assigned.select(
            "bucket",
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias(
                "vd"
            ),
        )
        .join(F.broadcast(cdf), F.col("bucket") == F.col("cid"))
        .select("bucket", F.expr(_d2e4("vd", "cv")).alias("d2"))
    )
    agg = per_vec.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d2").cast("long").alias("sd"),
        F.max("d2").alias("max_d2_e4"),
    )
    sep = (
        cdf.alias("a")
        .join(
            F.broadcast(cdf.alias("b")),
            F.expr("a.cid <> b.cid"),
        )
        .select(
            F.col("a.cid").alias("bucket"),
            F.expr(_d2e4("a.cv", "b.cv")).alias("sep"),
        )
        .groupBy("bucket")
        .agg(F.min("sep").alias("min_sep_e4"))
    )
    return (
        agg.join(F.broadcast(sep), "bucket")
        .select(
            F.col("bucket").cast("int").alias("cluster_id"),
            "n",
            F.expr("CAST(sd DIV n AS BIGINT)").alias("mean_d2_e4"),
            "max_d2_e4",
            "min_sep_e4",
            F.expr(
                "CAST((sd DIV n) * 10000 DIV NULLIF(min_sep_e4, 0) AS BIGINT)"
            ).alias("crowding_bp"),
        )
    )
