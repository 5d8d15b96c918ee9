"""Similarity-search operator tests: brute force vs LSH vs IVF."""

import pytest
from pyspark.sql import functions as F

from steampipe_plugin_terraform_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    kmeans_lloyd,
    lsh_cosine_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def split(emb):
    return emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_ivf_full_probe_equals_brute_force(spark, split):
    queries, corpus = split
    exact = cosine_topk(queries, corpus, k=5)
    assigned, centroids = kmeans_lloyd(corpus, k=8)
    ivf_all = ivf_topk(queries, assigned, centroids, k=5, nprobe=8)
    assert _pairs(ivf_all) == _pairs(exact)
    # identical rounded scores, not just the same ids
    exact_rows = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    for r in ivf_all.collect():
        assert exact_rows[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_ivf_partial_probe_recall(spark, split):
    queries, corpus = split
    exact = _pairs(cosine_topk(queries, corpus, k=5))
    assigned, centroids = kmeans_lloyd(corpus, k=8)
    approx = _pairs(ivf_topk(queries, assigned, centroids, k=5, nprobe=4))
    recall = len(exact & approx) / len(exact)
    # random embeddings cluster weakly; half the buckets should still
    # recover a solid share of true neighbors
    assert recall >= 0.4, f"recall {recall}"


def test_ivf_topk_curve_matches_pointwise(spark, split):
    # every (nprobe, query, neighbor, cosine, rank) row of the one-pass
    # curve equals the unfused ivf_topk run at that nprobe — the
    # prefix-subset + running-count-rank argument made executable
    from steampipe_plugin_terraform_spark.operators.similarity import (
        ivf_topk_curve,
    )

    queries, corpus = split
    assigned, centroids = kmeans_lloyd(corpus, k=8)
    curve = ivf_topk_curve(
        queries, assigned, centroids, k=5, nprobes=(1, 2, 4)
    ).collect()
    by_np = {}
    for r in curve:
        by_np.setdefault(r["nprobe"], set()).add(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        )
    assert set(by_np) == {1, 2, 4}
    for np_ in (1, 2, 4):
        point = {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in ivf_topk(
                queries, assigned, centroids, k=5, nprobe=np_
            ).collect()
        }
        assert by_np[np_] == point, f"nprobe={np_} diverged from pointwise run"


def test_lsh_topk_shape_and_bucket_pruning(spark, split):
    queries, corpus = split
    res = lsh_cosine_topk(queries, corpus, num_planes=8, k=5)
    rows = res.collect()
    assert rows  # bucketing returns results for at least some queries
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_store_roundtrip_and_pruning(spark, tmp_path):
    from steampipe_plugin_terraform_spark.operators.similarity import (
        ivf_load,
        ivf_save,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(5)
    assigned, cents = kmeans_lloyd(emb, k=8)
    path = str(tmp_path / "ivf")
    ivf_save(assigned, cents, path)
    loaded, c2 = ivf_load(spark, path)
    assert c2 == cents
    mem = sorted(map(tuple, ivf_topk(queries, assigned, cents, k=3, nprobe=2).collect()))
    disk = sorted(map(tuple, ivf_topk(queries, loaded, c2, k=3, nprobe=2, static_prune=True).collect()))
    assert mem == disk
    # the serving probe must PRUNE: the store scan's PartitionFilters carry
    # the probed-bucket IN list (reads nprobe partitions, not the corpus)
    plan = (
        ivf_topk(queries, loaded, c2, k=3, nprobe=2, static_prune=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("bucket" in l and "IN" in l for l in scan_lines), scan_lines


def test_semantic_dedup_keeps_lowest_id(spark):
    from steampipe_plugin_terraform_spark.operators.similarity import semantic_dedup

    # two near-identical pairs + one isolated vector; k=1 puts everything
    # in one cluster so the pairwise prune is fully exercised
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # ~cos 0.9999 with id 1 -> dup
        (3, [0.0, 1.0, 0.0, 0.0]),      # isolated -> kept
        (4, [0.0, 0.999, 0.01, 0.0]),   # near id 3 -> dup
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["is_dup"]
        for r in semantic_dedup(df, k=1, iters=1, threshold=0.95).collect()
    }
    assert out == {1: False, 2: True, 3: False, 4: True}


def test_semantic_dedup_prunes_only_within_cluster(spark):
    from steampipe_plugin_terraform_spark.operators.similarity import semantic_dedup

    # 40 vectors in two orthogonal families; near-dup pairs exist only
    # inside each family, so with k=2 every dup decision is intra-cluster
    rows = []
    for i in range(20):
        rows.append((i, [1.0, i * 1e-4, 0.0, 0.0]))
        rows.append((100 + i, [0.0, 0.0, 1.0, i * 1e-4]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, k=2, iters=2, threshold=0.99).collect()
    by_id = {r["vec_id"]: r for r in out}
    # each family keeps exactly its lowest id
    fam_a = [r for r in out if r["vec_id"] < 100]
    fam_b = [r for r in out if r["vec_id"] >= 100]
    assert sum(not r["is_dup"] for r in fam_a) == 1
    assert sum(not r["is_dup"] for r in fam_b) == 1
    assert not by_id[0]["is_dup"] and not by_id[100]["is_dup"]
    # clusters are the two families
    assert len({r["bucket"] for r in fam_a}) == 1
    assert len({r["bucket"] for r in fam_b}) == 1
    assert {r["bucket"] for r in fam_a} != {r["bucket"] for r in fam_b}


def test_nearest_centroid_confusion_separable_and_noisy(spark):
    """Two well-separated clusters classify perfectly (diagonal matrix);
    a mislabeled point lands off-diagonal; argmin ties break on the
    smaller candidate label."""
    from steampipe_plugin_terraform_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    rows = []
    for i in range(10):  # label 0 around (0, 0), label 1 around (1, 1)
        rows.append((i, [0.0 + 0.001 * i, 0.0], 0))
        rows.append((100 + i, [1.0, 1.0 - 0.001 * i], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.label, r.assigned): r.n for r in nearest_centroid_confusion(df).collect()}
    assert got == {(0, 0): 10, (1, 1): 10}

    # one point labeled 0 but sitting on cluster 1 → off-diagonal
    noisy = df.union(
        spark.createDataFrame([(200, [1.0, 1.0], 0)], "vec_id long, embedding array<float>, label int")
    )
    got = {(r.label, r.assigned): r.n for r in nearest_centroid_confusion(noisy).collect()}
    assert got[(0, 1)] == 1 and got[(1, 1)] == 10


def test_pq_capped_codebooks_equal_per_subspace_lloyd(spark, emb):
    """PQ is k-means run once per subspace: with the training cap BINDING
    (32 of the corpus' vectors), codebook j of the joint PQ trainer equals
    the centroids ``kmeans_lloyd`` trains on subspace j's slice alone —
    same md5-rank sample, same seed ids, same 1e-4/1e-6 grids."""
    from steampipe_plugin_terraform_spark.operators import similarity

    assert emb.count() > 32
    _, books = similarity.pq_codebooks_encode(
        emb, dim=64, m=4, k=16, iters=2, train_cap=32
    )
    for j in range(4):
        sub = emb.select(
            "vec_id", F.slice("embedding", j * 16 + 1, 16).alias("embedding")
        )
        _, cents = similarity.kmeans_lloyd(sub, k=16, iters=2, train_cap=32)
        assert books[j] == cents, f"subspace {j}"


@pytest.mark.parametrize("trainer", ["kmeans_lloyd", "pq_codebooks_encode"])
def test_failed_lloyd_iteration_leaks_no_cache(spark, emb, monkeypatch, trainer):
    """The training sample is persisted across the Lloyd loop; an iteration
    that raises must still release it, or the sample stays in the cache
    manager and can plan-match inside later queries."""
    from steampipe_plugin_terraform_spark import rounding
    from steampipe_plugin_terraform_spark.operators import similarity

    def boom(*a, **k):
        raise RuntimeError("means step failed")

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    # executors import their own rounding module; only the driver-side
    # means step sees the patch
    monkeypatch.setattr(rounding, "snap_np", boom)
    try:
        with pytest.raises(RuntimeError, match="means step failed"):
            getattr(similarity, trainer)(emb, k=4, iters=1)
        assert persistent().size() <= before
    finally:
        monkeypatch.undo()
        spark.catalog.clearCache()
