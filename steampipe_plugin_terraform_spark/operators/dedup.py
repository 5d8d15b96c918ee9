"""Deduplication operators for large-scale text pipelines.

All operators are pure DataFrame compositions (JVM-side, whole-stage
codegen) — no Python UDFs in any hot path. Hashes are md5-over-seeded-string
so results are engine-portable (the same construction runs in DuckDB for the
oracle checks).

Scale notes (100 TB design point):
- exact_dedup: one hash-shuffle on the dedup key; map-side partial
  aggregation applies. For skew (one giant duplicate class) AQE skew-join
  handling plus the key being a hash (uniform) keep partitions bounded.
- shingle/minhash pipelines: explode(shingles) is narrow; the only shuffles
  are the groupBy(doc) for signatures and the band-bucket self-join. Band
  buckets are md5 values — uniformly distributed join keys, no hot spots;
  candidate verification joins only bucket-colliding pairs, never the full
  cross product.
- simhash: fixed 64-bit signature per doc; near-dup candidates via banding
  on 16-bit chunks (4 tables), Hamming-verify on collisions only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import state


def shingles(text_col: str, n: int = 5, sep: str = " ") -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text column.

    Guarded for short texts: Spark's sequence(1, 0) yields a DESCENDING
    [1, 0], not an empty array, so size < n must short-circuit."""
    toks = f"split({text_col}, '{sep}')"
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws('{sep}', slice({toks}, i, {n})))) "
        f"ELSE array() END"
    )


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a narrow projection to cluster parallelism before a
    compute-heavy explode: a small single-file input is one partition and
    would serialize the hash work on one core. Gated on the input actually
    being under-partitioned — at real scale the corpus arrives in hundreds
    of partitions and the extra shuffle of the full text column would be a
    gratuitous cost, so it must be (and is) skipped."""
    par = df.sparkSession.sparkContext.defaultParallelism
    proj = df.select(*cols)
    if proj.rdd.getNumPartitions() >= max(par // 2, 2):
        return proj
    return proj.repartition(par)


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, n_sh, h) rows — h = xxhash64 of each distinct shingle of the
    doc, n_sh = the doc's FULL distinct-shingle count carried on every row.

    All pair-counting joins/aggregations downstream key on the 8-byte hash
    instead of the raw n-gram string (~40+ bytes): a 5×+ smaller shuffle
    and cheaper comparisons. The n-gram string is never materialized at
    all — tokens hash to longs and each shingle hash is xxhash64 of the
    5-long slice (hashing an array<bigint> directly), which also keeps the
    generated code small enough that one-shot runs don't pay multi-second
    codegen compilation (measured: 7.0 s → 1.6 s cold at 100k docs; warm
    identical). 64-bit collisions merge two distinct shingles with
    probability ~|shingles|²/2⁶⁵ — at 10¹² corpus shingles that is ~10⁴
    collisions, a relative Jaccard error of 1e-8; negligible for near-dup
    mining (the oracle-checked corpora are collision-free). The per-doc
    array_distinct runs on the hashes, so (id, h) needs no extra distinct
    pass.

    Carrying n_sh (r15, guide §2.3/§2.4): the Jaccard denominator is a
    per-DOC constant, so attaching it at explode time (size of the array
    computed once, below the same projection) lets every consumer read it
    off the posting-list rows — removing the separate sizes aggregation
    (one groupBy exchange), BOTH size-attach joins, and the second full
    tokenize+hash pass of the corpus their subtree cost (exchange reuse
    cannot fire across the id- and h-keyed exchanges). Cost: 8 bytes per
    posting row in the one remaining shuffle."""
    toks = f"split({text_col}, '{' '}')"
    return (
        _spread(df, id_col, text_col)
        .select(
            F.col(id_col).alias("id"),
            F.expr(
                f"CASE WHEN size({toks}) >= {n} THEN "
                f"array_distinct(transform(sequence(1, size({toks}) - {n - 1}), "
                # slice BEFORE hashing: slice(transform(toks), i, n) would
                # materialize the full token-hash array per shingle (O(len²)
                # per doc — fatal for long docs); this form is O(len·n)
                f"i -> xxhash64(transform(slice({toks}, i, {n}), t -> xxhash64(t))))) "
                f"ELSE array() END"
            ).alias("__sh"),
        )
        # The generator child is deliberately an EXPRESSION over __sh, not
        # the bare attribute: InferFiltersFromGenerate fires only on
        # attribute children (its SPARK-36715 cost guard), and the
        # size()>0 filter it would infer gets alias-substituted by
        # predicate pushdown below the _spread exchange — re-evaluating
        # the whole shingle transform TWICE per doc on the UNSPREAD
        # single scan partition (measured: 1.8 s → 5.1 s for the jaccard
        # entry when the explode child was the plain attribute). The
        # struct transform itself is O(len) pointer work per row; the
        # long cast keeps n_sh's historical count(*) aggregate type.
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(__sh, x -> named_struct("
                    "'h', x, 'n_sh', CAST(size(__sh) AS BIGINT)))"
                )
            ).alias("s"),
        )
        .select("id", F.col("s.n_sh").alias("n_sh"), F.col("s.h").alias("h"))
    )


def _cap_document_frequency(sh: DataFrame, df_max: int | None, key: str = "h") -> DataFrame:
    """Drop shingles whose document frequency exceeds ``df_max`` before any
    shingle join.

    A boilerplate shingle shared by N docs contributes N² rows to a
    shared-shingle join — one ubiquitous license-header 5-gram at corpus
    scale is a quadratic hot key (SCALE.md). Capping df bounds the join at
    |shingles|·df_max while leaving honest near-dup signals intact: a
    shingle in >df_max docs identifies nothing. Pairs whose overlap is ONLY
    boilerplate stop surfacing, and Jaccard of surviving pairs can
    underestimate by the dropped shingles — the standard posting-list cap
    semantics. ``None`` disables.

    Implemented as a partial-aggregated count of the over-cap keys followed
    by an anti-join: the over-cap key set is tiny by construction (at most
    |rows|/df_max distinct values, realistically a handful of boilerplate
    shingles), so AQE plans the anti-join as a broadcast. This replaced a
    count-window variant whose per-key sort of the full posting list
    measured ~3× slower at sf0.1.
    """
    if df_max is None:
        return sh
    overcap = sh.groupBy(key).agg(F.count("*").alias("__df")).filter(F.col("__df") > df_max).select(key)
    return sh.join(overcap, key, "left_anti")


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep the first row per key group (deterministic via order_by).

    Spark shape: window row_number over a hash-partitioned key — a single
    shuffle, no driver involvement.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.6,
    df_max: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard, candidate-filtered by
    shared-shingle join (no all-pairs cross product).

    Pair generation is posting-list style: group the (id, shingle-hash)
    rows by hash, keep posting lists with 2..df_max docs, and emit each
    list's sorted id pairs with one explode — ONE groupBy shuffle of 8-byte
    keys instead of a self-join (two exchanges of the posting list) plus a
    separate df-cap pass. The df cap is the posting-list size filter, so a
    boilerplate shingle cannot make pair generation quadratic on a hot key
    (see ``_cap_document_frequency`` for the semantics); sizes/denominators
    still count every shingle, so surviving pairs' Jaccard is exact up to
    the dropped-boilerplate overlap.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    sh = _hashed_shingles(df, id_col, text_col, n)
    joined = _shared_pairs_with_sizes(sh, df_max)
    return (
        joined.select(
            "id_a",
            "id_b",
            (F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shared_pairs_with_sizes(sh: DataFrame, df_max: int | None) -> DataFrame:
    """(id_a, id_b, shared, n_a, n_b) posting-list pair counts with both
    docs' shingle sizes attached — the shared trunk of the jaccard and
    containment entries (one definition so the df-cap semantics and the
    chunked pair emission cannot fork).

    The sizes ride the posting lists (``_hashed_shingles`` carries n_sh
    per row — a per-doc constant): the pair groupBy keys on
    (id_a, id_b, n_a, n_b), which groups exactly like (id_a, id_b) since
    n_* are functionally dependent on the ids. r15 restructure (guide
    §2.4): this replaced a separate sizes aggregation joined on after
    pair counting — two joins and one groupBy exchange fewer, and the
    corpus is tokenized/hashed ONCE instead of twice (the sizes subtree
    could not share the posting subtree's exchange). The df cap is still
    the posting-list size filter; n_sh still counts EVERY shingle (the
    cap drops lists, never the denominators)."""
    cap = "true" if df_max is None else f"size(ids) <= {int(df_max)}"
    return (
        sh.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct("id", "n_sh"))).alias("ids"))
        .filter(F.expr(f"size(ids) >= 2 AND {cap}"))
        # pair emission is CHUNKED by anchor: explode the anchor index
        # first, then emit only that anchor's pairs per row. A flat
        # flatten(transform(...)) would materialize the bucket's full
        # quadratic pair array as ONE row (df_max=10⁴ → ~5·10⁷ structs in a
        # single executor row); this shape bounds per-row memory at O(n)
        # while producing the identical pair set.
        .select("ids", F.explode(F.expr("sequence(0, size(ids) - 2)")).alias("i"))
        .select(
            F.expr("ids[i]").alias("a"),
            F.explode(F.expr("slice(ids, i + 2, size(ids) - i - 1)")).alias("b"),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("shared"))
        .select("id_a", "id_b", "shared", "n_a", "n_b")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    df_max: int | None = 100,
) -> DataFrame:
    """Weighted near-duplicate pairs by TF-IDF cosine over n-gram terms,
    posting-list generated (no all-pairs cross product).

    Terms are word n-grams (NOT distinct — term frequency counts repeats),
    hashed to 8-byte keys like ``_hashed_shingles``. The weight is the
    LINEAR inverse-document-frequency ``tf * (N + 1) / (df + 1)`` rather
    than the log variant: every arithmetic op is IEEE-exact-rounded
    (*, /, sqrt) so Spark and a SQL oracle agree bit-for-bit per term;
    only the dot/norm SUMS are order-sensitive, absorbed by the 1e-6
    cosine grid (same canonicalization as the embedding-cosine entries).
    The threshold compares the SNAPPED cosine so a boundary ulp cannot
    select different pairs across engines.

    Scale: the df cap bounds every posting list at df_max before pair
    emission — one boilerplate n-gram cannot go quadratic (see
    ``_cap_document_frequency`` semantics; here the cap also drops the
    term from norms on BOTH sides, keeping cosine consistent). Pair
    emission is chunked by anchor exactly like ``shingle_jaccard_pairs``;
    the only shuffles are groupBy(id, h), the df window on h, groupBy(id),
    groupBy(h), and the final groupBy(pair) — all on uniform hashed keys.

    r15 restructure (guide §2.4 / §1.2 step 1): the previous shape —
    ``kept = tf JOIN dfreq`` with ``norms`` joined back onto the pair
    dots twice — planned with ZERO exchange reuse: dfreq and norms are
    small post-aggregation frames, so the planner broadcast them, and a
    broadcast build side DUPLICATES its whole subtree instead of reusing
    a shuffle (9 documents scans, 6 n-gram tokenize passes and 6 tf
    aggregations for one invocation; plans/r15/
    dedup_tfidf_cosine_pairs_before.txt). Now (a) the document frequency
    comes from a count window over h on the tf rows — no dfreq join to
    duplicate ``tf`` into, and (b) each doc's norm ``nr`` rides the
    posting rows as a per-doc constant (the ``_shared_pairs_with_sizes``
    n_sh device): one groupBy(id) collects the doc's (h, w) terms
    together with nr, the re-exploded postings carry nr into the pair
    lists, and the dot groupBy keys on (id_a, id_b, na, nb) — grouping
    exactly like (id_a, id_b) since the norms are functionally dependent
    on the ids. One scan, one tokenize pass, zero joins; per-term w is
    the identical IEEE expression, and the dot/norm sums stay on the
    same 1e-6 snapped grid (the only order-sensitive step, exactly as
    before the restructure).

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine snapped to 1e-6.
    """
    toks = f"split({text_col}, ' ')"
    sh = _spread(df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(
                f"CASE WHEN size({toks}) >= {n} THEN "
                f"transform(sequence(1, size({toks}) - {n - 1}), "
                f"i -> xxhash64(transform(slice({toks}, i, {n}), t -> xxhash64(t)))) "
                f"ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("h"),
    )
    tf = sh.groupBy("id", "h").agg(F.count("*").alias("tf"))
    tot = df.agg(F.count("*").alias("n_docs"))  # 1-row scalar, broadcast
    cap = F.lit(True) if df_max is None else (F.col("df_") <= df_max)
    kept = (
        tf.withColumn("df_", F.count("*").over(Window.partitionBy("h")))
        .filter(cap)
        .crossJoin(F.broadcast(tot))
        # identical parse tree to the oracle: (tf * (N+1.0)) / (df+1.0)
        .select("id", "h", F.expr("tf * (n_docs + 1.0) / (df_ + 1.0)").alias("w"))
    )
    # one groupBy(id) yields the doc's kept terms AND its norm; the norm
    # then rides every posting row so no join re-attaches it
    docterms = kept.groupBy("id").agg(
        F.collect_list(F.struct("h", "w")).alias("hw"),
        F.sqrt(F.sum(F.expr("w * w"))).alias("nr"),
    )
    posting = docterms.select("id", "nr", F.explode("hw").alias("t")).select(
        "id", "nr", F.col("t.h").alias("h"), F.col("t.w").alias("w")
    )
    return (
        posting.groupBy("h")
        # ids are unique within a posting list, so the sort order (id
        # first) is identical with nr appended to the struct
        .agg(F.sort_array(F.collect_list(F.struct("id", "w", "nr"))).alias("iw"))
        .filter(F.expr("size(iw) >= 2"))
        # chunked by anchor — bounds per-row memory at O(df_max), see
        # shingle_jaccard_pairs for why a flat flatten() is fatal
        .select("iw", F.explode(F.expr("sequence(0, size(iw) - 2)")).alias("i"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(iw, i + 2, size(iw) - i - 1), "
                    "y -> struct(iw[i].id AS id_a, y.id AS id_b, "
                    "(iw[i].w * y.w) AS p, iw[i].nr AS na, y.nr AS nb))"
                )
            ).alias("t")
        )
        .select("t.id_a", "t.id_b", "t.p", "t.na", "t.nb")
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.sum("p").alias("dot"))
        .select(
            "id_a",
            "id_b",
            F.expr("floor(dot / (na * nb) * 1000000 + 0.5) / 1000000").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of md5(i || ':' || s).

    Lexicographic min over md5 hex strings is a valid uniform min-hash and is
    bit-identical across engines (the DuckDB oracle runs the same formula).
    One narrow explode + one groupBy(id) shuffle.

    KEEP this explode + min-AGGREGATE form (r15 adjudication, tried and
    reverted): an in-row variant — sig[i] = ``array_min(transform(__s,
    s -> md5(i || ':' || s)))`` over a staged shingle array — is
    value-identical (min is dedup- and multiplicity-invariant) and
    removes this shuffle plus the SortAggregate pair, but it moves the
    num_hashes·|shingles| md5 calls from CODEGEN'D aggregate input
    expressions into interpreted higher-order-function lambdas (HOFs are
    CodegenFallback): warm timings were flat (dedup_minhash_lsh 1.79 →
    1.78 s) while FIRST-execution cost exploded while the interpreted
    eval path JIT-warms (a minhash-estimate entry's cold sample → 15–25
    s in a verified-quiet window) — the hazard class the codegen-size
    note under ``_hashed_shingles`` documents. One-shot invocations are
    the bench's and any real job's shape, so the aggregate form stays.
    """
    sh = _spread(df, id_col, text_col).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("s")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH band buckets: (id, band, bh) — one row per band, bh = md5 of the
    band's signature slice. Docs sharing any (band, bh) are near-dup
    candidates; the bucket key is uniform, so self- or semi-joins on it
    have no skew. Pass a precomputed ``sig`` frame (from
    ``minhash_signatures``) to band an existing signature several ways
    without forking the banding definition — the band-tuning entry's
    path; ``df`` is ignored then."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) "
            "— trailing signature rows would be silently ignored"
        )
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])).alias(f"b{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    return banded.select(
        "id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bh")) for b in range(bands)])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    df_max: int | None = 10_000,
) -> DataFrame:
    """Per-doc shingle-hash sets for exact-Jaccard verification:
    (id, hs = the set of in-cap shingle hashes, n_sh = the UNCAPPED set
    size). Factored out of ``minhash_lsh_pairs`` so the incremental
    ingest entry can PERSIST the corpus side and verify new batches
    against the store without re-tokenizing old documents — one
    definition, so the cap/size semantics cannot fork between the
    self-join and bipartite pipelines."""
    sh = _hashed_shingles(df, id_col, text_col, n)
    if df_max is not None:
        # flag over-cap shingles instead of filtering them so ONE groupBy
        # yields both the capped set and the uncapped size (n_sh rides the
        # posting rows — a per-doc constant, so first() recovers it)
        overcap = (
            sh.groupBy("h").agg(F.count("*").alias("__df")).filter(F.col("__df") > df_max).select("h")
        )
        flagged = sh.join(overcap.withColumn("__over", F.lit(True)), "h", "left")
    else:
        flagged = sh.withColumn("__over", F.lit(None).cast("boolean"))
    return flagged.groupBy("id").agg(
        F.collect_set(F.when(F.col("__over").isNull(), F.col("h"))).alias("hs"),
        F.first("n_sh").alias("n_sh"),
    )


def _minhash_posting_base(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, n_sh, s, h) posting rows — ONE tokenize pass serving BOTH
    minhash devices: ``s`` is the raw n-gram string the signature md5s
    need, ``h`` the 8-byte xxhash the verify sets intersect on
    (identical formula to ``_hashed_shingles``: xxhash64 of the 5-long
    token-hash slice), ``n_sh`` the doc's distinct-shingle count.

    r16 (guide §1.2 step 1 / §5, verdict item 2): one dedup_minhash_lsh
    invocation evaluated THREE corpus tokenize passes at runtime — the
    string-shingle pass under the signature aggregate plus two
    hashed-shingle passes inside the verify-set build (overcap broadcast
    build + probe side, which exchange reuse cannot fold across the
    broadcast boundary) — and six statically. This frame is
    localCheckpoint-materialized (static reuse sites: signature agg +
    overcap agg + sets agg, the latter two ×2 in the declared plan = 5,
    clearing the ≥4 break-even) so every consumer reads the materialized
    rows, and kept as session state keyed by the corpus plan's
    semanticHash: one checkpoint per corpus per session, not one per
    invocation (~70 MB each at the bench scale). Distinctness is per
    STRING shingle — exactly the oracle's ``SELECT DISTINCT doc_id, s`` — so n_sh/hs semantics match
    the replayed SQL even more literally than the hash-distinct form
    (equal on any collision-free corpus, i.e. every tested one). The
    explode child stays an EXPRESSION over the stored array
    (SPARK-36715 guard, see ``_hashed_shingles``); the md5 calls stay
    codegen'd aggregate inputs (the r15 in-row-HOF revert stands)."""

    def build() -> DataFrame:
        toks = f"split({text_col}, ' ')"
        sl = f"slice({toks}, i, {n})"
        return (
            _spread(df, id_col, text_col)
            .select(
                F.col(id_col).alias("id"),
                F.expr(
                    f"CASE WHEN size({toks}) >= {n} THEN "
                    f"array_distinct(transform(sequence(1, size({toks}) - {n - 1}), "
                    f"i -> named_struct('s', concat_ws(' ', {sl}), "
                    f"'h', xxhash64(transform({sl}, t -> xxhash64(t)))))) "
                    f"ELSE array() END"
                ).alias("__sh"),
            )
            .select(
                "id",
                F.explode(
                    F.expr(
                        "transform(__sh, x -> named_struct("
                        "'s', x.s, 'h', x.h, 'n_sh', CAST(size(__sh) AS BIGINT)))"
                    )
                ).alias("p"),
            )
            .select("id", F.col("p.n_sh").alias("n_sh"), F.col("p.s").alias("s"), F.col("p.h").alias("h"))
            .localCheckpoint()
        )

    key = (df.semanticHash(), id_col, text_col, n)
    return state.get(df.sparkSession, "minhash_base", key, build)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    df_max: int | None = 10_000,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures into buckets, join within
    buckets only, then verify candidates with exact shingle Jaccard.

    The band join key is an md5 of the band slice — uniformly distributed, so
    the self-join shuffle has no skew. Verification carries each doc's
    shingle-hash set as a sorted array and intersects candidate pairs with
    ``array_intersect`` — two equi-joins on doc id over |cand| rows, no
    shingle self-join at all (an explode+equi-join verify variant measured
    ~4× slower at sf0.1: it reshuffles the full posting list per side).
    ``df_max`` still caps shingle document frequency in the shared counts
    (boilerplate shingles identify nothing — see ``_cap_document_frequency``);
    the size denominators count every shingle. Returns (id_a, id_b, jaccard).

    Join strategy (round 6): the band self-join and both verify joins are
    MERGE-hinted. Neither side is broadcastable at scale (the bucket table
    and the shingle-set table are both O(N) rows), and at small SF the
    broadcast plan Spark otherwise picks duplicates the whole signature /
    shingle-aggregation subtree into the build side — with identical
    shuffle exchanges on both sides instead, the exchange-reuse rule
    materializes each heavy subtree once.

    r16: signature AND verify sets both read the single
    ``_minhash_posting_base`` checkpoint — one corpus scan + one
    tokenize pass per invocation instead of three (see its docstring).
    """
    base = _minhash_posting_base(df, id_col, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = (
        base.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )
    buckets = minhash_band_buckets(df, id_col, text_col, n, num_hashes, bands, sig=sig)
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y").hint("merge"), ["band", "bh"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # Verify ONLY the candidate pairs (|cand| << all pairs — that is the
    # entire point of LSH), never touching non-colliding pairs. Same
    # flag-then-aggregate cap device as shingle_sets, over the checkpoint.
    sh = base.select("id", "n_sh", "h")
    if df_max is not None:
        overcap = (
            sh.groupBy("h").agg(F.count("*").alias("__df")).filter(F.col("__df") > df_max).select("h")
        )
        flagged = sh.join(overcap.withColumn("__over", F.lit(True)), "h", "left")
    else:
        flagged = sh.withColumn("__over", F.lit(None).cast("boolean"))
    sets = flagged.groupBy("id").agg(
        F.collect_set(F.when(F.col("__over").isNull(), F.col("h"))).alias("hs"),
        F.first("n_sh").alias("n_sh"),
    )
    # both pair-side joins hit the IDENTICAL `sets` projection (renames go on
    # the candidate side) so exchange reuse materializes its subtree — the
    # full shingle explode + groupBy — once, not twice; the merge hint keeps
    # Spark from broadcasting (and thereby duplicating) that subtree
    sets = sets.hint("merge")
    pairs = (
        cand.withColumnRenamed("id_a", "id")
        .join(sets, "id")
        .select(
            F.col("id").alias("id_a"),
            F.col("id_b").alias("id"),
            F.col("hs").alias("hs_a"),
            F.col("n_sh").alias("n_a"),
        )
        .join(sets, "id")
        .select(
            "id_a",
            F.col("id").alias("id_b"),
            F.size(F.array_intersect("hs_a", "hs")).alias("shared"),
            "n_a",
            F.col("n_sh").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs


_HEX = "0123456789abcdef"


def simhash64_hex(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Engine-portable 64-bit SimHash; signature emitted as a 16-char hex
    string ``simhex``.

    Token bits come from the first 16 hex digits of md5(token) — md5 hex is
    bit-identical across engines, so a DuckDB oracle replicates the WHOLE
    pipeline (token hash → per-bit votes → signature) rather than getting a
    rows-only check. Bit b (0..63) lives in hex digit k = b div 4 at
    in-digit position r = b mod 4: bit = (digit >> r) & 1; the signature
    digit k is rebuilt from votes v[4k..4k+3] with the same weighting, so
    ``simhex`` digit k and md5 digit k use one convention on both engines.

    Same shuffle shape as :func:`simhash64`: one narrow token explode, then
    ONE groupBy(id) carrying 64 partial-aggregated vote sums — no 64x row
    blowup. Per token row the 64 bits are materialized as TWO bigints via
    conv() on the md5 hex halves (hex chars 1-8 and 9-16, big-endian), so
    the vote CASEs are plain bit ops — measured 2.5x faster than per-digit
    locate()/substring() string extraction, and bit-identical to it (digit
    k of the hex string is nibble 7-(k mod 8) of its half's value).
    """
    tok = _spread(df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    )
    m = tok.select("id", F.expr("substring(md5(t), 1, 16)").alias("m"))
    halves = m.select(
        "id",
        F.expr("cast(conv(substring(m, 1, 8), 16, 10) as bigint)").alias("h1"),
        F.expr("cast(conv(substring(m, 9, 8), 16, 10) as bigint)").alias("h2"),
    )
    vote_aggs = []
    for b in range(64):
        k, r = b // 4, b % 4
        src, kk = ("h1", k) if k < 8 else ("h2", k - 8)
        shift = 4 * (7 - kk) + r
        vote_aggs.append(
            F.expr(
                f"sum(CASE WHEN (shiftright({src}, {shift}) & 1) = 1 THEN 1 ELSE -1 END)"
            ).alias(f"v{b}")
        )
    votes = halves.groupBy("id").agg(*vote_aggs)
    nibbles = [
        " + ".join(f"CASE WHEN v{4 * k + r} > 0 THEN {1 << r} ELSE 0 END" for r in range(4))
        for k in range(16)
    ]
    return votes.select(
        "id",
        F.concat(*[F.expr(f"substring('{_HEX}', ({n}) + 1, 1)") for n in nibbles]).alias("simhex"),
    )


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens (token weight = term frequency).

    Each token hashes to 64 bits (xxhash64); the signature bit b is 1 iff the
    weighted sum of (bit set ? +1 : -1) over tokens is positive. Expressed as
    explode + groupBy + bit arithmetic — all JVM-side. Fastest path, but
    xxhash64 is engine-specific; use :func:`simhash64_hex` when the result
    must be reproducible outside Spark (the catalog's oracle-checked entry).
    """
    tok = _spread(df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    )
    hashed = tok.select("id", F.xxhash64("t").alias("h"))
    # 64 per-bit vote aggregates over the token rows — partial aggregation
    # keeps the shuffle at |docs| rows; no 64× row blowup (an explode here
    # would be 64·|tokens| rows, which at 100 TB is the difference between a
    # pass and a non-starter).
    votes = hashed.groupBy("id").agg(
        *[
            F.expr(f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)").alias(f"v{b}")
            for b in range(64)
        ]
    )
    bit_terms = " + ".join(
        f"CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END"
        for b in range(64)
    )
    return votes.select("id", F.expr(bit_terms).alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    method: str = "md5",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4×16-bit chunks
    (pigeonhole: hamming<=3 ⇒ at least one identical chunk), bucket-join, then
    Hamming-verify collisions.

    ``method="md5"`` (default) uses the engine-portable hex signature so a
    DuckDB oracle can verify the full pipeline bit-for-bit; banding is on
    4-hex-digit substrings and the Hamming distance sums per-digit
    ``bit_count(xor)``. Candidates come posting-list style: one groupBy
    (chunk, chunk-value) collecting (id, simhex), pairs exploded per bucket
    with Hamming computed inline — the signature subtree executes ONCE and
    there is no self-join (the chunks-self-join variant measured 4x slower:
    exchange reuse does not fire across the join's two aliases, so the
    whole token-explode + 64-vote aggregation ran twice). ``bucket_max``
    caps bucket size exactly like the shingle joins' df cap: a degenerate
    signature shared by >bucket_max docs (empty/boilerplate texts) would
    otherwise emit a quadratic pair blowup from one hot bucket.
    ``method="xxhash64"`` is the fastest JVM-only path (bigint signature,
    native xor). Both return (id_a, id_b, hamming).
    """
    if method == "xxhash64":
        sig = simhash64(df, id_col, text_col)
        chunks = sig.select(
            "id",
            "simhash",
            F.explode(
                F.expr("transform(sequence(0, 3), c -> struct(c as chunk, shiftright(simhash, c * 16) & 65535 as ch))")
            ).alias("cc"),
        ).select("id", "simhash", "cc.chunk", "cc.ch")
        cand = (
            chunks.alias("x")
            .join(chunks.alias("y"), ["chunk", "ch"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.col("x.simhash").alias("sh_a"),
                F.col("y.simhash").alias("sh_b"),
            )
            .distinct()
        )
        return (
            cand.withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("bigint"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    if method != "md5":
        raise ValueError(f"method must be 'md5' or 'xxhash64', got {method!r}")
    bucket_max = 10_000
    sig = simhash64_hex(df, id_col, text_col)
    chunks = sig.select(
        "id",
        F.explode(
            F.expr("transform(sequence(0, 3), c -> struct(c AS chunk, substring(simhex, c * 4 + 1, 4) AS ch))")
        ).alias("cc"),
        "simhex",
    ).select("id", "cc.chunk", "cc.ch", "simhex")
    buckets = (
        chunks.groupBy("chunk", "ch")
        .agg(F.collect_list(F.struct("id", "simhex")).alias("ds"))
        .filter(F.expr(f"size(ds) BETWEEN 2 AND {bucket_max}"))
    )
    # collect_list order is nondeterministic — canonicalize each pair by id
    # inside the lambda so (id_a < id_b) holds regardless of arrival order.
    # Pair emission is CHUNKED by anchor (explode the index, then one
    # anchor's pairs per row): a flat flatten(transform(...)) would build a
    # hot bucket's whole quadratic pair array as ONE row (bucket_max=10⁴ →
    # ~5·10⁷ structs in a single executor row); this bounds per-row memory
    # at O(bucket size) with the identical pair set.
    pairs = (
        buckets.select(
            "ds", F.explode(F.expr("sequence(0, size(ds) - 2)")).alias("i")
        )
        .select(
            F.expr("ds[i]").alias("a"),
            F.explode(
                F.expr("slice(ds, i + 2, size(ds) - i - 1)")
            ).alias("b"),
        )
        .select(
            F.expr(
                "struct("
                "IF(a.id < b.id, a.id, b.id) AS id_a, "
                "IF(a.id < b.id, b.id, a.id) AS id_b, "
                "IF(a.id < b.id, a.simhex, b.simhex) AS sa, "
                "IF(a.id < b.id, b.simhex, a.simhex) AS sb)"
            ).alias("p")
        )
        .select("p.*")
    )
    # Hamming from the hex halves as bigints (conv) — one xor+bit_count per
    # half instead of 16 per-digit string extractions (smaller generated
    # code, faster compile AND eval)
    ham = (
        "bit_count(cast(conv(substring(sa, 1, 8), 16, 10) as bigint) ^ "
        "cast(conv(substring(sb, 1, 8), 16, 10) as bigint)) + "
        "bit_count(cast(conv(substring(sa, 9, 8), 16, 10) as bigint) ^ "
        "cast(conv(substring(sb, 9, 8), 16, 10) as bigint))"
    )
    # Hamming filter BEFORE the cross-chunk distinct: the dedup shuffle then
    # carries only true near-dups, not every bucket collision
    return (
        pairs.withColumn("hamming", F.expr(f"CAST({ham} AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
