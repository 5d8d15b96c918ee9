"""Text-analysis operators for the documents table (SURVEY.md §2.11).

Everything here is built-in-function Spark SQL (whole-stage codegen) — the
formulas are intentionally engine-portable so the DuckDB oracle can run the
same arithmetic. No Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import rounding
from ..parallel import spread

# tiny per-language stopword profiles for the heuristic language scorer
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "de", "et", "les"),
}

STOPWORDS = LANG_STOPWORDS["en"]

_BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def _in_list(col: str, words: tuple) -> str:
    quoted = ",".join(f"'{w}'" for w in words)
    return f"size(filter(split({col}, ' '), w -> w in ({quoted})))"


def n_tokens_expr(text_col: str = "text") -> Column:
    return F.expr(f"CAST(size(split({text_col}, ' ')) AS BIGINT)")


def stopword_ratio_expr(text_col: str = "text", digits: int = 4) -> Column:
    toks = f"split({text_col}, ' ')"
    return F.expr(rounding.snap_sql(f"{_in_list(text_col, STOPWORDS)} / size({toks})", digits))


def quality_expr(text_col: str = "text") -> Column:
    """score = 0.5 · min(n_tokens/100, 1) + 0.5 · min(stopword_ratio·5, 1)."""
    toks = f"split({text_col}, ' ')"
    sw = rounding.snap_sql(f"{_in_list(text_col, STOPWORDS)} / size({toks})", 4)
    return F.expr(
        rounding.snap_sql(f"0.5 * least(size({toks}) / 100.0, 1.0) + 0.5 * least(({sw}) * 5.0, 1.0)", 4)
    )


def lang_pred_expr(text_col: str = "text") -> Column:
    """The language whose stopword profile hits the most tokens; fixed
    priority (dict order) breaks ties; zero hits → 'und'."""
    pred: Column = F.lit("und")
    best: Column = F.lit(0)
    # fixed priority = dict order; a strictly-greater score takes over
    for lang, words in LANG_STOPWORDS.items():
        cnt = F.expr(_in_list(text_col, words))
        take = cnt > best
        pred = F.when(take, F.lit(lang)).otherwise(pred)
        best = F.when(take, cnt).otherwise(best)
    return pred


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token statistics: counts, lengths, stopword/punct ratios.

    Columns: n_tokens, n_chars_nospace, avg_token_len, stopword_ratio.
    """
    toks = f"split({text_col}, ' ')"
    nchars = f"length(replace({text_col}, ' ', ''))"
    return df.select(
        F.col(id_col),
        n_tokens_expr(text_col).alias("n_tokens"),
        F.expr(f"CAST({nchars} AS BIGINT)").alias("n_chars_nospace"),
        F.expr(rounding.snap_sql(f"{nchars} / size({toks})", 4)).alias("avg_token_len"),
        stopword_ratio_expr(text_col).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic quality score in [0, 1]: rewards moderate length and
    stopword presence (the standard cheap pre-filter for LLM corpora)."""
    return df.select(F.col(id_col), quality_expr(text_col).alias("quality"))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: the language whose stopword profile hits the
    most tokens wins; fixed priority order breaks ties; zero hits → 'und'."""
    return df.select(F.col(id_col), lang_pred_expr(text_col).alias("pred_lang"))


def bpe_ish_token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token count under a BPE-ish regex (letter runs | single digits |
    single punctuation) — the cheap proxy for LLM token budgeting."""
    return df.select(
        F.col(id_col),
        F.expr(f"CAST(size(regexp_extract_all({text_col}, '{_BPE_ISH_TOKEN_RE}', 0)) AS BIGINT)").alias("n_bpe_tokens"),
    )


def zscore_by_group(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    value_col: str = "n_chars",
) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` (grouped-map pandas UDF).

    Deliberately implemented on the Python grouped-map path to exercise the
    §2.9 UDF surface with an oracle (the same math is a window expression in
    SQL). Shape: one shuffle on the group key; each group materializes as a
    pandas frame — fine for natural groups (languages, sources); for
    high-cardinality keys prefer the window-function form.

    Returns (id, group, z) with z = (x - mean) / stddev_samp, portable-
    rounded to 4; singleton/zero-variance groups yield NULL.
    """
    import pandas as pd

    out_schema = f"{id_col} long, {group_col} string, z double"

    def norm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        x = pdf[value_col].astype("float64")
        sd = x.std(ddof=1)
        if not sd or sd != sd:  # 0 or NaN
            # nullable Float64 so Arrow emits true SQL NULLs — a plain
            # float64 NaN would survive as NaN in the DoubleType column
            # and dodge `z IS NULL` filters
            z = pd.array([None] * len(x), dtype="Float64")
        else:
            z = rounding.snap_np((x - x.mean()) / sd, 4)
        return pd.DataFrame({id_col: pdf[id_col], group_col: pdf[group_col], "z": z})

    return df.groupBy(group_col).applyInPandas(norm, schema=out_schema)


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the normalized (lowercased,
    space-collapsed) text — the exact-dedup key for content-addressing."""
    norm = f"regexp_replace(lower({text_col}), '\\\\s+', ' ')"
    return df.select(F.col(id_col), F.expr(f"md5({norm})").alias("fp"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint (Schleimer et al.): hash every character
    k-gram, slide a window of w hashes, keep each window's minimum; the
    distinct minima are the document's fingerprint set.

    md5-as-rolling-hash keeps it engine-portable (bit-identical in SQL
    oracles); the array pipeline is whole-stage-codegen JVM work, one row
    per document — no explode, no shuffle. Docs shorter than k+w-1 chars
    are dropped (no complete window exists).

    Returns (id, n_fps, min_fp).
    """
    # Staged projections: hash each k-gram ONCE into a stored array
    # column `__gr`, take the window minima into a stored `__w`, then
    # answer both outputs in-row from `__w` — O(len) md5 calls per doc
    # (hashing per window would be O(len·w)) and no shuffle. Both stages
    # survive the optimizer because CollapseProject never re-inlines an
    # expensive alias with multiple consumers: `__gr` is referenced twice
    # (size + slice), `__w` twice (array_distinct + array_min). Inlining
    # the k-gram transform into the window lambda is O(len²) md5.
    grams = (
        f"transform(sequence(1, length({text_col}) - {k - 1}),"
        f" i -> md5(substring({text_col}, i, {k})))"
    )
    wins = (
        f"transform(sequence(1, size(__gr) - {w - 1}),"
        f" j -> array_min(slice(__gr, j, {w})))"
    )
    # gated narrow spread (parallel.spread): md5-heavy zero-shuffle
    # per-row work would otherwise serialize on a single-split input
    proj = spread(df.filter(F.expr(f"length({text_col}) >= {k + w - 1}")).select(id_col, text_col))
    return (
        proj.select(F.col(id_col), F.expr(grams).alias("__gr"))
        .select(F.col(id_col), F.expr(wins).alias("__w"))
        .select(
            F.col(id_col),
            F.expr("CAST(size(array_distinct(__w)) AS BIGINT)").alias("n_fps"),
            F.expr("array_min(__w)").alias("min_fp"),
        )
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """Global top-k word n-grams by occurrence count — the corpus-vocabulary
    scan of a training pipeline (boilerplate detection, tokenizer seeding).

    Scale: explode is narrow; the count is a hash aggregate with map-side
    partial combine (n-gram keys are near-uniform, no hot key worse than the
    corpus' own most-common phrase); the final top-k is TakeOrdered over
    per-partition k-row heaps, NOT a global sort shuffle. Ties break on the
    n-gram string so results are deterministic across cluster layouts.
    """
    toks = f"split({text_col}, '{sep}')"
    grams = F.expr(
        # sequence(1, 0) yields DESCENDING [1, 0], not [] — guard short rows
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws('{sep}', slice({toks}, i, {n}))) "
        f"ELSE array() END"
    )
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


# (name, pattern, replacement) applied IN ORDER; each pattern is counted on
# the text as already redacted by the previous ones, so overlapping matches
# (an IP inside an email) are never double-counted. Patterns restrict to
# syntax valid in BOTH Java regex (Spark) and RE2 (DuckDB oracle): no
# backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
]


def redact_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Scrub emails / IPv4s / international-format phone numbers, returning
    (id, clean_text, n_redactions). Pure regexp_replace chain — whole-stage
    codegen, no Python, embarrassingly parallel (no shuffle at any scale).
    """
    cur: Column = F.col(text_col)
    count = F.lit(0)
    for _, pat, repl in PII_PATTERNS:
        count = count + F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, repl)
    # gated narrow spread (parallel.spread): the regex chain is the
    # expensive per-row work and the operator is zero-shuffle — on
    # single-split input it would serialize on one core
    return spread(df.select(id_col, text_col)).select(
        F.col(id_col), cur.alias("clean_text"), count.cast("long").alias("n_redactions")
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition filters: per-document n-gram repetition
    statistics (Rae et al. 2021 use the fraction of content in the most
    common n-gram and in duplicated n-grams as quality gates).

    Returns (id, n_ngrams, top_ngram_frac, dup_ngram_frac) where
    top_ngram_frac = count(most frequent n-gram) / n_ngrams and
    dup_ngram_frac = 1 - distinct/total (fraction of n-gram slots occupied
    by repeats). Fractions are portable-rounded to 4 digits.

    Scale shape: ZERO shuffle. The per-doc statistics come from one
    codegen'd pass — n-grams hash to longs (token-hash slices, no string
    materialization), ``sort_array`` groups equal hashes adjacently, and a
    single ``aggregate`` scan carries (prev, run, best, n_distinct)
    through the sorted array. An explode + groupBy formulation would
    shuffle |tokens| rows per doc; this ships one row per doc and is
    embarrassingly parallel at any corpus size. Docs with fewer than n
    tokens report 0 n-grams and null fractions.
    """
    toks = f"split({text_col}, ' ')"
    grams = (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"sort_array(transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> xxhash64(transform(slice({toks}, i, {n}), t -> xxhash64(t))))) "
        f"ELSE array() END"
    )
    scan = (
        "aggregate(__g, "
        "struct(CAST(NULL AS BIGINT) AS prev, CAST(0 AS BIGINT) AS run, "
        "       CAST(0 AS BIGINT) AS best, CAST(0 AS BIGINT) AS nd), "
        "(acc, g) -> struct(g AS prev, "
        "  IF(g <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT)) AS run, "
        "  greatest(acc.best, IF(g <=> acc.prev, acc.run + 1, CAST(1 AS BIGINT))) AS best, "
        "  acc.nd + IF(g <=> acc.prev, CAST(0 AS BIGINT), CAST(1 AS BIGINT)) AS nd))"
    )
    # Staged projections: storing grams, then the scan struct + size, as
    # intermediate columns evaluates each ONCE per row (inlined, `grams`
    # would run ~7 times); CollapseProject keeps the stages separate
    # because an expensive alias referenced more than once is never
    # re-inlined (struct-field reads of the stored scan are cheap). The gated
    # repartition is the per-row-work spread (parallel.spread): this
    # operator is zero-shuffle, so nothing downstream would otherwise
    # parallelize a single-split input.
    return (
        spread(df.select(id_col, text_col)).select(F.col(id_col), F.expr(grams).alias("__g"))
        .select(
            F.col(id_col),
            F.expr("CAST(size(__g) AS BIGINT)").alias("n_ngrams"),
            F.expr(scan).alias("__sc"),
        )
        .select(
            F.col(id_col),
            "n_ngrams",
            F.expr(
                "CASE WHEN n_ngrams > 0 THEN "
                + rounding.snap_sql("CAST(__sc.best AS DOUBLE) / n_ngrams", 4)
                + " END"
            ).alias("top_ngram_frac"),
            F.expr(
                "CASE WHEN n_ngrams > 0 THEN "
                + rounding.snap_sql("CAST(1 AS DOUBLE) - CAST(__sc.nd AS DOUBLE) / n_ngrams", 4)
                + " END"
            ).alias("dup_ngram_frac"),
        )
    )


def span_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", window: int = 8
) -> DataFrame:
    """Corpus-level duplicated-span removal (the C4 recipe, token-window
    variant): split each document into non-overlapping ``window``-token
    chunks (the final partial chunk included), keep only the globally FIRST
    occurrence of every distinct chunk (ordered by doc id, then chunk
    position), and reassemble each document from its surviving chunks.

    Returns (id, clean_text, n_chunks, n_dropped); clean_text is NULL for a
    document whose every chunk was seen earlier (a pure duplicate).

    Scale shape: the explode is narrow; first-occurrence is one
    ``row_number`` window over the chunk hash — the hash is uniform, so the
    shuffle has no hot keys (a chunk repeated millions of times lands in one
    partition ordered by (doc, pos): its posting is sort-bounded, the same
    O(df·log df) bound as the dedup window). Reassembly is one groupBy(doc)
    of (pos, surviving chunk) pairs. Chunks join on the chunk TEXT, not a
    hash, so removal is exact (no collision risk on destructive edits).
    """
    toks = f"split({text_col}, ' ')"
    nchunks = f"CAST(ceil(size({toks}) / {window}.0) AS INT)"
    chunks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {nchunks} - 1), "
                f"c -> concat_ws(' ', slice({toks}, c * {window} + 1, {window})))"
            )
        ).alias("pos", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("id", "pos")
    kept = chunks.withColumn("rn", F.row_number().over(w))
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(IF(rn = 1, struct(pos, chunk), NULL))), s -> s.chunk)"),
            ).alias("joined"),
            F.count("*").alias("n_chunks"),
            F.sum(F.expr("IF(rn = 1, 0, 1)")).alias("n_dropped"),
        )
        .select(
            F.col("id").alias(id_col),
            F.expr("IF(joined = '' AND n_dropped > 0, NULL, joined)").alias("clean_text"),
            F.col("n_chunks").cast("long"),
            F.col("n_dropped").cast("long"),
        )
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", digits: int = 4
) -> DataFrame:
    """Unigram language-model score: mean ln P(token) per document, with
    P estimated from the corpus itself (count/total over all token
    occurrences) — the classic cheap perplexity proxy for quality filtering
    (very low mean logprob → gibberish / rare-token soup; very high →
    degenerate repetition of common words).

    Returns (id, n_tokens, mean_logprob) rounded to ``digits``.

    Scale shape: pass 1 builds the vocabulary (explode + map-side-combined
    count — vocab cardinality, not corpus size, crosses the wire); pass 2
    joins token occurrences to the vocab on the token (AQE broadcasts a
    small vocab; a web-scale vocab falls back to a uniform-key shuffle
    join) and averages per doc. The corpus total rides along as a literal
    aggregate, not a driver-side collect.
    """
    # the corpus total rides the vocab-sized frame as a whole-frame
    # window: one evaluation of the vocab subtree, no crossJoin
    tok = df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    vocab = vocab.withColumn(
        "tot",
        F.sum("cnt").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    scored = tok.join(vocab, "t")
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.expr("ln(CAST(cnt AS DOUBLE) / tot)")).alias("mlp"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long"),
            F.expr(rounding.snap_sql("mlp", digits)).alias("mean_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", digits: int = 4
) -> DataFrame:
    """Interpolated bigram language-model score: mean
    ln(½·P(w₂|w₁) + ½·P(w₂)) per document, with the conditional
    P(w₂|w₁) = c(w₁,w₂)/c(w₁·) estimated from corpus bigram counts and
    the unigram backoff from token counts — one modeling step beyond
    ``unigram_logprob``: repetitive but locally-coherent text scores
    high under unigrams yet exposes itself through improbable
    transitions, and vice versa. The ½/½ interpolation guarantees a
    nonzero argument for every observed bigram (both factors are
    corpus-estimated, so neither is ever zero here).

    Returns (id, n_bigrams, mean_logprob) rounded to ``digits``.

    Scale shape: bigram pairs come from an arrays_zip of the token
    array against its own tail — pure JVM array ops, NO window sort and
    no per-token shuffle; the bigram/context/unigram vocabularies
    aggregate map-side (vocab cardinality crosses the wire, not corpus
    size), and the two probability joins hit vocab-sized tables (AQE
    broadcasts them when small). The ln argument is computed with one
    fixed expression shape, so per-row values are IEEE-identical
    cross-engine; only the final mean needs the grid snap. The declared
    plan re-derives the token/pair extraction per consumer (5 narrow
    scans of the text column, like `unigram_logprob`'s 2) — at corpus
    scale a production run materializes the tokenized frame once and
    feeds all vocabularies from it; the extraction itself stays the
    cheapest stage (projection-only, no shuffle).
    """
    d2 = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    )
    tail = F.greatest(F.size("w") - 1, F.lit(0))
    pairs = d2.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, tail).alias("w1"),
                F.slice("w", 2, tail).alias("w2"),
            )
        ).alias("p"),
    ).select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # the totals ride their vocab-sized frames as windows (the post-agg
    # tiny-frame exemption): cc = sum(bc) over the w1 partition of the
    # bigram table, tot = a whole-frame sum over the unigram table, so no
    # subtree is evaluated twice
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    bg = bg.withColumn("cc", F.sum("bc").over(Window.partitionBy("w1")))
    tok = df.select(F.explode(F.split(F.col(text_col), " ")).alias("t"))
    uni = tok.groupBy("t").agg(F.count("*").alias("uc"))
    uni = uni.withColumn(
        "tot",
        F.sum("uc").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    scored = pairs.join(bg, ["w1", "w2"]).join(
        uni.withColumnRenamed("t", "w2"), "w2"
    )
    lp = F.expr(
        "ln(0.5 * CAST(bc AS DOUBLE) / cc + 0.5 * CAST(uc AS DOUBLE) / tot)"
    )
    return (
        scored.groupBy("id")
        .agg(F.count("*").alias("n_bigrams"), F.avg(lp).alias("mlp"))
        .select(
            F.col("id").alias(id_col),
            F.col("n_bigrams").cast("long"),
            F.expr(rounding.snap_sql("mlp", digits)).alias("mean_logprob"),
        )
    )


def source_mix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Training-mix report per source: document/token volume, mean quality,
    and a sqrt-of-tokens sampling weight (the standard sub-linear mixing
    heuristic — large sources are down-weighted relative to their raw size
    so the mix stays diverse).

    Returns (source, n_docs, n_tokens, mean_quality, mix_weight) with
    mix_weight = sqrt(n_tokens) / Σ sqrt(n_tokens), portable-rounded.

    Scale shape: one map-side-combined groupBy on the (low-cardinality)
    source key; the normalizing total is a one-row aggregate broadcast back
    — never a driver-side collect. Source-key skew is irrelevant: partial
    aggregation reduces each partition to |sources| rows before the
    shuffle.
    """
    per = (
        df.select(
            F.col(source_col).alias("source"),
            n_tokens_expr(text_col).alias("nt"),
            quality_expr(text_col).alias("q"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.avg("q").alias("mq"),
        )
    )
    # the normalizer rides the |sources|-row report as a whole-frame
    # window; its ≤|sources| doubles may sum in any order, as the weight
    # column is snapped
    per = per.withColumn(
        "tot_sqrt",
        F.sum(F.sqrt(F.expr("CAST(n_tokens AS DOUBLE)"))).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    return per.select(
        "source",
        F.col("n_docs").cast("long"),
        F.col("n_tokens").cast("long"),
        F.expr(rounding.snap_sql("mq", 4)).alias("mean_quality"),
        F.expr(rounding.snap_sql("sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt", digits)).alias("mix_weight"),
    )


def chunk_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 20,
    stride: int = 15,
) -> DataFrame:
    """RAG-style overlapping chunking: split each document's token stream
    into windows of ``size`` words advancing by ``stride`` (so consecutive
    chunks share ``size - stride`` words of context). Chunk count per doc
    is 1 + ceil(max(dl - size, 0) / stride) — a short document yields one
    (possibly short) chunk, and the final chunk is allowed to be shorter
    than ``size`` rather than re-reading the tail twice.

    Returns (id, chunk_idx, n_words, chunk_md5) — the md5 of the
    re-joined chunk text stands in for the chunk body so the result stays
    narrow while still value-checking the exact chunk boundaries.

    Scale shape: pure narrow per-row array ops (split / sequence /
    posexplode / slice) — zero shuffles, fan-out bounded by dl/stride per
    document; the embedding/index stages downstream consume the chunks
    with their own partitioning.
    """
    w = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    ).withColumn("dl", F.size("w"))
    nch = F.expr(f"1 + CAST(floor((greatest(dl - {size}, 0) + {stride} - 1) / {stride}) AS INT)")
    return (
        w.withColumn("k", F.explode(F.sequence(F.lit(0), nch - 1)))
        .select(
            F.col("id").alias(id_col),
            F.col("k").cast("long").alias("chunk_idx"),
            F.expr(f"slice(w, 1 + k * {stride}, {size})").alias("cw"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("cw").cast("long").alias("n_words"),
            F.md5(F.concat_ws(" ", "cw")).alias("chunk_md5"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval (k1 = 1.2, b = 0.75) with a linear idf
    ((N+1)/(df+1), the same rational device as the tf-idf entry), scored
    ENTIRELY in integer arithmetic so the ranking is bit-identical across
    engines: with S = Σ document lengths and dl the doc's length,

        score_term = [22·S·tf·(N+1)] / [(df+1)·(10·tf·S + 3·S + 9·dl·N)]

    is the classic BM25 term formula with both sides multiplied out by
    10·S·N (k1+1 = 2.2 → 22, k1·(1-b) = 0.3 → 3, k1·b = 0.9 → 9).
    Numerator, denominator, and the snap product 2·num·10⁴ are computed
    in DECIMAL(38,0) — the snap multiplier alone pushes the worst case
    to ≈6e21 at sf1, past int64, and non-ANSI Spark would wrap silently
    (round-6 advisory); decimal keeps every product exact up to 1e38 (a
    ~3e8× margin over the 100 TB design point, where S ≈ 1e13 tokens and
    num·2·10⁴ ≈ 4e30). Each term score is snapped to a 1e-4 grid by
    INTEGER division round-half-up ((2·num·10⁴ + den) DIV (2·den) —
    Spark's DIV truncates DECIMAL operands to a BIGINT quotient, matching
    DuckDB's ``//`` on HUGEINT for these all-positive operands), and the
    document score is the exact integer sum of the snapped term scores —
    no IEEE addition anywhere, so top-k selection on (score_x1e4 DESC,
    id) can never be reordered by an ulp.

    Returns the top ``k`` rows (id, score_x1e4, rank).

    Scale shape: the isin filter keeps only query-term postings (|terms|
    small, broadcast as a literal), so the tf aggregation shuffles at most
    |terms|·N rows; df and the (N, S) scalars are one-row/|terms|-row
    aggregates broadcast back; the final top-k is a rank over a
    |terms|·N-bounded scored set, not the corpus.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    ).withColumn("dl", F.size("w").cast("long"))
    scal = base.agg(
        F.count("*").cast("long").alias("n"), F.sum("dl").cast("long").alias("s")
    )
    # dl rides the token rows (a per-doc constant, same device as the
    # shingle pipelines' n_sh carry, r15): grouping on (id, dl, term)
    # groups exactly like (id, term), and the join back onto a separate
    # (id, dl) projection disappears — one join and one full split() pass
    # over the corpus fewer (the dls subtree re-evaluated the tokenizer
    # for every doc just to read off its length).
    tok = base.select("id", "dl", F.explode("w").alias("term")).filter(
        F.col("term").isin(*query_terms)
    )
    tf = tok.groupBy("id", "dl", "term").agg(F.count("*").cast("long").alias("tf"))
    dfr = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(scal))
        .withColumn("num", F.expr("CAST(22 AS DECIMAL(38,0)) * s * tf * (n + 1)"))
        .withColumn(
            "den",
            F.expr(
                "CAST(df + 1 AS DECIMAL(38,0)) * (CAST(10 AS DECIMAL(38,0)) * tf * s"
                " + CAST(3 AS DECIMAL(38,0)) * s + CAST(9 AS DECIMAL(38,0)) * dl * n)"
            ),
        )
        .withColumn("s4", F.expr("(2 * num * 10000 + den) DIV (2 * den)"))
    )
    per_doc = scored.groupBy("id").agg(F.sum("s4").cast("long").alias("score_x1e4"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition top-k,
    # merged on one reducer over k rows) — not a global sort; the window
    # that assigns ranks then runs over just k rows.
    topk = per_doc.orderBy(F.col("score_x1e4").desc(), F.col("id")).limit(k)
    win = Window.orderBy(F.col("score_x1e4").desc(), F.col("id"))
    return topk.withColumn("rank", F.row_number().over(win).cast("long")).select(
        F.col("id").alias(id_col), "score_x1e4", "rank"
    )
