"""Named query catalog: the driver-contract surface (SURVEY.md §2).

Each entry pairs a Spark implementation (DataFrame-first, Catalyst-optimized)
with an ANSI-SQL oracle DuckDB runs on the same parquet tables. Column names
and value canonicalization (rounding, tiebreaks) match on both sides so the
driver's order-insensitive value-hash comparison is deterministic:

- money/ratio aggregates round to fixed decimals on BOTH sides; ratio
  columns built from exact rationals use floor(x*10^d+0.5)/10^d (ties are
  REACHABLE there), while FP-accumulated money sums keep round() — a tie
  needs the shortest-repr double to end exactly at the rounding digit,
  which repeated sweeps show does not occur in this fixed corpus. The
  Spark side writes that snap only through ``rounding.py`` (and cents as
  its un-divided ``units`` cast to BIGINT); the oracles keep the literal
  text on purpose, so one bug cannot pass on both sides
- top-k cuts rank on the ROUNDED score with a unique-id tiebreaker so
  floating-point last-ulp differences can never select different rows
- integer-derived ratios (jaccard) are bit-identical across engines
- md5-based hashing (fingerprints, minhash) is bit-identical across engines

Queries without an oracle entry (approx_count_distinct — HLL sketches are
engine-specific; the k-means IVF family — iterative clustering) get the
driver's rows-only check. Simhash and hyperplane-LSH are approximate
FAMILIES but deterministic PIPELINES (md5-seeded), so their oracles replay
the full pipeline in DuckDB.
"""

from __future__ import annotations

import math
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import rounding, state
from .operators import (
    cluster,
    dedup,
    merge,
    multimodal,
    pack,
    similarity,
    sketch,
    skew,
    text,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# DuckDB-side bigint from the first 12 hex digits of an md5 column `h` —
# the oracle-replayable uniform-hash device shared by the weighted-sample
# and count-min entries (12 digits = 48 bits, exact in BIGINT and DOUBLE)
_HEX12 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {t + 1}, 1)) - 1) * {16 ** (11 - t)}"
    for t in range(12)
)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE: the two conf sets below deliberately PERSIST on the caller's
    # session — they must be in effect at execution time of the returned
    # (lazy) DataFrame, so a set/restore scope would produce heisenbugs.
    # Both settings are required for oracle-correct results from this
    # catalog; callers needing different semantics should use a separate
    # session. They run on every call (cache hit or not): the cached plan
    # executes under the CALLER's session confs.
    if name in ("events", "orders", "lineitem"):
        # timestamp semantics must match the (timezone-naive) DuckDB oracle
        # regardless of the caller session's timezone
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS); Spark reads it only as a long
        # (legacy.parquet.nanosAsLong). Truncate ns → µs exactly like DuckDB
        # does when it converts to its microsecond TIMESTAMP. Must be set
        # BEFORE the session's first events read (cache-miss path below).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # the cached value is a prepared scan (a plan, never row data): it saves
    # the ~80-150 ms of parquet footer/analysis per table per call
    def build() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df

    return state.get(spark, "table", (state.corpus_digest(sf_dir), name), build)


# ---------------------------------------------------------------------------
# Relational core over the TPC-H-ish tables (SURVEY §2.7 — the operator
# families the reference delegates to its host engine, native in Spark)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2)                                   AS avg_qty,
           round(avg(l_extendedprice), 2)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy partial+final hash aggregation.

    Scale: filter + project push into the parquet scan; partial aggregation
    is map-side, so the shuffle carries only |groups| rows per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > DATE '1998-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact joins → top-k.

    The customer side is filtered then joined (AQE broadcasts it when small);
    the top-k cut orders by the rounded measure + key so the selected rows
    are engine-deterministic."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("date"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join with small dims broadcast explicitly.

    region/nation are O(10^1) rows at any SF — broadcast them so the only
    shuffles are the fact-fact joins on orderkey/custkey."""
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q_top3_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
      SELECT c.c_mktsegment, o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY round(o.o_totalprice, 2) DESC, o.o_orderkey) AS rnk
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
    WHERE rnk <= 3
    """,
)
def q_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (top-k per group) — row_number over a partitioned sort."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).withColumn("o_totalprice", F.round("o_totalprice", 2))
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        j.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "q_rollup_revenue",
    oracle="""
    SELECT r.r_name, n.n_name, round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation: ROLLUP(region, nation) incl. grand total."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .join(r, r.r_regionkey == n.n_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "q_cube_revenue",
    oracle="""
    SELECT r.r_name, c.c_mktsegment, round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY CUBE (r.r_name, c.c_mktsegment)
    """,
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(region, segment): all four grouping-set combinations — completes
    the §2.7 rollup/cube/grouping-sets family (rollup and grouping sets have
    their own entries)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .join(r, r.r_regionkey == n.n_regionkey)
        .cube("r_name", "c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "q_distinct_nations_per_segment",
    oracle="""
    SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_distinct_nations_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand-and-reaggregate under the hood)."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count("*").alias("n_customers"),
        )
    )


@query(
    "q_big_spenders_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def q_big_spenders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS decorrelated to left_semi)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_value_percentiles",
    oracle="""
    SELECT event_type,
           floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(value, 0.9) * 10000 + 0.5) / 10000 AS p90,
           floor(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS p99
    FROM events GROUP BY event_type
    """,
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡ DuckDB
    `quantile_cont`: both rank at p·(n−1) with linear interpolation). The
    exact form needs a per-group sort; the streaming/sketch alternative is
    approx_percentile (t-digest), engine-specific like approx_distinct."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr(rounding.snap_sql("percentile(value, 0.5)", 4)).alias("p50"),
        F.expr(rounding.snap_sql("percentile(value, 0.9)", 4)).alias("p90"),
        F.expr(rounding.snap_sql("percentile(value, 0.99)", 4)).alias("p99"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) customers per order-year —
    rows-only check: sketch estimates are engine-specific by construction.
    (The exact-countDistinct operator family is oracle-checked separately
    in q_distinct_nations_per_segment.)"""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers"))
    )


QUERIES["q_approx_distinct"] = q_approx_distinct


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH d AS (SELECT DISTINCT year(o_orderdate) AS yr, o_custkey
               FROM orders),
    u AS (SELECT yr, o_custkey,
                 md5(o_custkey::VARCHAR) AS h
          FROM d),
    v AS (SELECT yr, ({_HEX12}) AS ui FROM u),
    r AS (SELECT yr, ui,
                 row_number() OVER (PARTITION BY yr ORDER BY ui) AS rn
          FROM v),
    ex AS (SELECT yr, count(*) AS n_exact FROM v GROUP BY 1),
    sk AS (SELECT yr, count(*) AS nk,
                  max(CASE WHEN rn = 64 THEN ui END) AS u64
           FROM r WHERE rn <= 64 GROUP BY 1)
    SELECT sk.yr AS year, CAST(ex.n_exact AS BIGINT) AS exact_customers,
           CASE WHEN nk < 64 THEN CAST(nk AS BIGINT)
                ELSE CAST(floor(CAST(17732923532771328 AS DOUBLE) / u64 + 0.5)
                          AS BIGINT) END AS kmv_customers
    FROM sk JOIN ex ON sk.yr = ex.yr
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (k=64) of customers per
    order-year, reported next to the exact count — the ORACLE-CHECKABLE
    approximate-distinct: KMV keeps the k smallest hash values and
    estimates (k−1)/u₍ₖ₎, and because the hash is md5 the whole sketch —
    member set, kth value, estimate — is bit-identical across engines
    (`q_approx_distinct`'s HLL++ is engine-specific by construction and
    stays rows-only; this entry closes that gap with a portable sketch
    from the same family of one-pass mergeable summaries).

    The estimate divides two exact integers (63·2⁴⁸ and the 48-bit kth
    hash) and snaps via floor(x+0.5): a tie needs the quotient exactly
    at .5, unreachable for these operand magnitudes. Strata smaller
    than k report exactly (the sketch is lossless below k).

    Scale: distinct (year, custkey) is one shuffle; the k smallest per
    year is a WindowGroupLimit-prunable rank (plan-pinned) — each
    partition forwards at most k candidates, so the sketch branch's
    per-year state is k values no matter how many customers exist: the
    mergeable-summary property, same as the count-min entry. The exact
    count rides a SEPARATE aggregation branch (7-row broadcast join
    back) — folding it into the rank window would force every row
    through the window sort and defeat the group limit; in production
    the exact branch wouldn't exist at all."""
    d = (
        _t(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("yr"), "o_custkey")
        .distinct()
    )
    ui = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    v = d.withColumn("ui", ui)
    ex = v.groupBy("yr").agg(F.count("*").alias("exact_customers"))
    w_rank = Window.partitionBy("yr").orderBy("ui")
    sk = (
        v.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 64)
        .groupBy("yr")
        .agg(
            F.count("*").alias("nk"),
            F.max(F.when(F.col("rn") == 64, F.col("ui"))).alias("u64"),
        )
    )
    # 17732923532771328 = 63·2^48 — exact in DOUBLE (< 2^54); spelled as
    # one literal because DuckDB parses `63.0 * ...` as DECIMAL
    # arithmetic, which overflows DECIMAL(18) and would round differently
    est = F.when(F.col("nk") < 64, F.col("nk")).otherwise(
        F.floor(F.lit(17732923532771328.0) / F.col("u64") + 0.5)
    )
    return sk.join(F.broadcast(ex), "yr").select(
        F.col("yr").alias("year"),
        F.col("exact_customers"),
        est.cast("long").alias("kmv_customers"),
    )


@query(
    "q_kmv_set_ops",
    oracle=f"""
    WITH d AS (SELECT DISTINCT year(o_orderdate) AS yr, o_custkey
               FROM orders),
    u AS (SELECT yr, o_custkey, md5(o_custkey::VARCHAR) AS h FROM d),
    v AS (SELECT yr, ({_HEX12}) AS ui FROM u),
    m AS (SELECT yr AS pair_a, ui, 'a' AS side FROM v
          UNION ALL SELECT yr - 1, ui, 'b' FROM v),
    g AS (SELECT pair_a, ui,
                 max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
                 max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
          FROM m GROUP BY 1, 2),
    ex AS (SELECT pair_a, CAST(count(*) AS BIGINT) AS exact_union,
                  CAST(sum(in_a * in_b) AS BIGINT) AS exact_intersection
           FROM g GROUP BY 1
           HAVING max(in_a) = 1 AND max(in_b) = 1),
    r AS (SELECT *, row_number() OVER (PARTITION BY pair_a ORDER BY ui) rn
          FROM g),
    sk AS (SELECT pair_a, count(*) AS nk,
                  max(CASE WHEN rn = 64 THEN ui END) AS u64,
                  CAST(sum(in_a * in_b) AS BIGINT) AS c
           FROM r WHERE rn <= 64 GROUP BY 1),
    est AS (SELECT pair_a, nk, c,
                   CASE WHEN nk < 64 THEN CAST(nk AS BIGINT)
                        ELSE CAST(floor(CAST(17732923532771328 AS DOUBLE)
                                        / u64 + 0.5) AS BIGINT)
                   END AS kmv_union
            FROM sk)
    SELECT e.pair_a AS year_a, e.pair_a + 1 AS year_b,
           ex.exact_union, e.kmv_union,
           ex.exact_intersection,
           CASE WHEN e.nk < 64 THEN e.c
                ELSE CAST(floor(e.c * CAST(e.kmv_union AS DOUBLE) / 64 + 0.5)
                          AS BIGINT)
           END AS kmv_intersection
    FROM est e JOIN ex ON e.pair_a = ex.pair_a
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET OPERATIONS on KMV sketches: for each pair
    of adjacent order-years, the union and intersection of their
    customer sets estimated purely from k=64-minimum-value summaries —
    the mergeable-sketch algebra (union = k smallest of the combined
    sample; intersection = inclusion ratio within it × union estimate)
    that answers audience-overlap questions from constant state instead
    of re-scanning either cohort. Exact counts ride alongside for
    calibration; below k the sketch is lossless and reports exactly.

    md5 hashing makes every intermediate (member sets, kth value, both
    estimates) bit-identical across engines, so the oracle replays the
    full sketch algebra — the same portability device as
    `q_kmv_distinct` and the count-min entries. The intersection
    estimator reuses the already-FLOORED union estimate, keeping the
    second rounding deterministic.

    Scale: one distinct shuffle, then each (year, hash) row EXPLODES to
    its two pair groups (one scan — no self-union, no quadratic pair
    join); pairs missing either cohort drop out via the aggregate
    max(in_a)/max(in_b) flags (no separate min/max-year pass). The
    merged-sketch rank is WindowGroupLimit-prunable, so per-pair state
    is k values regardless of cohort sizes. The exact branch is the
    demo calibration — production keeps only the sketch pipeline."""
    d = (
        _t(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("yr"), "o_custkey")
        .distinct()
    )
    ui = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    v = d.withColumn("ui", ui)
    m = v.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("yr").alias("pair_a"),
                    F.col("ui"),
                    F.lit("a").alias("side"),
                ),
                F.struct(
                    (F.col("yr") - 1).alias("pair_a"),
                    F.col("ui"),
                    F.lit("b").alias("side"),
                ),
            )
        ).alias("e")
    ).select("e.pair_a", "e.ui", "e.side")
    g = m.groupBy("pair_a", "ui").agg(
        F.max(F.when(F.col("side") == "a", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("side") == "b", 1).otherwise(0)).alias("in_b"),
    )
    ex = (
        g.groupBy("pair_a")
        .agg(
            F.count("*").alias("exact_union"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersection"),
            F.max("in_a").alias("any_a"),
            F.max("in_b").alias("any_b"),
        )
        .filter((F.col("any_a") == 1) & (F.col("any_b") == 1))
        .drop("any_a", "any_b")
    )
    r = g.withColumn(
        "rn", F.row_number().over(Window.partitionBy("pair_a").orderBy("ui"))
    ).filter(F.col("rn") <= 64)
    sk = r.groupBy("pair_a").agg(
        F.count("*").alias("nk"),
        F.max(F.when(F.col("rn") == 64, F.col("ui"))).alias("u64"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("c"),
    )
    kmv_union = F.when(F.col("nk") < 64, F.col("nk")).otherwise(
        F.floor(F.lit(17732923532771328.0) / F.col("u64") + 0.5)
    )
    est = sk.withColumn("kmv_union", kmv_union.cast("long"))
    kmv_inter = F.when(F.col("nk") < 64, F.col("c")).otherwise(
        F.floor(F.col("c") * F.col("kmv_union").cast("double") / 64 + 0.5)
    )
    return est.join(F.broadcast(ex), "pair_a").select(
        F.col("pair_a").alias("year_a"),
        (F.col("pair_a") + 1).alias("year_b"),
        F.col("exact_union"),
        F.col("kmv_union"),
        F.col("exact_intersection"),
        kmv_inter.cast("long").alias("kmv_intersection"),
    )


@query(
    "q_bloom_semi_join",
    oracle=f"""
    WITH dk AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
    hp AS (SELECT c_custkey, i,
                  md5(i::VARCHAR || ':' || c_custkey::VARCHAR) AS h
           FROM dk, range(0, 3) r(i)),
    bits AS (SELECT DISTINCT ({_HEX12}) % 1024 AS b FROM hp),
    pk AS (SELECT DISTINCT o_custkey FROM orders),
    php AS (SELECT o_custkey, i,
                   md5(i::VARCHAR || ':' || o_custkey::VARCHAR) AS h
            FROM pk, range(0, 3) r(i)),
    pb AS (SELECT o_custkey, i, ({_HEX12}) % 1024 AS b FROM php),
    cand AS (SELECT o_custkey FROM pb JOIN bits USING (b)
             GROUP BY o_custkey HAVING count(DISTINCT i) = 3),
    tru AS (SELECT pk.o_custkey FROM pk JOIN dk ON o_custkey = c_custkey)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM dk) AS n_dim_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM tru) AS n_true_matches,
           (SELECT CAST(count(*) AS BIGINT) FROM cand)
             - (SELECT CAST(count(*) AS BIGINT) FROM tru) AS false_positives
    """,
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter, fully portable: a 1024-bit /
    3-hash Bloom filter built from the selective dim side (rich
    customers) probes the fact's key set, and the entry reports the
    filter's whole truth — bits set, candidates passed, true matches,
    and FALSE POSITIVES — the runtime-filter pattern (Spark's own
    injected bloom, Parquet bloom filters) with its accuracy made a
    hash-checked fact. Completes the portable-sketch family: CMS
    (frequency), KMV (distinct + set algebra), MinHash/SimHash
    (similarity), bottom-k (quantiles), Bloom (membership).

    md5-seeded bit positions make the filter bit-identical in the
    oracle, so candidates and FP counts replay exactly — unlike
    engine-native bloom runtime filters, which are invisible to a
    cross-engine check. A probe key passes iff ALL 3 positions are set
    (count of DISTINCT matched hash indexes = 3).

    Scale: the bit set is ≤ m = 1024 rows — broadcast to the probe side
    (in production it's a bitmask in a broadcast variable / pushed into
    the scan); the probe explodes k = 3 rows per DISTINCT key, never
    per fact row. The dim side never shuffles fact-sized data — the
    point of the pattern: membership pre-pruning for the price of k
    hashes per key and a constant-size broadcast."""
    dk = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )

    def pos(i: int, key):
        h = F.md5(F.concat(F.lit(str(i)), F.lit(":"), key.cast("string")))
        return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % 1024

    bits = dk.select(
        F.explode(
            F.array(*[pos(i, F.col("c_custkey")) for i in range(3)])
        ).alias("b")
    ).distinct()
    # r16 (guide §2.4): the true-match count was a SECOND evaluation of
    # the distinct-orders-keys frame (scan + distinct exchange) semi-
    # joined against dk. The truth marker now rides the probe pipeline
    # (broadcast left join on the unique dim key): a true key always
    # passes the filter (no false negatives), so both n_candidates and
    # n_true_matches fall out of ONE aggregate over the per-key
    # bloom-probe groupBy — one orders scan, one distinct, no semi join.
    pk = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    marked = pk.join(
        F.broadcast(dk.withColumn("__t", F.lit(True))),
        pk.o_custkey == dk.c_custkey,
        "left",
    ).select("o_custkey", "__t")
    pb = marked.select(
        "o_custkey",
        "__t",
        F.posexplode(
            F.array(*[pos(i, F.col("o_custkey")) for i in range(3)])
        ).alias("i", "b"),
    )
    kc = (
        pb.join(F.broadcast(bits), "b")
        .groupBy("o_custkey")
        .agg(F.countDistinct("i").alias("k"), F.first("__t").alias("__t"))
    )
    cnt = kc.agg(
        F.sum(F.when(F.col("k") == 3, 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
        F.sum(F.when(F.col("__t").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_true_matches"),
    )
    nd = dk.agg(F.count("*").alias("n_dim_keys"))
    nb = bits.agg(F.count("*").alias("n_bits_set"))
    out = nd.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(cnt))
    return out.select(
        "n_dim_keys",
        "n_bits_set",
        "n_candidates",
        "n_true_matches",
        (F.col("n_candidates") - F.col("n_true_matches")).alias("false_positives"),
    )


@query(
    "q_quantile_bottomk_sketch",
    oracle="""
    WITH c AS (SELECT c_mktsegment, c_acctbal, c_custkey FROM customer),
    ex AS (SELECT c_mktsegment, c_acctbal,
                  row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal, c_custkey) AS rn,
                  count(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM c),
    em AS (SELECT c_mktsegment, n, c_acctbal AS exact_median
           FROM ex WHERE rn = (n + 1) // 2),
    s AS (SELECT c_mktsegment, c_acctbal, c_custkey,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY md5(c_custkey::VARCHAR),
                                             c_custkey) AS rs
          FROM c),
    sr AS (SELECT c_mktsegment, c_acctbal,
                  row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal, c_custkey) AS rn,
                  count(*) OVER (PARTITION BY c_mktsegment) AS nk
           FROM s WHERE rs <= 64),
    sm AS (SELECT c_mktsegment, c_acctbal AS sketch_median
           FROM sr WHERE rn = (nk + 1) // 2)
    SELECT em.c_mktsegment, CAST(em.n AS BIGINT) AS n,
           em.exact_median, sm.sketch_median
    FROM em JOIN sm ON em.c_mktsegment = sm.c_mktsegment
    """,
)
def q_quantile_bottomk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a bottom-k sample (k=64): per segment,
    the 64 customers with the smallest md5(custkey) form a uniform
    without-replacement sample — and bottom-k BY A HASH is a MERGEABLE
    summary (union two samples, keep the 64 smallest hashes: exactly the
    sample of the union), the property that lets every executor sketch
    independently. The sketch median sits next to the exact median for
    error inspection.

    Both medians are ORDER STATISTICS (element at rank ⌈n/2⌉ under
    (acctbal, custkey)) — no percentile interpolation arithmetic, so
    every output value is a raw column read, bit-identical across
    engines. Strata below k are sampled losslessly.

    Scale: the sample branch's rank ≤ k prunes with WindowGroupLimit (k
    state per group per partition); the exact branch needs the full
    per-segment sort and exists only for the comparison — production
    keeps the sketch branch alone."""
    c = _t(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal", "c_custkey")
    w_ex = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_n = Window.partitionBy("c_mktsegment").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    em = (
        c.withColumn("rn", F.row_number().over(w_ex))
        .withColumn("n", F.count("*").over(w_n))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("c_mktsegment", "n", F.col("c_acctbal").alias("exact_median"))
    )
    w_s = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    )
    sample = c.withColumn("rs", F.row_number().over(w_s)).filter(F.col("rs") <= 64)
    sm = (
        sample.withColumn("rn", F.row_number().over(w_ex))
        .withColumn("nk", F.count("*").over(w_n))
        .filter(F.col("rn") == F.expr("(nk + 1) div 2"))
        .select("c_mktsegment", F.col("c_acctbal").alias("sketch_median"))
    )
    return em.join(F.broadcast(sm), "c_mktsegment")


@query(
    "q_returns_exists",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q_returns_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: EXISTS decorrelates to a left-semi join, then a hash
    aggregate on the tiny priority domain (map-side combine collapses it)."""
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_promo_revenue_ratio",
    oracle="""
    SELECT floor(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000
           AS economy_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    """,
)
def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: conditional-aggregate ratio over a fact↔dim join;
    part is explicitly broadcast so the fact side never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.expr(
            rounding.snap_sql(
                "100.0 * sum(CASE WHEN p_type = 'ECONOMY'"
                " THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
                " / sum(l_extendedprice * (1 - l_discount))",
                4,
            )
        ).alias("economy_revenue_pct")
    )


@query(
    "q_small_quantity_revenue",
    oracle="""
    SELECT p_brand,
           floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS small_qty_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p_brand
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: correlated scalar subquery (per-part average
    quantity). Spark-first decorrelation: ONE pre-aggregation of lineitem by
    partkey broadcast back onto the fact table — the fact side is scanned
    twice but never shuffled (both the threshold join and the brand lookup
    are broadcast hash joins)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    avg_q = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(avg_q), li.l_partkey == avg_q.ak)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.expr(rounding.snap_sql("sum(l_extendedprice)", 2)).alias("small_qty_revenue"))
    )


@query(
    "q_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS decorrelated to left_anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_custkeys_set_difference",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= DATE '1997-01-01'
    """,
)
def q_custkeys_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: customers active only before 1997 (EXCEPT)."""
    o = _t(spark, sf_dir, "orders")
    before = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).select("o_custkey").distinct()
    after = o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")).select("o_custkey").distinct()
    return before.exceptAll(after)


@query(
    "q_brand_revenue",
    oracle="""
    SELECT p.p_brand, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join with explicit broadcast of the dim side."""
    l = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    return (
        l.join(p, p.p_partkey == l.l_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_orders_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q_orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-customer running revenue (deterministic frame)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "q_customer_pareto",
    oracle="""
    WITH cv AS (SELECT o_custkey,
                       CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS vc
                FROM orders GROUP BY 1),
    r AS (SELECT *,
                 sum(vc) OVER (ORDER BY vc DESC, o_custkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum,
                 sum(vc) OVER () AS total
          FROM cv)
    SELECT o_custkey, vc / 100.0 AS revenue,
           CAST((cum * 10000) // total AS BIGINT) AS cum_share_bp
    FROM r WHERE (cum - vc) * 10 < total * 8
    """,
)
def q_customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto cut: the smallest set of top customers covering 80 % of
    revenue (the concentration/ABC-analysis shape). A customer is kept
    while the cumulative revenue BEFORE them is under the 80 % mark, so
    the crossing customer is included and the set is minimal.

    Revenue snaps to integer cents; the cut test (cum−vc)·10 < total·8
    and the reported cumulative share in basis points (cum·10⁴ div
    total) are pure integer arithmetic — no FP percentage can flip a
    customer across the boundary. Ordering ties break on custkey.

    Scale: one aggregation shuffle to per-customer totals, then a
    cumulative window over the aggregated frame. The cumsum is a global
    ordered window (single partition of |customers| rows) — fine to
    ~10⁷ customers; beyond that the standard two-phase prefix-sum
    (per-partition partials, broadcast offsets) replaces the window, a
    mechanical rewrite the entry's integer semantics survive unchanged."""
    cv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(rounding.units(F.sum("o_totalprice"), 2).cast("long").alias("vc"))
    )
    w_cum = (
        Window.orderBy(F.col("vc").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        cv.withColumn("cum", F.sum("vc").over(w_cum))
        .withColumn("total", F.sum("vc").over(w_all))
        .filter((F.col("cum") - F.col("vc")) * 10 < F.col("total") * 8)
        .select(
            "o_custkey",
            (F.col("vc") / 100.0).alias("revenue"),
            F.expr("(cum * 10000) div total").alias("cum_share_bp"),
        )
    )


@query(
    "q_customer_skyline",
    oracle="""
    WITH cv AS (SELECT c.c_custkey,
                       CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
                       CAST(floor(sum(o.o_totalprice) * 100 + 0.5) AS BIGINT)
                         AS rev_c
                FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                GROUP BY c.c_custkey, c.c_acctbal),
    s AS (SELECT *,
                 max(rev_c) OVER (ORDER BY bal_c DESC
                                  RANGE BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS best_above
          FROM cv)
    SELECT c_custkey, bal_c / 100.0 AS acctbal, rev_c / 100.0 AS revenue
    FROM s WHERE best_above IS NULL OR best_above <= rev_c
    """,
)
def q_customer_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: customers not strictly
    dominated in (account balance, total revenue) — no other customer
    has BOTH higher balance and higher revenue. The classic
    multi-criteria shortlist query (Börzsönyi et al.'s skyline operator),
    absent from SQL engines as a primitive.

    2-D skyline via one sorted sweep: order by balance descending, keep
    a point iff max(revenue) over STRICTLY higher balances (a RANGE
    frame ending 1 PRECEDING on integer cents — peers excluded exactly)
    does not exceed its revenue. Both dimensions snap to integer cents,
    so dominance is integer comparison; ties in balance are peers, not
    dominators, in both engines by the same frame bound.

    Scale: one join-aggregate shuffle to per-customer totals, then the
    sweep window over the aggregated frame (global order — the same
    ~1e7-row ceiling and two-phase prefix-max rewrite as the Pareto-cut
    entry; d>2 skylines switch to block-nested-loop partitioning)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cv = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(rounding.units(F.sum("o_totalprice"), 2).cast("long").alias("rev_c"))
        .withColumn("bal_c", rounding.units(F.col("c_acctbal"), 2).cast("long"))
    )
    w = (
        Window.orderBy(F.col("bal_c").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return (
        cv.withColumn("best_above", F.max("rev_c").over(w))
        .filter(F.col("best_above").isNull() | (F.col("best_above") <= F.col("rev_c")))
        .select(
            "c_custkey",
            (F.col("bal_c") / 100.0).alias("acctbal"),
            (F.col("rev_c") / 100.0).alias("revenue"),
        )
    )


@query(
    "q_orders_open_interval_sweep",
    oracle="""
    WITH oi AS (SELECT o_orderkey,
                       date_trunc('day', min(o_orderdate)) AS s,
                       date_trunc('day', max(l_shipdate)) + INTERVAL 1 DAY AS e
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY o_orderkey),
    d AS (SELECT s AS day, 1 AS d FROM oi
          UNION ALL SELECT e AS day, -1 AS d FROM oi),
    g AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM d GROUP BY day)
    SELECT day, CAST(sum(delta) OVER (ORDER BY day) AS BIGINT) AS open_orders
    FROM g
    """,
)
def q_orders_open_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: how many orders are OPEN (placed
    but not fully shipped) on each day the count changes — the classic
    intervals→concurrency time series (max-overlap / resource-occupancy
    query) that naive SQL writes as an interval×calendar join.

    Each order contributes a +1 delta at its order date and a −1 the day
    after its last line ships; deltas aggregate per day and one running
    sum over the day spine reconstructs the step function exactly (pure
    integer counts, no FP anywhere). Days between change points carry
    the previous value by construction.

    Scale: the ±1 deltas aggregate map-side into |distinct days| rows
    (~thousands regardless of order count), so the only global-order
    window runs over the tiny aggregated frame — the same
    aggregate-then-sweep shape as the Pareto/skyline entries. The
    interval extraction itself is one orders⋈lineitem shuffle on the
    order key."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    oi = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.date_trunc("day", F.min("o_orderdate")).alias("s"),
            (
                F.date_trunc("day", F.max("l_shipdate")) + F.expr("INTERVAL 1 DAY")
            ).alias("e"),
        )
    )
    # r16 (guide §2.4): the unionAll of two projections evaluated the
    # orders⋈lineitem aggregate TWICE (4 scans, 2 joins per invocation);
    # one in-row explode emits both sweep deltas from a single pass.
    deltas = oi.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("day"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("day"), F.lit(-1).alias("d")),
            )
        ).alias("x")
    ).select("x.*")
    g = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return g.select("day", F.sum("delta").over(w).alias("open_orders"))


@query(
    "q_events_cusum",
    oracle="""
    WITH dc AS (SELECT event_type, date_trunc('day', ts) AS day,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, day, cnt,
                  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS s
           FROM dc),
    p AS (SELECT event_type, day,
                 CAST(sum(n * cnt - s) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
          FROM st)
    SELECT event_type, day,
           CAST(pre - min(pre) OVER (PARTITION BY event_type ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_scaled
    FROM p
    """,
)
def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic over daily event volume per type:
    the cumulative sum of deviations from the series mean, reset at its
    running minimum — the classic upward-shift detector (Page's CUSUM).
    A sustained rate increase makes the statistic climb; values near 0
    mean the rate is at or below its historical baseline.

    The sequential recursion S_i = max(0, S_{i-1} + d_i) is rewritten
    closed-form as P_i − min_{j≤i} P_j (prefix sum minus running min) —
    two stock window functions, no iterative loop. Deviations are scaled
    by n (d_i = n·cnt_i − Σcnt) so the whole computation is INTEGER:
    no FP mean, bit-exact across engines; cusum_scaled = n·CUSUM.

    Scale: one partial+final count aggregation (|days×types| rows), then
    windows per event_type over the tiny aggregated frame — the same
    shape as the anomaly/EWMA entries; the prefix-sum form also makes
    CUSUM mergeable across partitioned day ranges. int64 headroom
    (round-7 audit): |n·cnt − s| ≤ n·E_type and the prefix sum of n
    deviations is ≤ n²·E_type ≈ 1e18 at n=1e4 days, 1e10 events/type —
    inside int64 at the design point, unlike the squared-product entries
    the audit widened; revisit past ~3e4 days."""
    dc = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    st = dc.withColumn("n", F.count("*").over(wall)).withColumn(
        "s", F.sum("cnt").over(wall)
    )
    p = st.withColumn(
        "pre", F.sum(F.col("n") * F.col("cnt") - F.col("s")).over(wrun)
    )
    return p.select(
        "event_type",
        "day",
        (F.col("pre") - F.min("pre").over(wrun)).alias("cusum_scaled"),
    )


@query(
    "q_events_time_weighted_value",
    oracle="""
    WITH e AS (SELECT event_type, ts, event_id,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
               FROM events),
    l AS (SELECT event_type, vc,
                 lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id)
                   - epoch_us(ts) AS dt
          FROM e)
    SELECT event_type,
           CAST(sum(dt) AS BIGINT) AS span_us,
           floor(CAST(sum(vc * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)
                 / 100.0 * 10000 + 0.5) / 10000 AS twa
    FROM l WHERE dt IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per event type with LOCF
    (last-observation-carried-forward) semantics — the irregular-series
    average that plain avg() gets wrong when observations cluster: each
    value is weighted by how long it was current (until the next event),
    i.e. the integral of the step function divided by its span, as in
    hypertable `time_weight('locf')` aggregates.

    All weights are exact integers: values snap to cents, durations are
    integer microseconds, and Σ vc·dt is bounded by vc_max · span
    (≈5.6e4 · 2.6e12 ≈ 1.5e17 here) INDEPENDENT of row count — the sum
    telescopes — so int64 holds it with 60× headroom at any SF. One IEEE
    division at the end, snapped to the 1e-4 grid; ties in ts contribute
    dt = 0 under any tiebreak, so the result is deterministic.

    Scale: one window sort per event_type for lead(), then a partial+
    final integer aggregation — no FP accumulation order dependence
    anywhere, so partial aggregates merge exactly on any cluster."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        rounding.units(F.col("value"), 2).cast("long").alias("vc"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # ts may be TIMESTAMP_NTZ (current testdata generation); the cast is
    # exact because _t pins the session timezone to UTC
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    l = e.select(
        "event_type",
        "vc",
        (F.lead(tus).over(w) - tus).alias("dt"),
    )
    return (
        l.filter(F.col("dt").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum("dt").alias("span_us"),
            rounding.snap(
                F.sum(F.col("vc") * F.col("dt")).cast("double")
                / F.sum("dt").cast("double")
                / 100.0,
                4,
            ).alias("twa"),
        )
    )


@query(
    "q_events_mad_outliers",
    oracle="""
    WITH dc AS (SELECT event_type, date_trunc('day', ts) AS day,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2),
    r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                        ORDER BY cnt, day) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM dc),
    wm AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
                       OVER (PARTITION BY event_type) AS med
           FROM r1),
    dv AS (SELECT *, abs(cnt - med) AS dev FROM wm),
    r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                        ORDER BY dev, day) AS rn2
           FROM dv),
    wd AS (SELECT *, max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
                       OVER (PARTITION BY event_type) AS mad
           FROM r2)
    SELECT event_type, day, cnt, CAST(med AS BIGINT) AS med,
           CAST(mad AS BIGINT) AS mad
    FROM wd WHERE dev > 3 * mad
    """,
)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: days whose event count deviates from the
    per-type MEDIAN by more than 3× the median absolute deviation — the
    robust-statistics sibling of the 3σ entry (`q_events_anomaly`):
    median/MAD ignore the outliers themselves, so a single huge spike
    can't inflate the threshold and mask its neighbors the way it
    inflates mean/σ.

    Both medians are LOW medians — the value at row_number (n+1) DIV 2
    under a total (value, day) order — i.e. exact integer order
    statistics on integer counts: no interpolation, no FP, bit-exact
    across engines (the same device as the bottom-k quantile sketch).

    Scale: ONE events scan and one count aggregation; both medians are
    computed as windowed CASE-maxes inside the same per-type partition
    (no join-back, no branch re-scans — every window shares one
    exchange on event_type over the tiny |days×types| frame, pinned by
    test_plan_shapes)."""
    dc = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    wn = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mid = F.expr("(n + 1) DIV 2")
    r1 = dc.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("event_type").orderBy("cnt", "day")),
    ).withColumn("n", F.count("*").over(wn))
    wm = r1.withColumn(
        "med", F.max(F.when(F.col("rn") == mid, F.col("cnt"))).over(wn)
    )
    dv = wm.withColumn("dev", F.abs(F.col("cnt") - F.col("med")))
    r2 = dv.withColumn(
        "rn2",
        F.row_number().over(Window.partitionBy("event_type").orderBy("dev", "day")),
    )
    wd = r2.withColumn(
        "mad", F.max(F.when(F.col("rn2") == mid, F.col("dev"))).over(wn)
    )
    return wd.filter(F.col("dev") > 3 * F.col("mad")).select(
        "event_type", "day", "cnt", "med", "mad"
    )


def _scd2_daily_dominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day, event_type) frame of each user's dominant daily
    event type — the collapse SHARED by ``q_user_scd2_segments`` (full
    rebuild) and the staged ``q_user_scd2_merge`` (incremental MERGE,
    whose oracle IS the rebuild SQL): one implementation, so the two
    entries cannot silently diverge on the dominance tiebreak or day
    truncation. Dominance is deterministic: count desc, then event_type
    asc."""
    dt = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("c"))
    )
    wdom = Window.partitionBy("user_id", "day").orderBy(
        F.col("c").desc(), "event_type"
    )
    return (
        dt.withColumn("rn", F.row_number().over(wdom))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "event_type")
    )


def _scd2_segments_from(dom: DataFrame) -> DataFrame:
    """Run-length-encode a (user_id, day, event_type) dominant frame into
    SCD2 validity segments (lag change filter + lead valid_to; open
    segment has valid_to NULL). Shared by the rebuild entry and the
    merge entry's base-store construction — see
    ``_scd2_daily_dominant``."""
    wday = Window.partitionBy("user_id").orderBy("day")
    ch = dom.withColumn("prev", F.lag("event_type").over(wday))
    sc = ch.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    ).select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.col("day").alias("valid_from"),
    )
    wfrom = Window.partitionBy("user_id").orderBy("valid_from")
    return sc.select(
        "user_id",
        "segment",
        "valid_from",
        F.lead("valid_from").over(wfrom).alias("valid_to"),
    )


@query(
    "q_user_scd2_segments",
    oracle="""
    WITH dt AS (SELECT user_id, date_trunc('day', ts) AS day, event_type,
                       count(*) AS c
                FROM events GROUP BY 1, 2, 3),
    dom AS (SELECT user_id, day, event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, day
                                           ORDER BY c DESC, event_type) rn
              FROM dt) WHERE rn = 1),
    ch AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY day) AS prev
           FROM dom),
    sc AS (SELECT user_id, event_type AS segment, day AS valid_from
           FROM ch WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, segment, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to
    FROM sc
    """,
)
def q_user_scd2_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each user's dominant daily
    event type collapsed into validity intervals [valid_from, valid_to)
    — a new row only when the dominant type CHANGES, open-ended
    (valid_to NULL) for the current segment. The dimension-history shape
    every warehouse maintains, derived here from raw facts in one pass
    (in production the same plan runs incrementally per day appended).

    Dominance is deterministic: count desc, then event_type asc as the
    tiebreak, so both engines elect identical winners; interval edges
    are day timestamps (no FP anywhere).

    Scale: one (user, day, type) count aggregation over raw events; the
    dominance rank runs on (user, day) and the change/interval windows
    on (user) — three exchanges total, each over the COLLAPSED daily
    frame on progressively coarser prefixes of the same key, never over
    raw events. Incremental runs re-derive only appended days."""
    return _scd2_segments_from(_scd2_daily_dominant(spark, sf_dir))


@query(
    "q_events_sliding_distinct_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
                FROM events),
    mx AS (SELECT max(day) AS mxd FROM ud),
    sp AS (SELECT user_id,
                  unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS day
           FROM ud)
    SELECT sp.day, CAST(count(DISTINCT sp.user_id) AS BIGINT) AS active_users
    FROM sp, mx WHERE sp.day <= mx.mxd
    GROUP BY sp.day
    """,
)
def q_events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding-window
    COUNT DISTINCT that window frames cannot express (DISTINCT inside a
    moving frame), rewritten as: collapse to distinct (user, day) pairs,
    fan each pair out to the ≤7 window-end days it supports, count
    distinct users per end day. The daily-active/weekly-active metric
    family, exactly.

    Scale: the fanout runs on the COLLAPSED user-day frame (|users| ×
    |days| worst case, ~4k rows here), never on raw events, and the
    factor is the window length — 7 — not data size; the final distinct
    count is one partial+final aggregation on (day, user). The max-day
    cap is a 1-row broadcast scalar (same device as the corpus totals in
    text.py). All integers and timestamps — nothing to round."""
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    # r16 (guide §2.4): the max-day scalar was a SECOND evaluation of ud
    # (another events scan + distinct exchange) broadcast back on. The
    # fanout now tags origin rows (posexplode position 0 = the real
    # event day), the max real day rides the grouped ≤|days|+6 spine as
    # a whole-frame window (post-agg-tiny-frame exemption), and the
    # spine filter moves AFTER the aggregate — group keys past the cap
    # are dropped with their values untouched. One scan, no crossJoin.
    sp = ud.select(
        "user_id",
        F.posexplode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("i", "day"),
    )
    g = sp.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_users"),
        F.max(F.when(F.col("i") == 0, F.lit(1))).alias("__o"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        g.withColumn(
            "mxd",
            F.max(F.when(F.col("__o").isNotNull(), F.col("day"))).over(wall),
        )
        .filter(F.col("day") <= F.col("mxd"))
        .select("day", "active_users")
    )


@query(
    "q_events_top_paths",
    oracle="""
    WITH s AS (SELECT user_id, event_type,
                      lead(event_type, 1) OVER w AS t2,
                      lead(event_type, 2) OVER w AS t3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p AS (SELECT event_type || '>' || t2 || '>' || t3 AS path,
                 CAST(count(*) AS BIGINT) AS n
          FROM s WHERE t3 IS NOT NULL GROUP BY 1),
    r AS (SELECT *, row_number() OVER (ORDER BY n DESC, path) AS rank
          FROM p)
    SELECT CAST(rank AS BIGINT) AS rank, path, n FROM r WHERE rank <= 10
    """,
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the 10 most frequent 3-step event paths across
    all users (consecutive event-type triples under per-user time order)
    — the navigation-path / clickstream-motif query behind funnel
    design, generalizing the first-order transition matrix
    (`q_events_transitions`) to length-3 patterns.

    Triple extraction is two lead() reads inside ONE window sort per
    user (deterministic (ts, event_id) order — ties can't reorder the
    path); the global top-10 ranks the tiny path-count frame (≤ |types|³
    rows — 125 here — regardless of data size), with (count desc, path
    asc) as the total tiebreak both engines share.

    Scale: one window shuffle on user_id over raw events, one count
    aggregation, then a single-partition rank over ≤125 rows — the
    global sort the rank implies never sees event-scale data."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = _t(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    p = (
        s.filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    r = p.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("n").desc(), "path")),
    )
    return r.filter(F.col("rank") <= 10).select(
        F.col("rank").cast("long").alias("rank"), "path", "n"
    )


@query(
    "q_weighted_median_price",
    oracle="""
    WITH li AS (SELECT l_returnflag,
                       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                         AS price_c,
                       CAST(l_quantity AS BIGINT) AS w,
                       l_orderkey, l_linenumber
                FROM lineitem),
    c AS (SELECT *,
                 CAST(sum(w) OVER (PARTITION BY l_returnflag
                                   ORDER BY price_c, l_orderkey, l_linenumber
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
                 CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                   AS tot
          FROM li)
    SELECT l_returnflag, min(price_c) / 100.0 AS weighted_median_price,
           CAST(min(tot) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= tot GROUP BY l_returnflag
    """,
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median: the quantity-weighted median line price per
    return flag — the smallest price at which cumulative shipped
    quantity reaches half the total ("half the units sold at or below
    this price"), which the unweighted percentile family
    (`q_value_percentiles`) cannot express.

    Pure integer selection: prices snap to cents, quantities are exact
    integers, and the defining inequality is 2·cum ≥ total — no
    division, no interpolation, bit-exact across engines. The
    cumulative order is totally keyed (price, orderkey, linenumber) so
    every engine accumulates identically.

    Scale: one hash exchange per flag for the cumulative window, then a
    partial+final min-aggregate; the candidate filter 2·cum ≥ tot keeps
    selection inside the window pass (no second scan). Weighted
    quantiles at other q just change the inequality constant."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        rounding.units(F.col("l_extendedprice"), 2).cast("long").alias("price_c"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = li.withColumn("cum", F.sum("w").over(wcum)).withColumn(
        "tot", F.sum("w").over(wall)
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            (F.min("price_c") / 100.0).alias("weighted_median_price"),
            F.min("tot").alias("total_weight"),
        )
    )


@query(
    "q_orders_equidepth_histogram",
    oracle="""
    WITH o AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS price_c, o_orderkey
               FROM orders),
    b AS (SELECT price_c, ntile(10) OVER (ORDER BY price_c, o_orderkey)
                   AS bucket
          FROM o)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
           min(price_c) / 100.0 AS lo, max(price_c) / 100.0 AS hi
    FROM b GROUP BY bucket
    """,
)
def q_orders_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 quantile buckets of order totalprice,
    each with its row count and value range) — the optimizer-statistics
    histogram flavor that adapts bucket edges to the data where the
    equi-width entry (`q_orders_price_histogram`) fixes them; bucket
    boundaries ARE the deciles.

    ntile over a totally keyed order (integer cents, orderkey tiebreak)
    assigns identical buckets in both engines — bucket populations
    differ by at most one row by ntile's definition, deterministically
    placed by the total order.

    Scale: ntile needs the global sort — same aggregated-sweep ceiling
    as the Pareto/skyline entries (~1e7 rows comfortably; beyond that,
    two-phase: sample decile boundaries via the bottom-k sketch, then
    one partitioned bucketing pass — the entry pins the exact
    semantics the two-phase rewrite must reproduce)."""
    o = _t(spark, sf_dir, "orders").select(
        rounding.units(F.col("o_totalprice"), 2).cast("long").alias("price_c"),
        "o_orderkey",
    )
    b = o.select(
        "price_c",
        F.ntile(10).over(Window.orderBy("price_c", "o_orderkey")).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        (F.min("price_c") / 100.0).alias("lo"),
        (F.max("price_c") / 100.0).alias("hi"),
    ).select(F.col("bucket").cast("long").alias("bucket"), "n", "lo", "hi")


@query(
    "q_basket_brand_lift",
    oracle="""
    WITH lb AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lb),
    pa AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS na
           FROM lb GROUP BY 1),
    pr AS (SELECT a.p_brand AS brand1, b.p_brand AS brand2,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM lb a JOIN lb b ON a.l_orderkey = b.l_orderkey
                              AND a.p_brand < b.p_brand
           GROUP BY 1, 2)
    SELECT pr.brand1, pr.brand2, pr.n_both, x.na AS n1, y.na AS n2,
           floor(CAST(pr.n_both * n.n_orders AS DOUBLE) / (x.na * y.na)
                 * 10000 + 0.5) / 10000 AS lift
    FROM pr JOIN pa x ON pr.brand1 = x.p_brand
            JOIN pa y ON pr.brand2 = y.p_brand
            CROSS JOIN n
    WHERE pr.n_both >= 10
    """,
)
def q_basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: lift of every part-brand pair
    co-occurring in ≥10 orders — lift = P(A∧B)/(P(A)·P(B)) > 1 means
    the brands are ordered together more than independence predicts;
    the association-rule primitive behind recommendations and
    assortment analysis.

    Lift's numerator and denominator are exact integer products
    (n_both·N and n1·n2, both < 2⁵³ at any realistic SF) with ONE IEEE
    division, snapped to 1e-4 — no FP probability chains. Pair
    generation self-joins the DISTINCT (order, brand) frame on the
    order key: ≤ C(brands-per-order, 2) pairs per order, bounded by
    basket width, never by catalog size.

    Scale: brand collapse first (the distinct shuffle), then pairs come
    from an ARRAY comprehension over each order's sorted basket — pure
    JVM lambdas, no self-join of the order frame, fanout bounded by
    C(basket width, 2); brand marginals and the order total are
    separate narrow aggregations broadcast onto ≤ C(|brands|, 2)
    candidate pairs. A million-SKU catalog swaps the brand collapse for
    frequent-item pre-pruning (support counts before pairing) — same
    pipeline shape."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r15 (guide §2.3): the basket aggregation is the entry's spine —
    # collect_set dedups (order, brand) in the partial aggregate, so the
    # separate DISTINCT exchange is gone (map-side dedup, fewer shuffled
    # rows); the brand marginals explode the stored basket arrays and the
    # order total is a count of basket rows (≡ the oracle's
    # count(DISTINCT l_orderkey) FROM lb — even more literally than the
    # old separate lineitem countDistinct scan).
    # r16 (guide §2.4/§5 + §2.6, verdict item 4): the basket frame fed
    # FOUR consumers (the order total n, the two broadcast marginal
    # builds x and y, and the pair-explosion probe side) and runtime
    # exchange reuse cannot fold them — the r15 plan re-ran the
    # lineitem⋈part scan 16 times. Two r16 attempts MEASURED SLOWER on
    # clean samples and were rejected: an eager basket checkpoint
    # (1.07 → 1.70 s) and a fully-fused single explode+groupBy grid
    # (1.07 → 2.6 s) — both serialize what the old plan ran as
    # CONCURRENT branches on idle cores (§2.6: wall time at this SF is
    # max(branch), not sum; an eager checkpoint turns max into sum).
    # Final shape keeps the branch overlap and halves the work: the
    # pair branch stays lazy (unchanged), while marginals AND the order
    # total fold into ONE posexplode branch (origin flag i=0 counts
    # each basket once) whose ~|brands|-row output is LAZILY
    # localCheckpointed — materialized once inside the single job
    # (overlapping the pair branch, never serializing it) and read by
    # x, y and n. 4 basket evaluations → 2; scans 16 → 4. The tiny
    # output makes the ≥4-reuse break-even moot (materialization is
    # ~25 rows); lazy + RDD-level storage (the state.py checkpoint rule).
    baskets = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    pa = (
        baskets.select(F.posexplode("bs").alias("i", "p_brand"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("na"),
            F.sum(F.when(F.col("i") == 0, 1).otherwise(0)).alias("no"),
        )
        .localCheckpoint(eager=False)
    )
    n = pa.agg(F.sum("no").alias("n_orders"))
    pr = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "y -> struct(x AS brand1, y AS brand2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.brand1").alias("brand1"), F.col("p.brand2").alias("brand2"))
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 10)
    )
    x = pa.select(F.col("p_brand").alias("brand1"), F.col("na").alias("n1"))
    y = pa.select(F.col("p_brand").alias("brand2"), F.col("na").alias("n2"))
    lift = rounding.snap(
        (F.col("n_both") * F.col("n_orders")).cast("double") / (F.col("n1") * F.col("n2")), 4
    )
    return (
        pr.join(F.broadcast(x), "brand1")
        .join(F.broadcast(y), "brand2")
        .crossJoin(F.broadcast(n))
        .select("brand1", "brand2", "n_both", "n1", "n2", lift.alias("lift"))
    )


@query(
    "docs_bigram_logprob",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    pairs AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
              FROM t, unnest(range(1, greatest(len(w), 1))) r(i)
              WHERE len(w) >= 2),
    bg AS (SELECT w1, w2, count(*) AS bc FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(bc) AS BIGINT) AS cc FROM bg GROUP BY 1),
    tok AS (SELECT unnest(w) AS t FROM t),
    uni AS (SELECT t, count(*) AS uc FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS tot FROM uni)
    SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(avg(ln(0.5 * CAST(bg.bc AS DOUBLE) / ctx.cc
                        + 0.5 * CAST(uni.uc AS DOUBLE) / tot.tot))
                 * 10000 + 0.5) / 10000 AS mean_logprob
    FROM pairs p
    JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
    JOIN ctx ON p.w1 = ctx.w1
    JOIN uni ON p.w2 = uni.t
    CROSS JOIN tot
    GROUP BY p.doc_id
    """,
)
def docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score per document (mean
    ln(½·P(w₂|w₁) + ½·P(w₂)), corpus-estimated) — the conditional
    upgrade of `docs_unigram_logprob`: locally-incoherent text exposes
    itself through improbable transitions that unigram frequency hides.
    See operators/text.py:bigram_logprob for the scale shape (JVM
    array-zip pair extraction, vocab-sized joins)."""
    return text.bigram_logprob(_t(spark, sf_dir, "documents"))


# Theil–Sen pair-explosion guard: above this many hours per type, the
# estimator runs on the md5-rank-smallest _THEIL_SEN_MAX_HOURS hours
# (deterministic, oracle-replayable point sampling — pairs stay bounded at
# S(S-1)/2 ≈ 2.1M per type regardless of time span). 720 hours/type at
# every tested SF, so the exact all-pairs path is what the driver checks;
# the sampled path is pinned by tests/test_theil_sen_guard.py with a
# mirrored small-S oracle.
_THEIL_SEN_MAX_HOURS = 2048


def _theil_sen_sql(max_hours: int) -> str:
    """Oracle builder for q_events_theil_sen: all-pairs median slope over
    the md5-rank-smallest ``max_hours`` hourly points per type (a no-op
    at every tested SF — see _THEIL_SEN_MAX_HOURS)."""
    return f"""
    WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2),
    hi AS (SELECT event_type, cnt,
                  epoch_us(hour) // 3600000000 AS h
           FROM hc
           QUALIFY row_number() OVER (PARTITION BY event_type
               ORDER BY md5(event_type || ':' || h::VARCHAR), h) <= {max_hours}),
    pr AS (SELECT a.event_type,
                  CAST(b.cnt - a.cnt AS DOUBLE) / (b.h - a.h) AS slope,
                  a.h AS h1, b.h AS h2
           FROM hi a JOIN hi b
             ON a.event_type = b.event_type AND a.h < b.h),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY slope, h1, h2) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM pr)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           floor(slope * 1000000 + 0.5) / 1000000 AS sen_slope
    FROM r WHERE rn = (n + 1) // 2
    """


@query(
    "q_events_theil_sen",
    oracle=_theil_sen_sql(_THEIL_SEN_MAX_HOURS),
)
def q_events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes of
    hourly event counts per type — the estimator that shrugs off up to
    ~29 % outlier hours where the OLS entry (`q_events_trend`) lets a
    single spike tilt the line. The robust-statistics family's
    regression member, next to MAD (dispersion) and the median sketches.

    Every pairwise slope is ONE IEEE division of two exact integers
    (count delta / hour delta) — identical in every engine — and the
    median is the low order statistic under the total (slope, h1, h2)
    order, so selection is deterministic even among equal slopes. Only
    the selected value is grid-snapped.

    Scale: the pair self-join is O(H²) per type on the AGGREGATED
    hourly frame (~720 hours/month → ~260k pairs — never raw events).
    Past _THEIL_SEN_MAX_HOURS points per type (a multi-year span, never
    reached at tested SFs), the estimator runs on the md5-rank-smallest
    S hours — a deterministic uniform point sample that HARD-caps pairs
    at S(S-1)/2 ≈ 2.1M per type regardless of span, with the identical
    selection semantics on the sample (the textbook sampled Theil–Sen;
    the oracle replays the same QUALIFY rank rule). Pinned with a
    mirrored small-S oracle by tests/test_theil_sen_guard.py. Since
    r15 the sample and the pair set are built IN-ROW from one per-type
    point array (≤ S structs — bounded by the same cap), so the guard
    costs one groupBy instead of two rank-window exchanges per join
    side, and the pair build needs no join at all; the hard cap is
    worth the fixed cost (a modulo-thinning variant would be
    overhead-free but only bounds the EXPECTED sample size)."""
    hc = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("cnt"))
    )
    hi = hc.select(
        "event_type",
        "cnt",
        # integer floor division — the division is exact on truncated
        # hours anyway (round ≡ truncate), but DIV // keeps the entry
        # out of the float-div-then-CAST hazard class by construction
        F.expr(
            "unix_micros(CAST(hour AS TIMESTAMP)) DIV 3600000000"
        ).alias("h"),
    )
    # r15 restructure (guide §2.4): the rank-window sample + self-join
    # pair build evaluated the whole events-agg subtree TWICE (the
    # broadcast build side cannot reuse the stream side's exchange) and
    # spent 4 exchanges on ≤|types|·S rows. The md5-rank sample is now
    # IN-ROW on one per-type point array (array_sort by (mk, h) + slice
    # — the same order the QUALIFY window ranked by, so the sample SET
    # is identical), re-sorted by h so ascending array pairs satisfy
    # a.h < b.h exactly as the join condition did; pairs come from the
    # chunked posting-list emission (the edit-distance/simhash device:
    # anchor-exploded, O(S) per row). One events scan, no join; the
    # median windows reuse the groupBy's hash(event_type) partitioning.
    # Module constant read at call time so the guard test can shrink it.
    pts = (
        hi.groupBy("event_type")
        .agg(
            F.collect_list(
                F.struct(
                    F.md5(F.concat_ws(":", F.col("event_type"), F.col("h"))).alias("mk"),
                    F.col("h").alias("h"),
                    F.col("cnt").alias("cnt"),
                )
            ).alias("raw")
        )
        .select(
            "event_type",
            F.expr(
                f"array_sort(transform(slice(array_sort(raw), 1, {_THEIL_SEN_MAX_HOURS}),"
                " p -> struct(p.h AS h, p.cnt AS cnt)))"
            ).alias("pts"),
        )
    )
    # the per-type point rows are TINY (|types| rows) so AQE coalesces the
    # groupBy exchange to ONE partition — which would serialize the whole
    # O(S²)-pair emission and the median sort on a single core. The
    # explicit-count repartition (AQE leaves user-numbered shuffles alone)
    # spreads the type rows so downstream work runs per-type parallel and
    # the median window reuses hash(event_type) with no further exchange;
    # it moves |types| array rows, not pairs. n_pairs = S(S-1)/2 rides the
    # rows (per-type constant carry), replacing the unbounded count window
    # that re-buffered every pair row per type.
    par = spark.sparkContext.defaultParallelism
    pts = pts.repartition(max(par, 2), "event_type")
    pr = (
        pts.filter(F.expr("size(pts) >= 2"))
        .select(
            "event_type",
            "pts",
            F.expr(
                f"CAST(size(pts) AS BIGINT) * (size(pts) - 1) DIV 2"
            ).alias("n_pairs"),
            F.explode(F.expr("sequence(0, size(pts) - 2)")).alias("i"),
        )
        .select(
            "event_type",
            "n_pairs",
            F.expr("pts[i]").alias("a"),
            F.explode(F.expr("slice(pts, i + 2, size(pts) - i - 1)")).alias("b"),
        )
        .select(
            "event_type",
            "n_pairs",
            (
                (F.col("b.cnt") - F.col("a.cnt")).cast("double")
                / (F.col("b.h") - F.col("a.h"))
            ).alias("slope"),
            F.col("a.h").alias("h1"),
            F.col("b.h").alias("h2"),
        )
    )
    r = pr.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("slope", "h1", "h2")
        ),
    )
    return r.filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2")).select(
        "event_type",
        "n_pairs",
        rounding.snap(F.col("slope"), 6).alias("sen_slope"),
    )


@query(
    "q_events_ab_significance",
    oracle="""
    WITH u AS (SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
                      CASE WHEN count(*) FILTER (event_type = 'purchase')
                                >= 13 THEN 1 ELSE 0 END AS conv
               FROM events GROUP BY user_id),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(conv) AS BIGINT) AS x
          FROM u GROUP BY grp),
    w AS (SELECT max(CASE WHEN grp = 0 THEN n END) AS n1,
                 max(CASE WHEN grp = 0 THEN x END) AS x1,
                 max(CASE WHEN grp = 1 THEN n END) AS n2,
                 max(CASE WHEN grp = 1 THEN x END) AS x2
          FROM g)
    SELECT n1, x1, n2, x2,
           625::HUGEINT * (x1::HUGEINT * n2 - x2::HUGEINT * n1)
             * (x1::HUGEINT * n2 - x2::HUGEINT * n1) * (n1 + n2)
             > 2401::HUGEINT * n1 * n2 * (x1 + x2) * (n1 + n2 - x1 - x2)
             AS significant
    FROM w
    """,
)
def q_events_ab_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance, EXACTLY: does heavy-purchaser
    conversion (≥13 purchase events) differ between the even/odd user
    cohorts at α = 0.05? The pooled two-proportion z-test
    z² = (p₁−p₂)²/(p̂q̂(1/n₁+1/n₂)) cross-multiplies into
    625·(x₁n₂−x₂n₁)²·N > 2401·n₁n₂·x·(N−x), using z²_crit = 1.96² =
    2401/625 as an exact rational — the whole test is INTEGER
    arithmetic: no sqrt, no division, no FP tie anywhere (the same
    multiply-out device as the 3σ anomaly entry).

    Scale: one per-user count aggregation (map-side combined), then a
    2-row group frame pivoted to one row. Round 7: the products run in
    DECIMAL(38,0)/HUGEINT — 625·(x₁n₂−x₂n₁)²·N grows as N⁵ and wraps
    int64 at only ~3000 users per arm (i.e. at sf1 of THIS corpus);
    decimal is exact to ~2·10⁷ per arm. Past that, pre-scale the counts
    (divide both cohorts by a common factor) — at 10⁷+ users any
    detectable difference is significant and the inequality is decided
    in the leading digits the rescale preserves."""
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "np"
            )
        )
        .select(
            (F.col("user_id") % 2).alias("grp"),
            F.when(F.col("np") >= 13, 1).otherwise(0).alias("conv"),
        )
    )
    g = u.groupBy("grp").agg(F.count("*").alias("n"), F.sum("conv").alias("x"))
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("x2"),
    )
    d = F.col("x1").cast("decimal(38,0)") * F.col("n2") - F.col("x2").cast(
        "decimal(38,0)"
    ) * F.col("n1")
    N = F.col("n1") + F.col("n2")
    x = F.col("x1") + F.col("x2")
    return w.select(
        "n1",
        "x1",
        "n2",
        "x2",
        (
            F.lit(625).cast("decimal(38,0)") * d * d * N
            > F.lit(2401).cast("decimal(38,0)")
            * F.col("n1")
            * F.col("n2")
            * x
            * (N - x)
        ).alias("significant"),
    )


@query(
    "q_events_cep_pattern",
    oracle="""
    WITH w AS (SELECT user_id, event_id, event_type, ts,
                 min(CASE WHEN event_type = 'purchase' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS np,
                 min(CASE WHEN event_type = 'error' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS ne
               FROM events)
    SELECT user_id, event_id AS view_id, ts AS view_ts, np AS purchase_ts
    FROM w
    WHERE event_type = 'view' AND np IS NOT NULL
      AND np <= ts + INTERVAL 30 MINUTE
      AND (ne IS NULL OR ne > np)
    """,
)
def q_events_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (MATCH_RECOGNIZE-style,
    which Spark SQL lacks as a primitive): every `view` followed by a
    `purchase` within 30 minutes with NO `error` in between — the
    A→B-within-T-without-C motif of fraud/funnel CEP engines, expressed
    with two conditional forward-looking window minimums: next-purchase
    and next-error times per event; the pattern holds iff the purchase
    arrives in window and precedes the next error.

    Both 'next occurrence of type X' columns come from ONE window sort
    per user (conditional min over the following frame) — no self-join
    per pattern element, which is how the naive SQL encoding explodes.
    All comparisons are on integer-µs timestamps: nothing to round.

    Scale: one window exchange on user_id; pattern width adds
    conditional-min columns, not joins or passes. Running frames would
    make the following-frame min O(n²) per partition in Spark's
    unbounded-following implementation — it buffers the partition and
    scans once reversed, staying O(n)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    np_ = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    ne = F.min(F.when(F.col("event_type") == "error", F.col("ts"))).over(w)
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        np_.alias("np"),
        ne.alias("ne"),
    )
    return e.filter(
        (F.col("event_type") == "view")
        & F.col("np").isNotNull()
        & (F.col("np") <= F.col("ts") + F.expr("INTERVAL 30 MINUTE"))
        & (F.col("ne").isNull() | (F.col("ne") > F.col("np")))
    ).select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("np").alias("purchase_ts"),
    )


@query(
    "q_dq_audit",
    oracle="""
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_lineitems,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_extendedprice <= 0 OR l_quantity <= 0
           OR l_discount < 0 OR l_discount > 1)
        AS lineitem_range_violations,
      (SELECT CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
         FROM events) AS duplicate_event_ids,
      (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE user_id IS NULL OR ts IS NULL) AS events_null_keys,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
        AS orphan_orders,
      (SELECT CAST(count(*) AS BIGINT) FROM documents
        WHERE n_chars <> length(text)) AS doc_length_mismatches
    """,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: one row of integrity counters across the
    corpus — referential integrity (orphan lineitems/orders via
    left-anti joins), range rules (non-positive prices/quantities,
    discounts outside [0,1]), key uniqueness (duplicate event ids),
    null keys, and a derived-column consistency check (n_chars vs
    actual text length). The dbt-test / Deequ-style constraint-audit
    shape every warehouse runs before publishing a corpus; zeros are
    the contract, and the entry makes them hash-checked facts instead
    of assumptions.

    Scale: each rule is one scan-shaped aggregate (anti joins broadcast
    the key side or shuffle on uniform keys); all counters are exact
    integers and the six single-row branches cross-join into one
    summary row — at 100 TB the rules run as partial+final counts, no
    rule materializes row-level output."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")
    cust = _t(spark, sf_dir, "customer")
    orphan_li = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("orphan_lineitems"))
    )
    ranges = li.agg(
        F.sum(
            F.when(
                (F.col("l_extendedprice") <= 0)
                | (F.col("l_quantity") <= 0)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1),
                1,
            ).otherwise(0)
        ).alias("lineitem_range_violations")
    )
    # r16 (guide §2.4): the duplicate-id and null-key rules were two
    # separate aggregates over the same events frame — two scans for
    # what one partial+final aggregate computes in one pass.
    dup_nulls = ev.agg(
        (F.count("*") - F.countDistinct("event_id")).alias("duplicate_event_ids"),
        F.sum(
            F.when(F.col("user_id").isNull() | F.col("ts").isNull(), 1).otherwise(0)
        ).alias("events_null_keys"),
    )
    orphan_o = (
        o.select("o_custkey")
        .join(cust.select("c_custkey"), o.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_orders"))
    )
    lens = docs.agg(
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("doc_length_mismatches")
    )
    out = orphan_li
    for d in [ranges, dup_nulls, orphan_o, lens]:
        out = out.crossJoin(F.broadcast(d))
    return out


@query(
    "q_orders_interval_merge",
    oracle="""
    WITH oi AS (SELECT o_custkey, o_orderkey,
                       date_trunc('day', min(o_orderdate)) AS s,
                       date_trunc('day', max(l_shipdate)) AS e
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY o_custkey, o_orderkey),
    m AS (SELECT *, max(e) OVER (PARTITION BY o_custkey
                                 ORDER BY s, e, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_max
          FROM oi),
    isl AS (SELECT *, CAST(sum(CASE WHEN prev_max IS NULL OR s > prev_max
                                    THEN 1 ELSE 0 END)
                 OVER (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
           FROM m),
    g AS (SELECT o_custkey, island, min(s) AS is_, max(e) AS ie,
                 count(*) AS n
          FROM isl GROUP BY o_custkey, island)
    SELECT o_custkey AS custkey,
           CAST(sum(n) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_merged,
           CAST(sum(date_diff('day', is_, ie) + 1) AS BIGINT)
             AS covered_days
    FROM g GROUP BY o_custkey
    """,
)
def q_orders_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION per key (merge-overlapping-intervals): each
    customer's order intervals [order date, last ship date] collapsed
    into disjoint covered spans — how many separate fulfillment
    episodes the customer had and how many distinct days they had
    something in flight. The per-key interval-algebra complement of the
    global sweep entry (`q_orders_open_interval_sweep`): union instead
    of concurrency.

    Gaps-and-islands in its interval form: an interval starts a new
    island iff its start exceeds the running MAX of all previous ends
    (not lag(end) — an earlier long interval can swallow several later
    ones); the island id is a running sum of those starts. Dates are
    exact day integers — no FP anywhere.

    Scale: one orders⋈lineitem shuffle to per-order intervals, then
    every window shares ONE per-customer exchange (same partition key,
    progressively applied), and the merge is two ordinary aggregations.
    Per-customer history is small; a hot key with millions of intervals
    would salt the extraction and merge islands hierarchically."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    oi = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.date_trunc("day", F.min("o_orderdate")).alias("s"),
            F.date_trunc("day", F.max("l_shipdate")).alias("e"),
        )
    )
    word = Window.partitionBy("o_custkey").orderBy("s", "e", "o_orderkey")
    m = oi.withColumn(
        "prev_max",
        F.max("e").over(word.rowsBetween(Window.unboundedPreceding, -1)),
    )
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
            ).otherwise(0)
        ).over(word.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = isl.groupBy("o_custkey", "island").agg(
        F.min("s").alias("is_"), F.max("e").alias("ie"), F.count("*").alias("n")
    )
    return g.groupBy("o_custkey").agg(
        F.sum("n").alias("n_intervals"),
        F.count("*").alias("n_merged"),
        F.sum(F.datediff(F.col("ie"), F.col("is_")) + 1).alias("covered_days"),
    ).select(
        F.col("o_custkey").alias("custkey"),
        "n_intervals",
        "n_merged",
        "covered_days",
    )


@query(
    "q_events_autocorr24",
    oracle="""
    WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, cnt AS x,
                 lead(cnt, 24) OVER (PARTITION BY event_type
                                     ORDER BY hour) AS y
          FROM hc),
    a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(x::HUGEINT * x) AS sxx,
                 sum(y::HUGEINT * y) AS syy,
                 sum(x::HUGEINT * y) AS sxy
          FROM l WHERE y IS NOT NULL GROUP BY 1)
    SELECT event_type, n AS n_pairs,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 * 1000000 + 0.5) / 1000000 AS r24
    FROM a
    """,
)
def q_events_autocorr24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality detection: lag-24 autocorrelation of the hourly
    event series per type (Pearson r of (count_t, count_{t+24}) pairs) —
    r24 near 1 means a strong repeating daily profile, near 0 means the
    volume has no 24-hour rhythm; the standard first diagnostic before
    fitting any seasonal model.

    All five moments (Σx, Σy, Σx², Σy², Σxy) are EXACT integer sums
    (counts are integers, the shuffle merges partials exactly); the
    final r is one IEEE expression — a division and a sqrt, both
    correctly-rounded operations, hence bit-identical cross-engine —
    snapped to the 1e-6 grid. The same integer-moment device as the OLS
    trend entry, extended to a second series.

    Scale: one count aggregation, one lag window per type over the
    hourly frame (~720 rows/month), one partial+final moment
    aggregation — raw events are scanned once."""
    hc = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    l = hc.select(
        "event_type",
        F.col("cnt").alias("x"),
        F.lead("cnt", 24).over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    # DECIMAL(38,0)/HUGEINT moments (Σcnt² passes int64 past ~1e10-1e11
    # events/type); both engines cast the same exact integers to double
    # for the one r expression, so parity is unchanged
    xq = F.col("x").cast("decimal(38,0)")
    yq = F.col("y").cast("decimal(38,0)")
    a = l.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(xq).alias("sx"),
        F.sum(yq).alias("sy"),
        F.sum(xq * F.col("x")).alias("sxx"),
        F.sum(yq * F.col("y")).alias("syy"),
        F.sum(xq * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return a.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        rounding.snap(num / den, 6).alias("r24"),
    )


@query(
    "q_user_entropy",
    oracle="""
    WITH tc AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
    a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                 sum(c * ln(CAST(c AS DOUBLE))) AS sclnc
          FROM tc GROUP BY 1)
    SELECT user_id, n AS n_events,
           floor((ln(CAST(n AS DOUBLE)) - sclnc / n) * 10000 + 0.5) / 10000
             AS entropy_nats
    FROM a
    """,
)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    distribution (nats) — 0 for single-behavior users, ln(5) ≈ 1.609
    for perfectly mixed ones; the information-theoretic segmentation
    feature (bot detection: scripted accounts cluster at the extremes).

    Computed as ln(n) − Σc·ln(c)/n from INTEGER counts, so every ln
    argument is an exact integer and each term is engine-identical;
    only the per-user sum of ≤|types| such terms is order-sensitive,
    absorbed by the 1e-4 snap (the same tolerance device as the LM
    logprob entries).

    Scale: two chained aggregations — (user, type) counts then per-user
    moments — both map-side combined; no window, no join, one scan."""
    tc = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    a = tc.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("sclnc"),
    )
    ent = F.log(F.col("n").cast("double")) - F.col("sclnc") / F.col("n")
    return a.select(
        "user_id",
        F.col("n").alias("n_events"),
        rounding.snap(ent, 4).alias("entropy_nats"),
    )


@query(
    "q_customer_gini",
    oracle="""
    WITH cr AS (SELECT o_custkey,
                       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS r
                FROM orders GROUP BY 1),
    rk AS (SELECT r, CAST(row_number() OVER (ORDER BY r, o_custkey)
                          AS BIGINT) AS i
           FROM cr),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(r::HUGEINT) AS sr,
                 sum(i::HUGEINT * r) AS sir
          FROM rk)
    SELECT n AS n_customers,
           floor((2.0 * sir - (n + 1.0) * sr) / (CAST(n AS DOUBLE) * sr)
                 * 1000000 + 0.5) / 1000000 AS gini
    FROM a
    """,
)
def q_customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as a Gini coefficient: 0 = every customer
    spends equally, →1 = one customer is the business — the inequality
    summary behind the Pareto-cut entry (`q_customer_pareto` answers
    "who is the top 80 %?", this answers "HOW concentrated is it?" in
    one number comparable across periods and corpora).

    The rank formula G = (2Σi·rᵢ − (n+1)Σrᵢ)/(nΣrᵢ) runs on integer
    cents and integer ranks (total (r, custkey) order — ties get
    deterministic distinct ranks, which the formula's mean-of-ranks
    behavior tolerates identically in both engines), so both Σ terms
    are exact; ONE IEEE expression at the end, snapped to 1e-6.

    Scale: per-customer totals aggregate first; the rank is the one
    global-order window, over the aggregated frame (the same ~1e7-row
    sweep ceiling as Pareto/skyline — beyond that, a two-phase
    histogram Gini from the equi-depth entry's buckets approximates to
    any precision)."""
    cr = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(rounding.units(F.col("o_totalprice"), 2).cast("long")).alias("r")
        )
    )
    rk = cr.select(
        "r",
        F.row_number().over(Window.orderBy("r", "o_custkey")).cast("long").alias("i"),
    )
    # DECIMAL(38,0)/HUGEINT sums: Σi·rᵢ has an i ≤ n rank factor, so it
    # crosses int64 around ~1e7 customers; the gini expression consumes
    # the exact sums as identically-rounded doubles on both engines
    a = rk.agg(
        F.count("*").alias("n"),
        F.sum(F.col("r").cast("decimal(38,0)")).alias("sr"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("r")).alias("sir"),
    )
    nd = F.col("n").cast("double")
    gini = (2.0 * F.col("sir") - (F.col("n") + F.lit(1.0)) * F.col("sr")) / (
        nd * F.col("sr")
    )
    return a.select(
        F.col("n").alias("n_customers"),
        rounding.snap(gini, 6).alias("gini"),
    )


@query(
    "q_customer_rfm",
    oracle="""
    WITH cr AS (SELECT o_custkey,
                       max(o_orderdate) AS last_order,
                       CAST(count(*) AS BIGINT) AS freq,
                       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS money_c
                FROM orders GROUP BY 1),
    q AS (SELECT o_custkey,
                 ntile(5) OVER (ORDER BY last_order, o_custkey) AS r,
                 ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
                 ntile(5) OVER (ORDER BY money_c, o_custkey) AS m
          FROM cr)
    SELECT o_custkey AS custkey, CAST(r AS BIGINT) AS r,
           CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
           r::VARCHAR || f::VARCHAR || m::VARCHAR AS rfm
    FROM q
    """,
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-5 on Recency (last
    order date), Frequency (order count), and Monetary (lifetime spend),
    concatenated into the classic ' 555 ' style segment code — the
    marketing-analytics workhorse (5 = most recent / most frequent /
    highest spend under ascending ntile).

    Each dimension is a keyed ntile over the aggregated per-customer
    frame with the customer key as tiebreak — identical bucket
    assignment in both engines (the equi-depth entry's device, applied
    three ways); spend is integer cents, dates are exact.

    Scale: one per-customer aggregation, then three ntile windows over
    the SAME single-partition aggregated frame (one exchange, three
    sorts of |customers| rows — the familiar global-order ceiling;
    two-phase boundary sampling lifts it like the equi-depth entry)."""
    cr = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("freq"),
            F.sum(rounding.units(F.col("o_totalprice"), 2).cast("long")).alias(
                "money_c"
            ),
        )
    )
    r = F.ntile(5).over(Window.orderBy("last_order", "o_custkey"))
    f = F.ntile(5).over(Window.orderBy("freq", "o_custkey"))
    m = F.ntile(5).over(Window.orderBy("money_c", "o_custkey"))
    q = cr.select(
        F.col("o_custkey").alias("custkey"),
        r.cast("long").alias("r"),
        f.cast("long").alias("f"),
        m.cast("long").alias("m"),
    )
    return q.withColumn(
        "rfm",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


@query(
    "q_nation_share_of_region",
    oracle="""
    WITH nr AS (SELECT r.r_name AS region, n.n_name AS nation,
                       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS rev_c
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
                GROUP BY 1, 2)
    SELECT region, nation, rev_c / 100.0 AS revenue,
           CAST((rev_c * 10000) // CAST(sum(rev_c) OVER (PARTITION BY region)
                                        AS BIGINT) AS BIGINT) AS share_bp
    FROM nr
    """,
)
def q_nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent: each nation's revenue as basis points of its
    REGION's total — the hierarchical percent-of-parent measure every
    OLAP drill-down report carries next to the raw number (and the
    windowed-ratio shape: aggregate once, normalize inside the parent
    partition, no second pass).

    Shares are integer basis points via integer division of exact cent
    sums — no FP ratio; the window total is the only cross-row
    operation and runs over the tiny (region, nation) frame.

    Scale: dims broadcast onto the orders fact (one fact shuffle for
    the aggregate); the share window shuffles |nations| rows. The same
    plan shape as q5 with a windowed normalization appended."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nr = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(rounding.units(F.col("o_totalprice"), 2).cast("long")).alias(
                "rev_c"
            )
        )
    )
    wr = Window.partitionBy("region")
    # integer (floor) division on both sides: DuckDB's `/` on integers
    # yields DOUBLE and its BIGINT cast rounds, Spark's cast truncates —
    # `DIV` / `//` sidestep the divergence entirely
    return nr.withColumn("total", F.sum("rev_c").over(wr)).select(
        "region",
        "nation",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.expr("(rev_c * 10000) DIV total").alias("share_bp"),
    )


@query(
    "q_events_lateness_profile",
    oracle="""
    WITH a AS (SELECT event_id, epoch_us(ts) AS tus FROM events),
    r AS (SELECT event_id,
                 max(tus) OVER (ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING) - tus AS late_us
          FROM a),
    b AS (SELECT CASE WHEN late_us = 0 THEN 0
                      WHEN late_us < 60000000 THEN 1
                      WHEN late_us < 600000000 THEN 2
                      WHEN late_us < 3600000000 THEN 3
                      WHEN late_us < 7200000000 THEN 4
                      ELSE 5 END AS bucket
          FROM r)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
)
def q_events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness profile: for each event, how far behind the
    maximum event time already ARRIVED (event_id is the generation /
    arrival order) — bucketed into on-time / <1 min / <10 min / <1 h /
    <2 h / ≥2 h. This is the measurement that JUSTIFIES a watermark
    delay: the streaming entries all use 2 hours, and this profile
    shows exactly what fraction of events a smaller delay would drop
    as late. The batch-side capacity-planning tool for the §2.8
    pipelines.

    Lateness is running-max(arrival-ordered event time) − event time —
    exact integer microseconds; bucket edges are integer constants.
    (The synthetic corpus generates events in time order, so every
    event lands in bucket 0 — which is itself the finding: a 2 h delay
    is strictly conservative here. Out-of-order real streams populate
    the tail buckets.)

    Scale: the running max needs the arrival order — a global-order
    window over raw events (the one entry where that's inherent,
    because lateness is a global property of the arrival stream). At
    cluster scale this is the standard two-phase prefix-max: per-batch
    maxima first, broadcast the tiny per-batch frame's running max as
    the carry-in, then a partition-local pass — identical output, no
    global sort; in production it runs incrementally per ingest batch
    (which is how the ProgressRecorder sees it live)."""
    a = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    )
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    r = a.select((F.max("tus").over(w) - F.col("tus")).alias("late_us"))
    bucket = (
        F.when(F.col("late_us") == 0, 0)
        .when(F.col("late_us") < 60_000_000, 1)
        .when(F.col("late_us") < 600_000_000, 2)
        .when(F.col("late_us") < 3_600_000_000, 3)
        .when(F.col("late_us") < 7_200_000_000, 4)
        .otherwise(5)
    )
    return (
        r.select(bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_fulfillment_latency",
    oracle="""
    WITH ol AS (SELECT o.o_orderkey, o.o_orderpriority,
                       date_diff('day', date_trunc('day', min(o.o_orderdate)),
                                 date_trunc('day', max(l.l_shipdate)))
                         AS days
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                GROUP BY o.o_orderkey, o.o_orderpriority),
    r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY days, o_orderkey) AS rn,
                 count(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM ol)
    SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS BIGINT)
             AS p50_days,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN days END)
                AS BIGINT) AS p90_days,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN days END)
                AS BIGINT) AS p99_days
    FROM r GROUP BY o_orderpriority
    """,
)
def q_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency SLA report: p50/p90/p99 days from order
    placement to LAST line shipped, per order priority — the
    operational percentile dashboard (does '1-URGENT' actually ship
    faster, and at which tail?). Latencies are exact integer day
    counts; every percentile is the low order statistic at
    rn = ⌈q·n⌉ = (q_num·n + q_num) DIV q_den under a (days, orderkey)
    total order — no interpolation, bit-exact cross-engine (the
    rank-selection device generalized from the median entries to
    arbitrary q).

    Scale: one orders⋈lineitem shuffle to per-order latencies, one
    rank window per priority over the per-order frame, one final
    aggregation — the three-percentile read shares a single window
    pass (CASE on rank, not three sorts)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    ol = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.datediff(
                F.date_trunc("day", F.max("l_shipdate")),
                F.date_trunc("day", F.min("o_orderdate")),
            ).alias("days")
        )
    )
    wn = Window.partitionBy("o_orderpriority").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = ol.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("o_orderpriority").orderBy("days", "o_orderkey")
        ),
    ).withColumn("n", F.count("*").over(wn))
    pick = lambda num, den: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(f"({num} * n + {num}) DIV {den}"), F.col("days"))
    )
    return r.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        pick(1, 2).cast("long").alias("p50_days"),
        pick(9, 10).cast("long").alias("p90_days"),
        pick(99, 100).cast("long").alias("p99_days"),
    )


@query(
    "q_events_duplicate_payments",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts,
                      CAST(floor(value + 0.5) AS BIGINT) AS vd
               FROM events WHERE event_type = 'purchase'),
    l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id, vd
                                  ORDER BY ts, event_id) AS prev_ts,
                 lag(event_id) OVER (PARTITION BY user_id, vd
                                     ORDER BY ts, event_id) AS prev_id
          FROM p)
    SELECT prev_id AS first_event_id, event_id AS dup_event_id,
           user_id, vd AS amount_dollars,
           epoch_us(ts) - epoch_us(prev_ts) AS gap_us
    FROM l
    WHERE prev_ts IS NOT NULL AND ts <= prev_ts + INTERVAL 1 HOUR
    """,
)
def q_events_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-transaction detection: consecutive purchases by the
    SAME user for the SAME whole-dollar amount within 1 hour — the
    double-charge / double-click fraud-ops rule, expressed as a lag()
    within (user, amount) partitions instead of the naive self-join
    (which explodes on users with many equal-amount purchases). The
    amount bucket and window are the rule's tunables; whole dollars +
    1 h is the sensitivity at which this corpus fires.

    Amounts snap to integer dollars before partitioning, so 'same
    amount' is an exact key in both engines; gaps are integer
    microseconds. Consecutive-pair semantics (lag, not all-pairs) is
    the deliberate rule shape: a burst of k rapid duplicates flags k−1
    pairs, not O(k²).

    Scale: one shuffle on (user, amount-bucket) — a finer key than
    user alone, so hot users spread across partitions; state per group
    is one lag row. The same plan runs streaming with
    dropDuplicatesWithinWatermark's state model."""
    p = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.floor(F.col("value") + 0.5).cast("long").alias("vd"),
        )
    )
    w = Window.partitionBy("user_id", "vd").orderBy("ts", "event_id")
    l = p.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "prev_id", F.lag("event_id").over(w)
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    ptus = F.unix_micros(F.col("prev_ts").cast("timestamp"))
    return l.filter(
        F.col("prev_ts").isNotNull()
        & (F.col("ts") <= F.col("prev_ts") + F.expr("INTERVAL 1 HOUR"))
    ).select(
        F.col("prev_id").alias("first_event_id"),
        F.col("event_id").alias("dup_event_id"),
        "user_id",
        F.col("vd").alias("amount_dollars"),
        (tus - ptus).alias("gap_us"),
    )


@query(
    "q_customer_activity_reconciliation",
    oracle="""
    WITH oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_o
                FROM orders GROUP BY 1),
    ec AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_e
           FROM events GROUP BY 1),
    f AS (SELECT coalesce(oc.k, ec.k) AS k,
                 CASE WHEN oc.k IS NOT NULL AND ec.k IS NOT NULL THEN 'both'
                      WHEN oc.k IS NOT NULL THEN 'orders_only'
                      ELSE 'events_only' END AS status,
                 coalesce(n_o, 0) AS n_o, coalesce(n_e, 0) AS n_e
          FROM oc FULL OUTER JOIN ec ON oc.k = ec.k)
    SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n_o) AS BIGINT) AS n_orders,
           CAST(sum(n_e) AS BIGINT) AS n_events
    FROM f GROUP BY status
    """,
)
def q_customer_activity_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system reconciliation via FULL OUTER join — the one join
    type the rest of the catalog doesn't exercise: the order system's
    customer keys against the event system's user keys, every key
    classified `both` / `orders_only` / `events_only` with record
    volumes on each side. The data-integration audit that finds silent
    key-space drift between two pipelines (this corpus: events cover a
    strict subset of customers — `events_only` is empty and that
    absence is part of the hash-checked answer).

    Scale: both sides collapse to per-key counts BEFORE the full outer
    join (the join carries |keys| rows, not raw records), then a 3-row
    aggregation. Full outer plans as SMJ on the shared key — both
    sides' aggregates already hash-partitioned on it, so the join
    reuses their exchanges."""
    oc = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_o"))
    )
    ec = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("n_e"))
    )
    f = oc.join(ec, "k", "full_outer").select(
        F.when(
            F.col("n_o").isNotNull() & F.col("n_e").isNotNull(), "both"
        )
        .when(F.col("n_o").isNotNull(), "orders_only")
        .otherwise("events_only")
        .alias("status"),
        F.coalesce("n_o", F.lit(0)).alias("n_o"),
        F.coalesce("n_e", F.lit(0)).alias("n_e"),
    )
    return f.groupBy("status").agg(
        F.count("*").alias("n_keys"),
        F.sum("n_o").alias("n_orders"),
        F.sum("n_e").alias("n_events"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT r.r_name, c.c_mktsegment, round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL surface (beyond rollup/cube)."""
    for t in ("orders", "customer", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"gs_{t}")
    return spark.sql(
        """
        SELECT r.r_name, c.c_mktsegment, round(sum(o.o_totalprice), 2) AS revenue
        FROM gs_orders o
        JOIN gs_customer c ON c.c_custkey = o.o_custkey
        JOIN gs_nation n ON n.n_nationkey = c.c_nationkey
        JOIN gs_region r ON r.r_regionkey = n.n_regionkey
        GROUP BY GROUPING SETS ((r.r_name), (c.c_mktsegment), ())
        """
    )


@query(
    "q_custkeys_intersect",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= DATE '1997-01-01'
    """,
)
def q_custkeys_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: customers active in both halves (INTERSECT)."""
    o = _t(spark, sf_dir, "orders")
    before = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).select("o_custkey")
    after = o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")).select("o_custkey")
    return before.intersect(after)


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
          JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
          WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension joined twice under different roles
    (supplier nation vs customer nation) with a cross-pair predicate.

    Scale: both nation sides are filtered to the two names BEFORE the join
    and broadcast, so the fact path is lineitem⋈orders⋈(tiny) with the
    pair predicate applied map-side; the only big shuffles are the
    lineitem⋈orders keys."""
    two = ["NATION_1", "NATION_2"]
    n1 = F.broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name").isin(two)))
    n2 = F.broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name").isin(two)))
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n1.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")), F.col("nk1") == s.s_nationkey)
        .join(n2.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")), F.col("nk2") == c.c_nationkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, revenue, n_name FROM (
      SELECT c.c_custkey, c.c_name,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             n.n_name
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
      GROUP BY c.c_custkey, c.c_name, n.n_name)
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: selective fact filter → joins → agg → global top-k.

    The top-k cut ranks on the ROUNDED revenue with c_custkey tiebreak
    (catalog convention) so FP last-ulp differences cannot change the
    selected rows."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("n_nationkey") == c.c_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "q_pivot_priority_by_segment",
    oracle="""
    SELECT c.c_mktsegment,
           sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS p_urgent,
           sum(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS p_high,
           sum(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS p_medium,
           sum(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS p_notspec,
           sum(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS p_low
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_pivot_priority_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order-priority counts per market segment.

    The pivot values are given EXPLICITLY so Spark skips the extra
    distinct-values collect job — at scale an unbounded pivot is a full
    extra pass plus an unpredictable column set."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    vals = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"]
    piv = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", vals)
        .count()
    )
    return piv.select(
        "c_mktsegment",
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(a) for v, a in zip(vals, out)],
    )


@query(
    "q_unpivot_priority_counts",
    oracle="""
    WITH w AS (
      SELECT c.c_mktsegment,
             sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS p_urgent,
             sum(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS p_low
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment)
    SELECT c_mktsegment, 'p_urgent' AS priority, p_urgent AS n FROM w
    UNION ALL
    SELECT c_mktsegment, 'p_low', p_low FROM w
    """,
)
def q_unpivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, `stack`): the inverse of the pivot entry —
    melt the per-segment priority-count columns back into
    (segment, priority, n) rows. stack() is a Generate (narrow, no
    shuffle beyond the feeding aggregation); the wide frame is computed
    once and each output row references it without re-aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    wide = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            .cast("long")
            .alias("p_urgent"),
            F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0))
            .cast("long")
            .alias("p_low"),
        )
    )
    return wide.selectExpr(
        "c_mktsegment",
        "stack(2, 'p_urgent', p_urgent, 'p_low', p_low) AS (priority, n)",
    )


@query(
    "q_events_moving_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 10000 + 0.5) / 10000
           AS mavg7
    FROM events
    """,
)
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with a rows frame: 7-event moving average per user.

    The frame order carries the event_id tiebreaker so both engines sum the
    same doubles in the same order — the floor-quantize then matches
    bit-for-bit. Scale: partitioned by user_id (no global sort), one
    shuffle."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.expr(rounding.snap_sql("avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", 4)).alias("mavg7"),
        )
    )


@query(
    "q_events_trailing_30min",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_30m,
           floor(sum(value) OVER w * 10000 + 0.5) / 10000 AS sum_30m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_events_trailing_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per event, the user's activity over
    the trailing 30 minutes — the rows-frame entry's complement (a ROWS
    frame counts events; a RANGE frame bounds event TIME, the fraud/rate-
    limit shape). Ordering is integer epoch-µs on both engines, so frame
    membership is exact integer arithmetic; the FP frame sum hides under
    the 1e-4 grid.

    Scale: partitioned by user_id — one shuffle, no global sort; the
    running frame is computed incrementally per partition."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "count(*) OVER (PARTITION BY user_id "
            "ORDER BY unix_micros(CAST(ts AS TIMESTAMP)) "
            "RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)"
        ).alias("n_30m"),
        F.expr(
            rounding.snap_sql(
                "sum(value) OVER (PARTITION BY user_id "
                "ORDER BY unix_micros(CAST(ts AS TIMESTAMP)) "
                "RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)",
                4,
            )
        ).alias("sum_30m"),
    )


@query(
    "q_stats_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           floor(stddev_samp(l_quantity) * 10000 + 0.5) / 10000   AS sd_qty,
           floor(var_samp(l_discount) * 1000000 + 0.5) / 1000000  AS var_disc,
           floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000 AS corr_qty_price,
           floor(covar_samp(l_quantity, l_discount) * 10000 + 0.5) / 10000 AS cov_qty_disc,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance/correlation/covariance.

    All four are single-pass streaming aggregates (partial+final) in both
    engines; quantized like the other FP aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rounding.snap(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        rounding.snap(F.var_samp("l_discount"), 6).alias("var_disc"),
        rounding.snap(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        rounding.snap(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qty_disc"),
        F.count("*").alias("n"),
    )


@query(
    "q_orders_price_histogram",
    oracle="""
    WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c)
    SELECT CAST(least(19, ((cents - lo) * 20) // (hi - lo + 1)) AS BIGINT)
             AS bucket,
           count(*) AS n,
           min(cents) / 100.0 AS bucket_min, max(cents) / 100.0 AS bucket_max
    FROM c CROSS JOIN b
    GROUP BY 1
    """,
)
def q_orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of order totalprice (the
    width_bucket / profiling shape).

    Prices snap to integer cents; the bucket index is
    (cents−lo)·20 div (hi−lo+1) — pure integer arithmetic, so no
    division-ulp can move a price across a bucket edge (width_bucket on
    raw doubles would have an FP boundary at every edge). Displayed
    bounds are cents/100.0, identical doubles in both engines.

    Scale: two scans of orders, each pruned to the one price column —
    the bounds pass aggregates to a single row that broadcast-cross-joins
    back (no driver collect, no global window). A single-pass version
    would need a global unbounded window: one partition holding every
    row, the exact scale-killer the two-pass form avoids."""
    c = _t(spark, sf_dir, "orders").select(
        rounding.units(F.col("o_totalprice"), 2).cast("long").alias("cents")
    )
    b = c.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    # `div` is true integer division (DuckDB's `//`) — Spark's `/` would be
    # a double division with an FP boundary at every bucket edge
    bucket = F.least(
        F.lit(19).cast("long"),
        F.expr("((cents - lo) * 20) div (hi - lo + 1)"),
    )
    return (
        c.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            (F.min("cents") / 100.0).alias("bucket_min"),
            (F.max("cents") / 100.0).alias("bucket_max"),
        )
    )


@query(
    "q_ntile_acctbal_deciles",
    oracle="""
    SELECT c_mktsegment, decile, count(*) AS n,
           round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
    FROM (SELECT c_mktsegment, c_acctbal,
                 CAST(ntile(10) OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
          FROM customer)
    GROUP BY c_mktsegment, decile
    """,
)
def q_ntile_acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing: account-balance deciles per segment, then per-bucket
    stats. Deterministic via the full-order (c_acctbal, c_custkey) sort key."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@query(
    "q4_priority_late_ship",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery → left-semi join, then a small
    group-count. (This corpus has no commit/receipt dates, so "late" is
    shipped >60 days after the order date — same correlated-inequality
    EXISTS physical shape.)

    Scale: the date filter prunes orders BEFORE the semi join, and the
    semi join keys on l_orderkey with the inequality evaluated as a join
    residual — lineitem is never widened or aggregated."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > F.date_add(o.o_orderdate, 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan→filter→aggregate, no join, no group.

    Scale: the showcase for pushdown — all three predicates and the
    2-column projection reach the parquet scan (PushedFilters), so the
    stage reads a fraction of the file and aggregates map-side to one row.
    The discount bounds compare against the same double literals in both
    engines, and the parquet values are identical bit patterns."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume) * 1000000 + 0.5) / 1000000 AS mkt_share
    FROM (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 n2.n_name AS supp_nation
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n1.n_regionkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
          WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO')
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — an 8-table join tree feeding
    a conditional-aggregate ratio per year.

    Scale: every dimension (part-filtered, supplier, both nation roles,
    region) broadcasts; the only shuffle-joined pair is lineitem⋈orders.
    The region/nation filter applies to the CUSTOMER side while the share
    CASE keys on the SUPPLIER nation — the two roles stay separate
    broadcasts, as in q7. Ratio uses the portable floor grid (catalog
    convention for ratios of FP sums)."""
    p = F.broadcast(_t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey"))
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n1 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk_cust"), F.col("n_regionkey").alias("rk_cust")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk_supp"), F.col("n_name").alias("supp_nation")))
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    joined = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, c.c_nationkey == F.col("nk_cust"))
        .join(r, F.col("rk_cust") == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n2, s.s_nationkey == F.col("nk_supp"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return joined.groupBy("o_year").agg(
        F.expr(
            rounding.snap_sql(
                "sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume)", 6
            )
        ).alias("mkt_share")
    )


@query(
    "q9_profit_by_nation",
    oracle="""
    SELECT n_name AS nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount)
                 - 0.1 * p.p_retailprice * l.l_quantity AS amount
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          WHERE p.p_type = 'STANDARD')
    GROUP BY n_name, o_year
    """,
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product profit per nation per year — a 5-way join
    whose aggregate expression mixes columns from two tables (lineitem
    price terms minus a part-derived cost; this corpus has no partsupp,
    so cost is 10% of retail price — same multi-table amount shape).

    Scale: part (filtered) / supplier / nation broadcast; lineitem⋈orders
    is the one big shuffle. The amount expression is evaluated map-side
    before the partial aggregate, so the shuffle carries (nation, year)
    partials only."""
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey", "p_retailprice")
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                            AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution — a filtered LEFT
    OUTER join (the filter lives in the join condition, NOT the WHERE, so
    zero-order customers survive with count 0), then a two-level aggregate.

    Scale: the outer join shuffles on custkey and the first aggregate
    reuses that partitioning (no second exchange); the histogram aggregate
    moves one row per distinct count."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 150) t ON t.l_orderkey = o.o_orderkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING — rewritten as an
    aggregate-then-join (the subquery result is the join input itself, so
    no separate semi join is needed).

    Scale: the lineitem aggregate reduces 4 rows/order to 1 BEFORE any
    join; the HAVING filter then cuts that to the rare heavy orders, which
    AQE sees is small enough to broadcast against orders and customer.
    l_quantity is integral-valued so the double sum is exact in FP —
    cross-engine comparison is safe without a rounding grid."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    heavy = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        heavy.join(o, heavy.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) join predicate mixing
    columns from both tables.

    Scale: Catalyst extracts the common single-table residues of the OR —
    part rows must match one of the three brands, lineitem rows one of the
    quantity ranges — and pushes them below the join, so the scans prune
    before the (broadcast) join evaluates the full disjunction."""
    l = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size"))
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*)::BIGINT AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderstatus = 'F'
    JOIN lineitem l1 ON l1.l_orderkey = o.o_orderkey AND l1.l_suppkey = s.s_suppkey
    WHERE n.n_name = 'NATION_5'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order — one EXISTS plus one correlated NOT EXISTS over
    the same fact table (late = shipped >60 days after order date; this
    corpus has no receipt/commit dates).

    Scale: both subqueries become lineitem self-joins keyed on l_orderkey
    (semi then anti) with the supplier inequality as a join residual; the
    anti side pre-filters to LATE lines only, so its build input is the
    small side. Supplier and nation broadcast."""
    s = F.broadcast(
        _t(spark, sf_dir, "supplier").join(
            F.broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l1 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("l_orderkey", "l_suppkey", "s_name", "o_orderdate")
    )
    l2 = l.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
    l3 = l.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("sd3"),
    )
    return (
        l1.join(l2, (l1.l_orderkey == F.col("k2")) & (l1.l_suppkey != F.col("sk2")), "left_semi")
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("sk3"))
            & (F.col("sd3") > F.date_add(F.col("o_orderdate"), 60)),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    WITH thr AS (SELECT (floor(avg(c_acctbal) * 100 + 0.5) + 0.5) / 100 AS t
                 FROM customer WHERE c_acctbal > 0.0)
    SELECT cntrycode, count(*)::BIGINT AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (SELECT c_nationkey % 7 AS cntrycode, c_acctbal
          FROM customer c CROSS JOIN thr
          WHERE c.c_acctbal > thr.t
            AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    GROUP BY cntrycode
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the global positive-balance average
    with no orders — scalar aggregate subquery + anti join + group. (No
    phone column in this corpus; country code is nationkey mod 7.)

    The threshold is snapped to a half-cent grid ((floor(avg*100+.5)+.5)/100):
    balances have exactly 2 decimals, so NO balance can ever equal the
    threshold and a last-ulp difference in the two engines' FP average
    cannot flip a row across the > comparison.

    Scale: the scalar subquery is one map-side-combined aggregate
    broadcast into the filter; the anti join shuffles on custkey only
    after the balance filter has cut the probe side."""
    c = _t(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        ((rounding.units(F.avg("c_acctbal"), 2) + 0.5) / 100).alias("t")
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select((F.col("c_nationkey") % 7).alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q_events_daily_rollup",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n,
               CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sv_cents
        FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('day', hour) AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n,
           round(CAST(sum(sv_cents) AS BIGINT) / 100.0, 2) AS total_value
    FROM hourly GROUP BY 1, 2
    """,
)
def q_events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the DAILY aggregate is
    derived from the HOURLY partials (sum of counts, sum of sums), not from
    raw events — the TimescaleDB continuous-aggregate pattern. At 100 TB
    the hourly layer is the materialized table; every coarser granularity
    (day/week/month) re-aggregates |hours|·|types| tiny rows instead of
    rescanning the fact table. The hourly value partial is snapped to
    integer cents (the portable grid, ``rounding.units``), so the
    daily layer sums exact BIGINTs — associative and engine-portable, no
    FP reassociation between the two grains — and the oracle replays the
    SAME two-level structure (hourly CTE summed to daily) rather than a
    direct daily aggregate, so both engines compose partials identically."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        rounding.units(F.sum("value"), 2).cast("long").alias("sv_cents"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sv_cents") / 100.0, 2).alias("total_value"),
        )
    )


@query(
    "q_incident_click_range_join",
    oracle="""
    SELECT i.event_id AS incident_id,
           count(*) AS n_clicks,
           round(sum(c.value), 2) AS click_value
    FROM events i JOIN events c
      ON i.event_type = 'error' AND c.event_type = 'click'
     AND c.ts >= i.ts AND c.ts < i.ts + INTERVAL 10 MINUTE
    GROUP BY 1
    """,
)
def q_incident_click_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi-key): every error event opens a 10-minute
    incident window; count/sum the clicks of ANY user falling inside it.
    Spark has no native interval join — the naive predicate-only join plans
    a cartesian; ``operators/rangejoin.py`` decomposes it into a
    coarse-bucket equi-join (600 s buckets = window length → ≤2 bucket
    copies per interval) + exact filter, so both sides shuffle once on a
    long key. Distinct from `stream_click_error_join`, which has a user
    equi-key and streams."""
    from .operators.rangejoin import range_join_point_in_interval

    ev = _t(spark, sf_dir, "events")
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("ts"), F.col("value")
    )
    joined = range_join_point_in_interval(
        incidents, clicks, "w_start", "w_end", "ts", bucket_seconds=600
    )
    return joined.groupBy("incident_id").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value"),
    )


@query(
    "q_bucketed_cokey_join",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_cokey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact↔fact join over BUCKETED tables: orders and lineitem
    are persisted bucketed+sorted by orderkey, so the join plans an SMJ
    directly over the bucketed scans with zero Exchange nodes (pinned by
    test_plan_shapes) — write-time shuffle instead of query-time, the
    repeated-fact-join leg of the 100 TB design (SCALE.md). Results equal
    the plain join (the oracle).

    Table names carry a per-corpus digest, so a handle returned for one
    sf_dir keeps reading that corpus even if the entry is later invoked
    for another; the bucketed write runs once per (session, corpus) and
    repeat invocations go straight to the existing tables — the same
    write-once/serve-many shape the 100 TB design assumes."""
    from .operators import storage

    # one database per session: CREATE IF NOT EXISTS pins the first location
    state.get(
        spark, "bucketed_db", "tf_bucketed",
        lambda: storage.ensure_database(
            spark, "tf_bucketed", state.temp_root("tf_bucketed_")
        ),
    )
    dig = state.corpus_digest(sf_dir)
    orders_b = f"tf_bucketed.orders_b_{dig}"
    lineitem_b = f"tf_bucketed.lineitem_b_{dig}"

    def write_tables() -> None:
        storage.write_bucketed(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            orders_b,
            "o_orderkey",
        )
        storage.write_bucketed(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            lineitem_b,
            "l_orderkey",
        )

    state.get(spark, "bucketed_tables", dig, write_tables)
    o = spark.table(orders_b)
    l = spark.table(lineitem_b)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


def _pagerank_cte(iters: int = 3) -> str:
    """Unrolled PageRank oracle: the same per-iteration snapped update the
    Spark loop applies (``cluster.pagerank_fixed``), as chained CTEs."""
    parts = [
        "e AS (SELECT DISTINCT 'c' || o_custkey::VARCHAR src, "
        "'s' || l_suppkey::VARCHAR dst "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
        "od AS (SELECT src, count(*) d FROM e GROUP BY 1)",
        "n AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "p0 AS (SELECT node, 1.0 pr FROM n)",
    ]
    for t in range(1, iters + 1):
        parts += [
            f"c{t} AS (SELECT e.dst AS node, sum(p.pr / od.d) s "
            f"FROM e JOIN p{t - 1} p ON p.node = e.src "
            f"JOIN od ON od.src = e.src GROUP BY 1)",
            f"p{t} AS (SELECT n.node, "
            f"floor((0.15 + 0.85 * COALESCE(c.s, 0.0)) * 1e+06 + 0.5) / 1e+06 pr "
            f"FROM n LEFT JOIN c{t} c ON c.node = n.node)",
        ]
    return ",\n    ".join(parts)


@query(
    "q_customer_supplier_pagerank",
    oracle=f"""
    WITH {_pagerank_cte(3)}
    SELECT node, pr FROM p3
    """,
)
def q_customer_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, d=0.85) over the bipartite
    customer→supplier order graph — the iterative-graph operator family
    (beyond connected components) in its DataFrame-iterative form. Node
    ids are namespaced ('c'/'s' prefixes: the two key spaces overlap).
    Ranks snap to the 1e-6 grid every iteration so the unrolled-CTE
    oracle stays in lockstep through all three rounds."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.expr("concat('c', CAST(o_custkey AS STRING))").alias("src"),
            F.expr("concat('s', CAST(l_suppkey AS STRING))").alias("dst"),
        )
        .distinct()
    )
    return cluster.pagerank_fixed(edges, iters=3, damping=0.85)


@query(
    "q_salted_skew_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (events ⋈ customer on the user key, salt=8): each
    key splits across 8 independent tasks, the static-plan answer to hot
    keys where AQE's runtime skew split can't help (stream-static joins,
    non-SMJ plans). Result is EXACTLY the plain join — the oracle is the
    unsalted SQL — because every (key, salt) pairing exists once on the
    replicated side. Replication cost is |dim|·salt rows; pick the
    replicated side accordingly (semantics parity across inner/left/
    semi/anti is property-tested in test_skew)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = skew.salted_join(ev, dim, on="c_custkey", salt=8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _zorder_store(spark: SparkSession, sf_dir: str) -> str:
    from .operators import storage

    def build() -> str:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
        )
        path = state.temp_root("zorder_store_") + "/lineitem_z"
        storage.write_zordered(li, path, "l_partkey", "l_suppkey", num_files=16)
        return path

    return state.get(spark, "zorder_store", state.corpus_digest(sf_dir), build)


@query(
    "q_zorder_pruned_scan",
    oracle="""
    SELECT l_partkey, count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 20 AND 60 AND l_suppkey BETWEEN 2 AND 5
    GROUP BY 1
    """,
)
def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range scan over a Z-ORDER-clustered copy of lineitem (Morton
    interleave of partkey/suppkey, range-partitioned + sorted by z): both
    BETWEEN predicates push to the parquet scan and footer min/max stats
    prune the row groups whose (partkey, suppkey) box misses the query box
    — the Delta/Iceberg Z-ORDER layout trick, file-format-native. Results
    equal the plain scan (the oracle); the pruning property is pinned by
    tests/test_zorder.py on the actual footer stats.

    Store lifecycle matches the bucketed/IVF entries: one z-ordered write
    per (session, corpus), then every scan serves from the layout —
    write-time shuffle bought once, row-group pruning on every query."""
    z = spark.read.parquet(_zorder_store(spark, sf_dir))
    return (
        z.filter(
            F.col("l_partkey").between(20, 60) & F.col("l_suppkey").between(2, 5)
        )
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


def _partitioned_store(spark: SparkSession, sf_dir: str) -> str:
    """Root of the orders store partitioned by month, plus its months dim."""
    from .operators import storage

    def build() -> str:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        )
        root = state.temp_root("partitioned_store_")
        storage.write_partitioned(o, root + "/orders_p", "o_month")
        # the month dim is its own little table (star-schema shape): the
        # DPP filter must live on dim ATTRIBUTES, not the partition column
        (
            o.select("o_month")
            .distinct()
            .select(
                F.col("o_month").alias("month"),
                F.substring("o_month", 1, 4).cast("int").alias("yr"),
                ((F.substring("o_month", 6, 2).cast("int") + 2) / 3)
                .cast("int")
                .alias("qtr"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(root + "/months_dim")
        )
        return root

    return state.get(spark, "partitioned_store", state.corpus_digest(sf_dir), build)


@query(
    "q_partition_pruned_join",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0 AS revenue
    FROM orders
    WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 1
    GROUP BY 1
    """,
)
def q_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a Hive-partitioned fact store: the
    orders fact is persisted partitioned by order month, the month dim
    carries (yr, qtr) attributes, and a dim-filtered star join makes
    Spark inject the dim's surviving months into the fact scan's
    PartitionFilters AT RUNTIME (`dynamicpruning` subquery, pinned by
    test_plan_shapes) — the fact read touches 3 month directories out of
    the full history without any literal month predicate in the query.
    Results equal the unpartitioned filter-join (the oracle).

    This completes the storage-layout trilogy with bucketing (co-located
    joins) and Z-order (row-group range pruning): partition + DPP is the
    coarse-grained scan eliminator for star-schema joins, THE dominant
    scan-cost lever at 100 TB where a date-dim filter must never imply a
    full fact scan. Store lifecycle matches the others: one partitioned
    write per (session, corpus), every query serves from the layout.

    Revenue sums integer cents (exact partial+final merge on any
    cluster); one IEEE division renders the decimal."""
    root = _partitioned_store(spark, sf_dir)
    fact = spark.read.parquet(root + "/orders_p")
    dim = spark.read.parquet(root + "/months_dim").filter(
        (F.col("yr") == 1995) & (F.col("qtr") == 1)
    )
    return (
        fact.join(F.broadcast(dim), fact.o_month == dim.month)
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(rounding.units(F.col("o_totalprice"), 2).cast("long")) / 100.0
            ).alias("revenue"),
        )
    )


@query(
    "q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '2000-01-01' AND l_shipdate < DATE '2001-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact↔fact join with a date-window filter feeding
    complementary conditional counts per line attribute. (This corpus has
    no l_shipmode/commitdate/receiptdate; returnflag plays the group key
    and the window is one ship-year.)

    Scale: the only shuffle is the orders⋈lineitem key exchange; the date
    filter and 3-column projection reach the lineitem scan, and both CASE
    sums fold into one partial aggregate per side of the exchange."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("2001-01-01").cast("date"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '2000-06-01' AND l_shipdate < DATE '2000-09-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN (
      SELECT supplier_no, total_revenue,
             rank() OVER (ORDER BY total_revenue DESC) AS rnk
      FROM revenue) r ON s_suppkey = supplier_no
    WHERE rnk = 1
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a derived revenue view (3-month window) whose MAX
    selects the top supplier(s) — the scalar-max-subquery pattern expressed
    as a rank() so revenue computes ONCE (TPC-H's view is referenced twice;
    a literal translation would aggregate lineitem twice or require a
    self-join against the max).

    Revenue is snapped to the portable cent grid BEFORE ranking so an
    engine ulp cannot reorder the top; rank() (not row_number) keeps the
    spec's semantics of returning every tied top supplier.

    Scale: one lineitem aggregation shuffle on suppkey; the rank window is
    a single global sort over |suppliers| aggregated rows (tiny), and the
    supplier join broadcasts."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-06-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("2000-09-01").cast("date"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        rounding.snap(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    w = Window.orderBy(F.col("total_revenue").desc())
    top = revenue.withColumn("rnk", F.rank().over(w)).filter(F.col("rnk") == 1)
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return top.join(s, top.supplier_no == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO' AND p_size <= 25
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute group
    with exclusion predicates. (No partsupp table in this corpus; lineitem
    is the part↔supplier association, which preserves the join-then-
    distinct-count structure.)

    Scale: part is the filtered broadcast side; count(DISTINCT) expands to
    the two-phase distinct aggregate, shuffling (brand, type, size,
    suppkey) once before the final count — no row ever carries more than
    the 4 grouping/distinct columns."""
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#9")
            & (F.col("p_type") != "PROMO")
            & (F.col("p_size") <= 25)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_quantity_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey),
    thr AS (SELECT floor(avg(qty)) + 0.5 AS t FROM shipped)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped, thr WHERE qty > t)
    """,
)
def q20_excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi join against a HAVING-style aggregated
    subquery with a scalar-aggregate threshold. (No partsupp/availqty in
    this corpus; shipped PROMO-part quantity stands in for excess stock,
    keeping the nested agg → IN → semi-join structure.)

    The threshold snaps to the half-unit grid (floor(avg)+0.5):
    l_quantity is integral, so per-supplier sums are exactly representable
    and NO sum can equal the threshold — an engine-ulp difference in the
    FP average cannot flip a supplier across the > comparison.

    Scale: part is a broadcast filter and the shipped agg shuffles on
    suppkey — ONCE: the scalar threshold is a global window over the
    aggregated frame (|suppliers| rows), not a separate scalar subquery,
    which would re-execute the whole lineitem⋈part aggregation as a second
    scan (TPC-H's revenue-view-twice trap, same cure as q15). The final
    semi join broadcasts the qualifying-supplier set — supplier itself
    never shuffles."""
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    shipped = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    qualifying = (
        shipped.withColumn("t", F.floor(F.avg("qty").over(w)) + 0.5)
        .filter(F.col("qty") > F.col("t"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(qualifying), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT p_partkey, s_suppkey, s_name, n_name,
             floor(avg(l_extendedprice / l_quantity) * 100 + 0.5) / 100
               AS supply_cost
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE' AND p_size <= 15 AND p_type = 'STANDARD'
      GROUP BY p_partkey, s_suppkey, s_name, n_name),
    m AS (SELECT *, min(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
          FROM cost)
    SELECT p_partkey, s_suppkey, s_name, n_name, supply_cost
    FROM m WHERE supply_cost = min_cost
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated scalar-MIN subquery — for each
    qualifying part, the supplier(s) in one region offering the minimum
    supply cost. (No partsupp in this corpus; per-(part, supplier) mean
    unit price from lineitem stands in for ps_supplycost, preserving the
    correlated-min structure.) Completes the q1–q22 shape family together
    with q11.

    TPC-H writes the min as a correlated subquery that re-joins five
    tables; expressed as a window MIN over the aggregated frame, the join
    pyramid runs ONCE (same re-scan cure as q15/q20). Cost snaps to the
    cent grid BEFORE the min comparison, so an engine-ulp in the FP mean
    cannot select different suppliers.

    Scale: part filter and the region⋈nation⋈supplier pyramid are tiny
    broadcast sides — lineitem never shuffles for the joins; the single
    shuffle is the (part, supplier) aggregation, and the window min rides
    the same partitioning (partkey prefix)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    s_eu = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s_eu, li.l_suppkey == s_eu.s_suppkey)
        .groupBy("p_partkey", "s_suppkey", "s_name", "n_name")
        .agg(
            rounding.snap(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
                "supply_cost"
            )
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        cost.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "supply_cost")
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                  AS BIGINT) AS vc
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey),
    t AS (SELECT *, sum(vc) OVER () AS tc, count(*) OVER () AS n FROM val)
    SELECT l_partkey AS partkey, vc / 100.0 AS value
    FROM t WHERE vc * n > 2 * tc
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value within one nation, HAVING value
    above a global-aggregate threshold. (No partsupp/availqty; discounted
    lineitem revenue from that nation's suppliers stands in for
    supplycost×availqty.) The TPC-H fixed fraction (0.0001/SF) is replaced
    by the scale-free "above 2× the mean part value", so one catalog
    definition stays meaningful at every SF.

    Portability: per-part values snap to integer CENTS; the threshold
    comparison is vc·n > 2·Σvc — pure integer arithmetic, so no FP
    association order can flip a part across the boundary (q20's
    half-grid trick, strengthened to exact integers). The displayed value
    is cents/100.0, the identical double in both engines.

    Scale: nation⋈supplier is a broadcast filter (lineitem never shuffles
    for it); the single shuffle is the partkey aggregation, and the global
    threshold is an unbounded window over the aggregated frame — not a
    scalar subquery that would re-aggregate lineitem twice. At 100 TB the
    bigint products need DECIMAL(38) headroom (cents ≤ 1e14 there); the
    integer-exactness argument carries over unchanged."""
    n3 = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    s = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(n3, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            rounding.units(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .cast("long")
            .alias("vc")
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        val.withColumn("tc", F.sum("vc").over(w))
        .withColumn("n", F.count("*").over(w))
        .filter(F.col("vc") * F.col("n") > 2 * F.col("tc"))
        .select(F.col("l_partkey").alias("partkey"), (F.col("vc") / 100.0).alias("value"))
    )


# ---------------------------------------------------------------------------
# Events: time-series / streaming-adjacent shapes (§2.8) + JSON surface
# ---------------------------------------------------------------------------


@query(
    "q_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming window)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@query(
    "q_events_hourly_gapfill",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) lo,
                      date_trunc('hour', max(ts)) hi FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM b),
    ty AS (SELECT DISTINCT event_type FROM events),
    agg AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) n, round(sum(value), 2) tv
            FROM events GROUP BY 1, 2)
    SELECT s.hour, ty.event_type,
           COALESCE(a.n, 0)::BIGINT AS n,
           COALESCE(a.tv, 0.0) AS total_value
    FROM spine s CROSS JOIN ty
    LEFT JOIN agg a ON a.hour = s.hour AND a.event_type = ty.event_type
    """,
)
def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series (the TimescaleDB time_bucket_gapfill
    analog): a generated hour spine × the event-type dimension, left-joined
    to the real aggregates with zero fill — dashboards and forecasting
    models need the EMPTY buckets a plain GROUP BY silently drops.

    Scale: the spine is |hours| rows generated from a 1-row bounds
    aggregate (broadcast), the type dimension is tiny (broadcast cross),
    and the left join keys on (hour, type) against the already-aggregated
    counts — the fact table is scanned once, by the aggregation."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr("date_trunc('hour', min(CAST(ts AS TIMESTAMP)))").alias("lo"),
        F.expr("date_trunc('hour', max(CAST(ts AS TIMESTAMP)))").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour")
    )
    ty = ev.select("event_type").distinct()
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
    return (
        spine.crossJoin(F.broadcast(ty))
        .join(agg, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.coalesce("tv", F.lit(0.0)).alias("total_value"),
        )
    )


@query(
    "q_events_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
    """,
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): 30-min inactivity gap starts a new
    session. lag + conditional sum — the batch equivalent of
    session_window in Structured Streaming."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events").withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
            1,
        ).otherwise(0),
    )
    return ev.groupBy("user_id").agg(F.sum("is_new").alias("n_sessions"))


@query(
    "q_events_ohlc",
    oracle="""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT hour, event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM r GROUP BY hour, event_type
    """,
)
def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the financial-rollup shape
    (open/high/low/close) that needs BOTH order statistics (min/max) and
    positional statistics (first/last in time) in one pass.

    First/last are row_number() = 1 under (ts, event_id) — event_id breaks
    same-microsecond ties identically in both engines, and the values are
    raw column reads (no arithmetic), so every output is bit-exact.

    Scale: both windows and the final aggregate share the
    (hour, event_type) partitioning, so Catalyst plans ONE exchange with
    two sorts over it; the aggregate is partial+final on the same keys. A
    first()/last() aggregate would be nondeterministic under shuffle
    order; min_by/max_by over a struct would need engine-matched struct
    comparison — row_number is the portable form."""
    # materialize `hour` ONCE and partition both windows and the aggregate
    # on the same attribute — fresh date_trunc expressions per window get
    # distinct exprIds and Catalyst would plan three exchanges, not one
    w_a = Window.partitionBy("hour", "event_type").orderBy("ts", "event_id")
    w_d = Window.partitionBy("hour", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ev = (
        _t(spark, sf_dir, "events")
        .select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
            "value",
            "ts",
            "event_id",
        )
        .withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
    )
    return ev.groupBy("hour", "event_type").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_events_anomaly",
    oracle="""
    WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                       count(*) AS cnt
                FROM events GROUP BY 1, 2),
    st AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
                  sum(cnt) OVER (PARTITION BY event_type) AS s,
                  sum(cnt * cnt) OVER (PARTITION BY event_type) AS ss
           FROM hc)
    SELECT event_type, hour, cnt
    FROM st
    WHERE (cnt::HUGEINT * n - s) * (cnt::HUGEINT * n - s)
          > 9::HUGEINT * (n::HUGEINT * ss - s::HUGEINT * s)
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose event count deviates more
    than 3σ from that type's mean hourly count (population σ).

    |cnt − s/n| > 3·σ is multiplied out to (cnt·n − s)² > 9·(n·ss − s²) —
    ALL INTEGER arithmetic (counts, their sums, their squares), so the
    flag is bit-exact across engines with no mean/stddev FP at all.
    Round 7: the comparison runs in DECIMAL(38,0) / HUGEINT — s² wraps
    int64 once a type passes ~3e9 events, well inside the 100 TB point
    (s ≈ 1e10 ⇒ s² ≈ 1e20); decimal keeps it exact to 1e19 events per
    type. Value-identical at every tested SF.

    Scale: one partial+final count aggregation (shuffle carries
    |hours×types| rows), then an unbounded window per event_type over the
    tiny aggregated frame — no second pass over raw events."""
    hc = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    st = (
        hc.withColumn("n", F.count("*").over(w))
        .withColumn("s", F.sum("cnt").over(w))
        .withColumn("ss", F.sum(F.col("cnt") * F.col("cnt")).over(w))
    )
    dev = F.col("cnt").cast("decimal(38,0)") * F.col("n") - F.col("s")
    var_n2 = F.col("n").cast("decimal(38,0)") * F.col("ss") - F.col(
        "s"
    ).cast("decimal(38,0)") * F.col("s")
    return st.filter(dev * dev > 9 * var_n2).select("event_type", "hour", "cnt")


@query(
    "q_events_ewma",
    oracle="""
    WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                       count(*) AS cnt
                FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, hour, cnt,
    """
    + ",\n".join(
        f"lag(cnt, {k}) OVER (PARTITION BY event_type ORDER BY hour) AS c{k}"
        for k in range(8)
    )
    + """
          FROM hc)
    SELECT event_type, hour, cnt,
           ("""
    + " + ".join(f"coalesce(c{k} * {2 ** (7 - k)}, 0)" for k in range(8))
    + """)
           / ("""
    + " + ".join(
        f"CASE WHEN c{k} IS NOT NULL THEN {2 ** (7 - k)} ELSE 0 END" for k in range(8)
    )
    + """)
           AS ewma
    FROM l
    """,
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of hourly event volume
    (α = 1/2, truncated at 8 terms), the time-series smoothing shape.

    α is deliberately dyadic: the weights 2⁻ᵏ make both numerator
    (Σ cntₖ·2⁷⁻ᵏ) and normalizer (Σ 2⁷⁻ᵏ over available lags) exact
    INTEGERS, and their single IEEE division is identical in every
    engine — an EWMA with zero FP portability risk, where a generic α
    would compound pow() ulps per lag. Series edges renormalize over the
    lags that exist instead of zero-padding (no warm-up bias).

    Scale: one count aggregation, then 8 lag() reads inside ONE window
    sort per event_type over the tiny hourly frame — lag is a frame-local
    buffer, not 8 self-joins."""
    hc = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    lags = [F.lag("cnt", k).over(w) for k in range(8)]
    num = sum(
        (F.coalesce(c * (2 ** (7 - k)), F.lit(0)) for k, c in enumerate(lags)),
        F.lit(0),
    )
    den = sum(
        (F.when(c.isNotNull(), 2 ** (7 - k)).otherwise(0) for k, c in enumerate(lags)),
        F.lit(0),
    )
    return hc.select("event_type", "hour", "cnt", (num / den).alias("ewma"))


@query(
    "q_events_countmin",
    oracle=f"""
    WITH uc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
    hh AS (SELECT user_id, cnt, i,
                  md5(i::VARCHAR || ':' || user_id::VARCHAR) AS h
           FROM uc, range(0, 4) r(i)),
    cells AS (SELECT user_id, cnt, i, ({_HEX12}) % 256 AS cell FROM hh),
    sk AS (SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS cell_cnt
           FROM cells GROUP BY 1, 2)
    SELECT c.user_id, c.cnt AS exact_cnt, min(sk.cell_cnt) AS est_cnt
    FROM cells c JOIN sk ON c.i = sk.i AND c.cell = sk.cell
    WHERE c.user_id < 10
    GROUP BY c.user_id, c.cnt
    """,
)
def q_events_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256, md5-seeded rows) over event
    counts per user, probed for users 0-9 against the exact counts — the
    mergeable frequency sketch that answers point queries in O(d) from
    d·w counters regardless of key cardinality (est ≥ exact always; the
    overestimate is the collision mass).

    Unlike HLL (`q_approx_distinct`, rows-only by design), this sketch
    is built from md5 — engine-portable bit-for-bit, so the oracle
    replays the full build+probe and the driver hash-checks the
    ESTIMATES, not just row counts.

    Scale: per-user counts aggregate first (one shuffle), so the sketch
    build explodes d rows per DISTINCT user, not per event; the sketch
    itself is d·w = 1024 rows — broadcast to the probe join. On a real
    cluster the sketch is the partial+final mergeable summary whose
    merged size is constant no matter how many executors feed it."""
    uc = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )

    def cell(i: int):
        h = F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("user_id").cast("string")))
        return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % 256

    cells = uc.select(
        "user_id",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), cell(i).alias("cell"))
                    for i in range(4)
                ]
            )
        ).alias("x"),
    ).select("user_id", "cnt", F.col("x.i").alias("i"), F.col("x.cell").alias("cell"))
    sk = cells.groupBy("i", "cell").agg(F.sum("cnt").alias("cell_cnt"))
    probe = cells.filter(F.col("user_id") < 10)
    return (
        probe.join(F.broadcast(sk), ["i", "cell"])
        .groupBy("user_id", F.col("cnt").alias("exact_cnt"))
        .agg(F.min("cell_cnt").alias("est_cnt"))
    )


@query(
    "q_events_trend",
    oracle="""
    WITH hc AS (SELECT event_type,
                       date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                                 date_trunc('hour', ts)) AS x,
                       count(*) AS y
                FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, count(*) AS n,
                 sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(x::HUGEINT * y) AS sxy,
                 sum(x::HUGEINT * x) AS sxx
          FROM hc GROUP BY 1)
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
             AS slope
    FROM m
    """,
)
def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of hourly event volume: the OLS slope
    (events/hour drift) computed from INTEGER moments — x is the hour
    index from a fixed origin, y the hourly count, and slope =
    (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) divides two exact bigints in one IEEE
    operation. No avg/covariance FP accumulation anywhere, so the only
    cross-engine surface is a single identical division (built-in
    regr_slope would sum doubles in engine-specific order).

    Scale: hourly aggregation shuffle, then a per-type moment
    aggregation over the tiny frame. Round 7: moments and their cross
    products run in DECIMAL(38,0)/HUGEINT — n·Σxy reaches ~1e18 at the
    100 TB point and wraps int64 on longer spans; both engines cast the
    SAME exact integers to double for the one division (round-to-nearest
    is deterministic), so parity is unchanged."""
    hc = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "timestampdiff(HOUR, timestamp'2024-01-01 00:00:00',"
                " date_trunc('hour', ts))"
            ).alias("x"),
        )
        .agg(F.count("*").alias("y"))
    )
    xd = F.col("x").cast("decimal(38,0)")
    m = hc.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "event_type",
        "n",
        (num.cast("double") / den.cast("double")).alias("slope"),
    )


@query(
    "q_events_transitions",
    oracle="""
    WITH s AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev_type
               FROM events),
    c AS (SELECT prev_type, event_type, count(*) AS n
          FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
                      AS tot FROM c)
    SELECT prev_type, event_type, n,
           ((n * 1000000) // tot) / 1000000.0 AS p
    FROM t
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    session order — the sequence-model data-prep shape (what follows
    what, with conditional probabilities).

    Successor pairs come from lag() under the total (ts, event_id)
    order; probabilities are (n·10⁶ div total)/10⁶ — integer division
    then an exact dyadic-free but identical double, so every cell is
    bit-equal across engines.

    Scale: one window shuffle on user_id (pair extraction), one pair
    aggregation; the probability normalization is a window over the
    |types|² aggregated frame."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    c = (
        s.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w_tot = Window.partitionBy("prev_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        c.withColumn("tot", F.sum("n").over(w_tot))
        .select(
            "prev_type",
            "event_type",
            "n",
            (F.expr("(n * 1000000) div tot") / 1000000.0).alias("p"),
        )
    )


@query(
    "q_events_json_props",
    oracle="""
    SELECT event_type, count(*) AS n, round(avg(value), 2) AS avg_value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    GROUP BY event_type
    """,
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON member extraction + typed filter (the §2.10 ->> surface)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.get_json_object("props", "$.k").cast("int") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 2).alias("avg_value"))
    )


@query(
    "q_events_last_order_asof",
    oracle="""
    WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
               FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, r.o_orderkey AS last_orderkey,
           r.o_orderdate AS last_orderdate
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def q_events_last_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-merge-scan composition — Spark has no native asof):
    each event paired with the customer's newest order at-or-before it.
    Oracle is DuckDB's native ASOF LEFT JOIN."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))  # unique per (key, time)
    )
    joined = asof_join(
        ev, orders,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
    )
    return joined.select(
        "event_id", "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )


@query(
    "q_events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) v_ts FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) c_ts FROM events e
          JOIN v ON v.user_id = e.user_id AND e.ts >= v.v_ts
          WHERE e.event_type = 'click' GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) p_ts FROM events e
          JOIN c ON c.user_id = e.user_id AND e.ts >= c.c_ts
          WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT 1 AS stage, 'view' AS stage_name, count(*)::BIGINT AS users FROM v
    UNION ALL
    SELECT 2, 'click', count(*)::BIGINT FROM c
    UNION ALL
    SELECT 3, 'purchase', count(*)::BIGINT FROM p
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click-after-view →
    purchase-after-click): per-user stage timestamps chained through
    min-after-predecessor aggregations, then stage-level user counts.

    Scale (r16 restructure, guide §2.4): the old three-aggregation /
    two-join chain ran three events scans + three aggregate exchanges +
    two joins per invocation (stage subtrees cannot share — each stage's
    scan filters a different event_type). The stage timestamps are now
    three chained whole-partition windows over ONE user_id exchange
    (c_ts = min click ts ≥ v_ts inside the same partition, etc. — the
    same min-after-predecessor values), the per-user collapse reuses the
    window's hash partitioning (no new exchange), and the three stage
    counts come from one final aggregate exploded into the 3-row funnel.
    Napkin (§1.3): one pass + one (user_id, type, ts) shuffle ≈ 2× the
    projected bytes, vs the old 3 passes + 3 (smaller) shuffles ≈ 3–4×.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    wu = Window.partitionBy("user_id")
    st = (
        ev.withColumn(
            "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
        )
        .withColumn(
            "c_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("v_ts")),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "p_ts",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("c_ts")),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    per_user = st.groupBy("user_id").agg(
        F.first("v_ts").alias("v_ts"),
        F.first("c_ts").alias("c_ts"),
        F.first("p_ts").alias("p_ts"),
    )
    one = per_user.agg(
        *[
            F.sum(F.when(F.col(c_).isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias(a)
            for c_, a in (("v_ts", "nv"), ("c_ts", "nc"), ("p_ts", "np"))
        ]
    )
    stages = [(1, "view", "nv"), (2, "click", "nc"), (3, "purchase", "np")]
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("stage"),
                        F.lit(nm).alias("stage_name"),
                        F.col(a).alias("users"),
                    )
                    for n, nm, a in stages
                ]
            )
        ).alias("s")
    ).select("s.*")


@query(
    "q_events_retention_cohorts",
    oracle="""
    WITH f AS (SELECT user_id, date_trunc('week', min(ts)) cohort_week
               FROM events GROUP BY 1),
    a AS (SELECT DISTINCT e.user_id, f.cohort_week,
                 (epoch_us(e.ts) - epoch_us(f.cohort_week)) // 604800000000
                 AS week_offset
          FROM events e JOIN f ON f.user_id = e.user_id)
    SELECT cohort_week, week_offset::BIGINT AS week_offset,
           count(*)::BIGINT AS active_users
    FROM a GROUP BY 1, 2
    """,
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by the Monday-aligned week of
    their first event, counted once per (cohort, weeks-since-cohort) they
    were active in. Week offsets are integer µs arithmetic (no calendar
    `datediff` — its boundary semantics differ across engines).

    Scale: one user-keyed aggregation for cohorts, one co-partitioned join
    back to events, and a distinct+count whose key space is
    |users| × |weeks| before the final tiny (cohort, offset) rollup. No
    global window, no skew (user activity is the natural partition key)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_week",
            # CASTs: the ts-unit probe can yield TIMESTAMP_NTZ columns at
            # some SFs; under the catalog's UTC session the cast is a
            # wall-clock identity, and unix_micros needs TIMESTAMP
            F.expr(
                "CAST((unix_micros(CAST(ts AS TIMESTAMP))"
                " - unix_micros(CAST(cohort_week AS TIMESTAMP)))"
                " div 604800000000 AS BIGINT)"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("active_users")
    )


# ---------------------------------------------------------------------------
# LLM-pipeline extensions (§2.11): dedup, text analysis, similarity, media
# ---------------------------------------------------------------------------


@query(
    "dedup_first_event",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: first event per (user, type) key."""
    ev = _t(spark, sf_dir, "events")
    return dedup.exact_dedup(ev, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id")
    )


_SHINGLE_CTE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') s
           FROM t, unnest(range(1, greatest(len(w) - 3, 1))) r(i)
           WHERE len(w) >= 5),
    sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
    shared AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
"""

# The minhash signature pipeline CTEs (8 md5 min-hashes -> ordered
# signature -> 4 band hashes[, -> distinct banding candidates]) shared
# VERBATIM by every minhash-family oracle (dedup_minhash_lsh, the recall
# self-eval, clusters/linkage/golden-record, the leakage-safe split) -
# one definition so a change to num_hashes, band layout, or seed format
# cannot silently fork the replayed pipelines.
_MINHASH_SIG_CTE = """mh AS (SELECT doc_id, i, min(md5(i::VARCHAR || ':' || s)) h
           FROM sh, unnest(range(0, 8)) q(i) GROUP BY doc_id, i),
    sig AS (SELECT doc_id, array_agg(h ORDER BY i) sig FROM mh GROUP BY doc_id),
    band AS (SELECT doc_id, b, md5(sig[2*b+1] || '|' || sig[2*b+2]) bh
             FROM sig, unnest(range(0, 4)) r(b))"""

_MINHASH_CAND_CTE = _MINHASH_SIG_CTE + """,
    cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
             FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)"""


@query(
    "docs_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE ((doc_id % 100) * 61) % 100 <
          CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 ELSE 10 END
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for data mixing: per-language keep
    rates via a Knuth-hash of the id — reproducible across engines and
    runs (RNG-based sampleBy cannot be oracle-checked), shuffle-free."""
    rate = "CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 ELSE 10 END"
    # modular multiplication ((id%100)*61)%100 == (id*2654435761)%100 but
    # cannot overflow BIGINT under ANSI mode at any id (61 = K mod 100,
    # coprime to 100, so the spread is a permutation of id mod 100)
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.expr(f"((doc_id % 100) * 61) % 100 < {rate}"))
        .select("doc_id", "lang")
    )


@query(
    "docs_train_val_test_split",
    oracle="""
    WITH r AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY md5(doc_id::VARCHAR), doc_id) rn,
                      count(*) OVER (PARTITION BY lang) n
               FROM documents)
    SELECT doc_id, lang,
           CASE WHEN rn * 10 <= n * 8 THEN 'train'
                WHEN rn * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 80/10/10 train/val/test split: within each
    language, documents are md5-rank ordered and cut at the 80 % and 90 %
    marks — every engine and every rerun assigns the same document to the
    same split (an RNG split can't be oracle-checked or reproduced).

    The cut is integer (rn·10 vs n·8) — no percent FP anywhere. One
    window shuffle on lang; at 100 TB the same shape runs with a
    composite salt key if a single language dominates (SCALE.md
    temperature-sampling note applies unchanged)."""
    w_rank = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    w_all = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_all))
        .withColumn(
            "split",
            F.when(F.col("rn") * 10 <= F.col("n") * 8, "train")
            .when(F.col("rn") * 10 <= F.col("n") * 9, "val")
            .otherwise("test"),
        )
        .select("doc_id", "lang", "split")
    )


@query(
    "docs_temperature_sample",
    oracle="""
    WITH r AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY md5(doc_id::VARCHAR), doc_id) rn,
                      count(*) OVER (PARTITION BY lang) n
               FROM documents)
    SELECT doc_id, lang FROM r
    WHERE rn <= ceil(floor(pow(n, 0.7) * 1000000000 + 0.5) / 1000000000)
    """,
)
def docs_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (power) sampling for data mixing: each language stratum
    keeps ceil(n^0.7) documents by md5 rank — big strata flatten, small
    strata survive nearly whole (the multilingual-mixture rebalancing
    recipe, α=0.7). Deterministic md5-rank selection (no RNG) and the
    power is snapped to a 1e-9 grid before ceil on both engines, so a pow
    ulp cannot flip the boundary document. One window over the corpus,
    shuffle on lang only."""
    return similarity.md5_rank_take(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "lang",
        "doc_id",
        lambda n: F.ceil(rounding.snap(F.pow(n, F.lit(0.7)), 9)),
    )


@query(
    "docs_weighted_sample",
    oracle=f"""
    WITH u AS (SELECT doc_id, n_chars, md5(doc_id::VARCHAR) AS h
               FROM documents),
    k AS (SELECT doc_id, n_chars,
                 floor(ln((({_HEX12}) + 1) / 281474976710656.0)
                       / n_chars * 1000000000 + 0.5) / 1000000000 AS priority
          FROM u)
    SELECT doc_id, n_chars, priority
    FROM k ORDER BY priority DESC, doc_id LIMIT 100
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    top-100 documents by priority ln(u)/w, u = md5(doc_id)-derived uniform
    in (0,1], w = n_chars — inclusion probability ∝ document length, the
    size-weighted corpus subsample used for data-mixture experiments.

    Determinism: u is the first 12 md5 hex digits (exact bigint in both
    engines) divided by 2^48 (a power of two, so the quotient is EXACT);
    ln is the only cross-engine FP op and the priority snaps to a 1e-9
    grid before ranking, with doc_id as the total-order tiebreak (the
    repo's rounded-rank convention).

    Scale: orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-100 heaps merged on the driver, NO global sort shuffle; the md5
    key derivation is a narrow JVM-side projection."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    priority = rounding.snap(F.log((u + 1) / F.lit(float(16**12))) / F.col("n_chars"), 9)
    return (
        doc.withColumn("priority", priority)
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(100)
    )


@query(
    "docs_contamination_screen",
    oracle=_SHINGLE_CTE
    + """,
    """ + _MINHASH_SIG_CTE + """
    SELECT DISTINCT t.doc_id FROM band t JOIN band bb
      ON t.b = bb.b AND t.bh = bb.bh AND bb.doc_id < 50 AND t.doc_id >= 50
    """,
)
def docs_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination screen: training docs (doc_id >= 50)
    whose minhash band collides with the held-out set (doc_id < 50 as the
    stand-in benchmark) — catches NEAR-dup contamination, not just exact
    copies. Broadcast semi-join on the uniform band-bucket key: the
    standard pre-training decontamination pass."""
    buckets = dedup.minhash_band_buckets(_t(spark, sf_dir, "documents"))
    bench = buckets.filter(F.col("id") < 50).select("band", "bh")
    return (
        buckets.filter(F.col("id") >= 50)
        .join(F.broadcast(bench), ["band", "bh"], "left_semi")
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )


@query(
    "docs_fingerprint",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressing fingerprint (md5 of normalized text)."""
    return text.fingerprint(_t(spark, sf_dir, "documents"))


@query(
    "docs_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(replace(text, ' ', '')) AS n_chars_nospace,
           floor(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS avg_token_len,
           floor(len(list_filter(string_split(text, ' '),
                                 w -> w IN ('the','a','of','and','to'))) * 1.0
                 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS stopword_ratio
    FROM documents
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_t(spark, sf_dir, "documents"))


@query(
    "docs_quality",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             floor(len(list_filter(string_split(text, ' '),
                                   w -> w IN ('the','a','of','and','to'))) * 1.0
                   / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS stopword_ratio
      FROM documents)
    SELECT doc_id,
           floor((0.5 * least(n_tokens / 100.0, 1.0)
                 + 0.5 * least(stopword_ratio * 5.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
    FROM s
    """,
)
def docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_t(spark, sf_dir, "documents"))


@query(
    "docs_quality_quantile_filter",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             floor(len(list_filter(string_split(text, ' '),
                                   w -> w IN ('the','a','of','and','to'))) * 1.0
                   / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS stopword_ratio
      FROM documents),
    q AS (SELECT doc_id,
                 floor((0.5 * least(n_tokens / 100.0, 1.0)
                       + 0.5 * least(stopword_ratio * 5.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
          FROM s),
    r AS (SELECT d.doc_id, d.lang, q.quality,
                 percent_rank() OVER (PARTITION BY d.lang
                                      ORDER BY q.quality, d.doc_id) pct
          FROM documents d JOIN q ON q.doc_id = d.doc_id)
    SELECT doc_id, lang, quality, pct FROM r WHERE pct >= 0.5
    """,
)
def docs_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-language quantile quality filter: keep each language's top
    half by quality score (percent_rank >= 0.5) — the distribution-aware
    upgrade to a global threshold, which over-prunes low-resource
    languages. percent_rank is (rank-1)/(n-1) over a total order
    (grid-snapped quality, doc_id tiebreak), so both engines compute the
    identical rational and the 0.5 cut picks identical rows.

    Scale: one window per language partition — the same single-shuffle
    shape as the z-score and stratified-sample entries; no global sort."""
    docs = _t(spark, sf_dir, "documents")
    q = text.quality_score(docs)
    j = docs.select("doc_id", "lang").join(q, "doc_id")
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return (
        j.withColumn("pct", F.percent_rank().over(w))
        .filter(F.col("pct") >= 0.5)
        .select("doc_id", "lang", "quality", "pct")
    )


@query(
    "docs_lang_id",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))  AS en,
             len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))   AS es,
             len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu'))) AS de,
             len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les')))  AS fr
      FROM documents)
    SELECT doc_id,
           CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es >= de AND es >= fr THEN 'es'
                WHEN de >= fr THEN 'de'
                ELSE 'fr' END AS pred_lang
    FROM c
    """,
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t(spark, sf_dir, "documents"))


@query(
    "docs_zscore_by_lang",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN stddev_samp(n_chars) OVER w IS NULL
                     OR stddev_samp(n_chars) OVER w = 0 THEN NULL
                ELSE floor((n_chars - avg(n_chars) OVER w)
                           / stddev_samp(n_chars) OVER w * 10000 + 0.5) / 10000
           END AS z
    FROM documents
    WINDOW w AS (PARTITION BY lang)
    """,
)
def docs_zscore_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas): per-language length z-score.

    Exercises the §2.9 UDF surface with a window-function oracle."""
    return text.zscore_by_group(_t(spark, sf_dir, "documents"), group_col="lang", value_col="n_chars")


@query(
    "emb_near_dup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
    p AS (SELECT a.vec_id id_a, b.vec_id id_b,
                 list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) c
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, floor(c * 1000000 + 0.5) / 1000000 AS cosine
    FROM p WHERE c > 0.4
    """,
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold: Arrow-batched
    numpy matmul against a broadcast matrix (exact; LSH-bucketed variant is
    the beyond-broadcast path — see operators/similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.4)


@query(
    "docs_bpe_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_ish_token_count(_t(spark, sf_dir, "documents"))


@query(
    "docs_top_bigrams",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') w FROM documents),
    g AS (SELECT array_to_string(w[i:i+1], ' ') ngram
          FROM t, unnest(range(1, len(w))) r(i)
          WHERE len(w) >= 2)
    SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram
    ORDER BY cnt DESC, ngram LIMIT 20
    """,
)
def docs_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams (vocabulary / boilerplate scan)."""
    return text.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


@query(
    "docs_redact_pii",
    # the synthetic corpus has no PII, so both sides graft the SAME
    # deterministic contact line onto each doc before scrubbing — the
    # redaction semantics (3 pattern families, sequential count) get a real
    # value-checked workout instead of a vacuous identity pass
    oracle="""
    WITH d AS (SELECT doc_id,
                      text || ' contact user' || doc_id::VARCHAR ||
                      '@mail.example.com or 10.0.' || (doc_id % 256)::VARCHAR ||
                      '.7 or +1 415 ' || (1000000 + doc_id)::VARCHAR AS text
               FROM documents),
    s1 AS (SELECT doc_id,
                  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) c1,
                  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') t1
           FROM d),
    s2 AS (SELECT doc_id, c1,
                  len(regexp_extract_all(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) c2,
                  regexp_replace(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') t2
           FROM s1),
    s3 AS (SELECT doc_id, c1, c2,
                  len(regexp_extract_all(t2, '\\+[0-9][0-9() -]{6,}[0-9]')) c3,
                  regexp_replace(t2, '\\+[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') t3
           FROM s2)
    SELECT doc_id, t3 AS clean_text, (c1 + c2 + c3)::BIGINT AS n_redactions FROM s3
    """,
)
def docs_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails, IPv4, intl phone numbers) over the corpus with a
    deterministic PII graft so the redaction paths actually fire."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, ' contact user', cast(doc_id AS string),"
            " '@mail.example.com or 10.0.', cast(doc_id % 256 AS string),"
            " '.7 or +1 415 ', cast(1000000 + doc_id AS string))"
        ).alias("text"),
    )
    return text.redact_pii(docs)


@query(
    "docs_pack_sequences",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT doc_id, lang, (doc_id % 4)::INTEGER AS shard,
               len(string_split(text, ' '))::BIGINT AS weight,
               row_number() OVER (PARTITION BY lang, doc_id % 4 ORDER BY doc_id) rn
        FROM documents),
    p(lang, shard, rn, doc_id, weight, seq_id, acc) AS (
        SELECT lang, shard, rn, doc_id, weight, 0::BIGINT, weight FROM d WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.shard, d.rn, d.doc_id, d.weight,
               CASE WHEN p.acc + d.weight > 256 THEN p.seq_id + 1 ELSE p.seq_id END,
               CASE WHEN p.acc + d.weight > 256 THEN d.weight ELSE p.acc + d.weight END
        FROM p JOIN d ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1)
    SELECT doc_id, lang, shard, weight, seq_id FROM p
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (budget 256 tokens) per
    (lang, id-hash shard): the training-batch construction step. The DuckDB
    oracle replays the same greedy recursion with a RECURSIVE CTE."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr("size(split(text, ' '))").cast("long").alias("n_tok")
    )
    return pack.pack_greedy(
        docs, budget=256, weight_col="n_tok", group_col="lang", shards=4
    )


@query(
    "docs_epoch_shuffle",
    oracle="""
    WITH de AS (SELECT doc_id, i AS epoch
                FROM documents, unnest(range(0, 3)) r(i)),
    k AS (SELECT doc_id, epoch,
                 md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) mk
          FROM de),
    s AS (SELECT doc_id, epoch, mk,
                 ('0x' || substring(mk, 1, 8))::BIGINT % 8 AS shard
          FROM k)
    SELECT epoch::BIGINT AS epoch, doc_id, shard,
           (row_number() OVER (PARTITION BY epoch, shard
                               ORDER BY mk, doc_id) - 1)::BIGINT AS pos
    FROM s
    """,
)
def docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle into training shards:
    shard = md5(epoch:id) bucket, pos = md5-rank within (epoch, shard).
    Reproducible data ordering for multi-epoch training without RNG state —
    every worker can recompute its own shard's order from the ids alone.

    Scale: shard-FIRST (hash bucket), order WITHIN shard — the window
    partitions by (epoch, shard) so no global sort exists; one shuffle of
    (16-byte key + id) rows, each shard sorted independently. The md5
    bucket is uniform so shards are balanced regardless of id layout."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    e = docs.select(
        "doc_id", F.explode(F.expr("sequence(0, 2)")).alias("epoch")
    ).select(
        F.col("doc_id"),
        F.col("epoch").cast("long").alias("epoch"),
        F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))).alias("mk"),
    )
    s = e.withColumn(
        "shard", F.expr("CAST(conv(substring(mk, 1, 8), 16, 10) AS BIGINT) % 8")
    )
    w = Window.partitionBy("epoch", "shard").orderBy("mk", "doc_id")
    return s.select(
        "epoch",
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


@query(
    "docs_length_buckets",
    oracle="""
    WITH d AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT n_tok
               FROM documents),
    b AS (SELECT doc_id, n_tok,
                 length(bin(n_tok))::BIGINT AS bucket,
                 doc_id % 4 AS shard
          FROM d),
    r AS (SELECT doc_id, n_tok, bucket, shard,
                 row_number() OVER (PARTITION BY bucket, shard
                                    ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 rn
          FROM b)
    SELECT doc_id, n_tok, bucket, shard,
           (rn // 8)::BIGINT AS batch_id, (rn % 8)::BIGINT AS pos_in_batch
    FROM r
    """,
)
def docs_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch construction: docs grouped into power-of-two
    token-length buckets (bucket = bit-length of n_tok — integer exact, no
    libm log2), md5-shuffled within (bucket, id-shard), and cut into
    fixed-size batches of 8. Minimizes padding waste when batching
    variable-length sequences.

    Scale: like ``pack_greedy``, the window partitions by
    (bucket, shard) — #buckets × #shards independent batchers, one
    grouping shuffle, no global order. Batch ids are per-(bucket, shard),
    which is what a sharded data loader consumes."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tok"),
    )
    b = d.select(
        "doc_id",
        "n_tok",
        F.expr("CAST(length(bin(n_tok)) AS BIGINT)").alias("bucket"),
        F.expr("doc_id % 4").alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("mk"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("mk", "doc_id")
    r = b.withColumn("rn", F.row_number().over(w) - 1)
    return r.select(
        "doc_id",
        "n_tok",
        "bucket",
        "shard",
        F.expr("CAST(rn div 8 AS BIGINT)").alias("batch_id"),
        F.expr("CAST(rn % 8 AS BIGINT)").alias("pos_in_batch"),
    )


@query(
    "docs_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    g AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') gram
          FROM t, unnest(range(1, greatest(len(w), 1))) r(i) WHERE len(w) >= 2),
    c AS (SELECT doc_id, gram, count(*) cnt FROM g GROUP BY 1, 2),
    s AS (SELECT doc_id, max(cnt)::BIGINT best, sum(cnt)::BIGINT total,
                 count(*)::BIGINT nd
          FROM c GROUP BY 1)
    SELECT t.doc_id,
           coalesce(s.total, 0)::BIGINT AS n_ngrams,
           floor(s.best::DOUBLE / s.total * 10000 + 0.5) / 10000 AS top_ngram_frac,
           floor((1::DOUBLE - s.nd::DOUBLE / s.total) * 10000 + 0.5) / 10000 AS dup_ngram_frac
    FROM t LEFT JOIN s USING (doc_id)
    """,
)
def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats (top-/duplicated-bigram fractions) —
    zero-shuffle sorted-array run-length scan per document."""
    return text.repetition_signals(_t(spark, sf_dir, "documents"), n=2)


@query(
    "docs_span_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    ch AS (SELECT doc_id, c AS pos, array_to_string(w[c*8+1:c*8+8], ' ') chunk
           FROM t, unnest(range(0, ceil(len(w) / 8.0)::BIGINT)) r(c)),
    k AS (SELECT doc_id, pos, chunk,
                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) rn
          FROM ch),
    agg AS (SELECT doc_id,
                   string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos) joined,
                   count(*)::BIGINT n_chunks,
                   sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END)::BIGINT n_dropped
            FROM k GROUP BY 1)
    SELECT doc_id,
           CASE WHEN n_dropped > 0 AND (joined IS NULL OR joined = '')
                THEN NULL ELSE coalesce(joined, '') END AS clean_text,
           n_chunks, n_dropped
    FROM agg
    """,
)
def docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span removal (C4 recipe, 8-token windows):
    keep the globally first occurrence of each chunk, reassemble docs."""
    return text.span_dedup(_t(spark, sf_dir, "documents"), window=8)


@query(
    "docs_unigram_logprob",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents),
    v AS (SELECT t, count(*) cnt FROM tok GROUP BY 1),
    tot AS (SELECT sum(cnt)::DOUBLE tot FROM v)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           floor(avg(ln(cnt::DOUBLE / tot)) * 10000 + 0.5) / 10000 AS mean_logprob
    FROM tok JOIN v USING (t) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-estimated unigram LM score per document (mean ln P(token)) —
    the cheap perplexity proxy for quality filtering."""
    return text.unigram_logprob(_t(spark, sf_dir, "documents"))


@query(
    "docs_source_mix",
    oracle="""
    WITH per AS (SELECT source,
                        count(*)::BIGINT n_docs,
                        sum(len(string_split(text, ' ')))::BIGINT n_tokens,
                        avg(floor((0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                            + 0.5 * least(floor(len(list_filter(string_split(text, ' '),
                                  w -> w IN ('the','a','of','and','to'))) * 1.0
                                  / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 * 5.0, 1.0))
                            * 10000 + 0.5) / 10000) mq
                 FROM documents GROUP BY 1),
    tot AS (SELECT sum(sqrt(n_tokens::DOUBLE)) tot_sqrt FROM per)
    SELECT source, n_docs, n_tokens,
           floor(mq * 10000 + 0.5) / 10000 AS mean_quality,
           floor(sqrt(n_tokens::DOUBLE) / tot_sqrt * 1000000 + 0.5) / 1000000 AS mix_weight
    FROM per CROSS JOIN tot
    """,
)
def docs_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report per source: volume, mean quality, sqrt-of-tokens
    sampling weight — the data-mixing planning step of a pretraining run."""
    return text.source_mix(_t(spark, sf_dir, "documents"))


@query(
    "emb_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
    a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) amax FROM e)
    SELECT vec_id,
           CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale,
           '[' || array_to_string(
               CASE WHEN amax = 0 THEN list_transform(v, x -> 0::INTEGER)
                    ELSE list_transform(v, x -> floor(x * 127.0 / amax + 0.5)::INTEGER)
               END, ',') || ']' AS q
    FROM a
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column.

    The catalog entry serializes the int8 vector as its JSON text (both
    sides) because the correctness gate canonicalizes via pandas sort,
    which cannot hash array cells; ``similarity.quantize_int8`` itself
    returns the real array<int> column."""
    q = similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))
    return q.select("vec_id", "scale", F.to_json("q").alias("q"))


@query(
    "docs_winnow_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
    kg AS (SELECT doc_id, [md5(text[i:i+7]) FOR i IN range(1, length(text) - 6)] g FROM t),
    w AS (SELECT doc_id, [list_min(g[j:j+3]) FOR j IN range(1, len(g) - 2)] wins FROM kg),
    fp AS (SELECT doc_id, list_distinct(wins) fps FROM w)
    SELECT doc_id, len(fps) AS n_fps, list_min(fps) AS min_fp FROM fp
    """,
)
def docs_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash window-min) fingerprints, k=8 chars, w=4."""
    return text.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)


@query(
    "dedup_jaccard_pairs",
    oracle=_SHINGLE_CTE
    + """
    SELECT s.id_a, s.id_b, floor(s.c * 1.0 / (x.n + y.n - s.c) * 10000 + 0.5) / 10000 AS jaccard
    FROM shared s JOIN sz x ON s.id_a = x.doc_id JOIN sz y ON s.id_b = y.doc_id
    WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.6
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 5-gram Jaccard (shared-shingle candidates)."""
    pairs = dedup.shingle_jaccard_pairs(_t(spark, sf_dir, "documents"), n=5, threshold=0.6)
    return pairs.select("id_a", "id_b", F.expr(rounding.snap_sql("jaccard", 4)).alias("jaccard"))


@query(
    "dedup_edit_distance_pairs",
    oracle=r"""
    WITH d AS (SELECT doc_id, lang, n_chars,
                      substr(regexp_replace(text, '[^\x20-\x7e]', '', 'g'),
                             1, 80) AS p
               FROM documents),
    b AS (SELECT *, n_chars // 16 AS nb, substr(p, 1, 2) AS pf FROM d),
    bc AS (SELECT lang, nb, pf, count(*) c FROM b GROUP BY 1, 2, 3),
    k AS (SELECT b.* FROM b JOIN bc USING (lang, nb, pf) WHERE bc.c <= 256)
    SELECT a.doc_id AS doc_id1, c.doc_id AS doc_id2,
           CAST(levenshtein(a.p, c.p) AS BIGINT) AS dist
    FROM k a JOIN k c ON a.lang = c.lang AND a.nb = c.nb AND a.pf = c.pf
                     AND a.doc_id < c.doc_id
    WHERE levenshtein(a.p, c.p) <= 8
    """,
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: documents in the same (lang,
    length-bucket) block whose first 80 characters are within Levenshtein
    distance 8 — the string-metric member of the dedup family (exact
    hash / Jaccard / MinHash / SimHash / TF-IDF / semantic), catching
    small in-place edits that shingle methods dilute.

    Portability: Spark's levenshtein counts CHARACTERS, DuckDB's counts
    BYTES — they disagree on any non-ASCII text (measured: 'café' vs
    'cafe' is 1 vs 2). Both sides therefore strip to printable ASCII
    first, where byte == char, making the distance engine-exact. The
    80-char prefix bounds per-pair cost to a constant.

    Scale: blocking on (lang, n_chars DIV 16, first-2-chars) keeps
    comparisons within blocks — one shuffle on the block key. The
    prefix component is the load-bearing candidate cut (measured 30×
    at sf0.1, 100k→3.3k pairs, with ZERO lost matches at any test SF);
    its recall bound — a near-dup whose edit touches the first two
    characters is missed — is the documented trade, like the shingle
    df-cap. Blocks larger than 256 docs are additionally dropped
    entirely (a degenerate block would cost O(c²)). Per-pair work is
    O(80²) cells, embarrassingly parallel within blocks.

    Pair generation is posting-list style (r15; the simhash device):
    ONE groupBy on the block key collects each block's (doc_id, p)
    rows sorted by doc_id, the size filter IS the window count (rows
    per block ≡ list size) and the ≥2 floor (singleton blocks emit no
    pairs either way), and pairs come from chunked anchor explosion
    with levenshtein inline — the previous self-join DUPLICATED the
    whole scan+regex+window subtree into the broadcast build side
    (measured: the 0.55 s window subtree ran twice of the entry's
    1.17 s). The explicit not-null filters on the block keys preserve
    the join's null-drop semantics (NULL never equals NULL; a groupBy
    would otherwise pair NULL-keyed rows)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.substring(
            F.regexp_replace("text", r"[^\x20-\x7e]", ""), 1, 80
        ).alias("p"),
    )
    b = (
        d.withColumn("nb", F.expr("n_chars DIV 16"))
        .withColumn("pf", F.substring("p", 1, 2))
        .filter(
            F.col("lang").isNotNull()
            & F.col("nb").isNotNull()
            & F.col("pf").isNotNull()
        )
    )
    buckets = (
        b.groupBy("lang", "nb", "pf")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "p"))).alias("ds"))
        .filter(F.expr("size(ds) BETWEEN 2 AND 256"))
    )
    # chunked by anchor (bounds per-row memory at O(block), see
    # shingle_jaccard_pairs for why a flat flatten() is fatal); ds is
    # doc_id-sorted so i < j gives doc_id1 < doc_id2 directly
    return (
        buckets.select(
            "ds", F.explode(F.expr("sequence(0, size(ds) - 2)")).alias("i")
        )
        .select(
            F.expr("ds[i]").alias("a"),
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("c"),
        )
        .select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("c.doc_id").alias("doc_id2"),
            F.levenshtein(F.col("a.p"), F.col("c.p")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 8)
    )


@query(
    "dedup_tfidf_cosine_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    tok AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') term
            FROM t, unnest(range(1, greatest(len(w) - 3, 1))) r(i)
            WHERE len(w) >= 5),
    tf AS (SELECT doc_id, term, count(*) tf FROM tok GROUP BY 1, 2),
    nn AS (SELECT count(*) n_docs FROM documents),
    dfreq AS (SELECT term, count(*) df FROM tf GROUP BY 1),
    kept AS (SELECT f.doc_id, f.term,
                    f.tf * ((SELECT n_docs FROM nn) + 1.0) / (d.df + 1.0) w
             FROM tf f JOIN dfreq d USING (term) WHERE d.df <= 100),
    nrm AS (SELECT doc_id, sqrt(sum(w * w)) nr FROM kept GROUP BY 1),
    dt AS (SELECT a.doc_id id_a, b.doc_id id_b, sum(a.w * b.w) dot
           FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    c AS (SELECT id_a, id_b,
                 floor(dot / (na.nr * nb.nr) * 1000000 + 0.5) / 1000000 cosine
          FROM dt JOIN nrm na ON na.doc_id = dt.id_a
                  JOIN nrm nb ON nb.doc_id = dt.id_b)
    SELECT id_a, id_b, cosine FROM c WHERE cosine >= 0.5
    """,
)
def dedup_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted near-dup pairs: TF-IDF cosine over 5-gram terms via capped
    posting lists (the weighted complement to the set-based jaccard entry;
    linear idf keeps every per-term op IEEE-exact across engines)."""
    return dedup.tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"), n=5, threshold=0.5, df_max=100
    )


@query(
    "dedup_minhash_lsh",
    oracle=_SHINGLE_CTE
    + """,
    """ + _MINHASH_CAND_CTE + """
    SELECT c.id_a, c.id_b, floor(s.c * 1.0 / (x.n + y.n - s.c) * 10000 + 0.5) / 10000 AS jaccard
    FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
    JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
    WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands) candidates, verified by exact Jaccard ≥ 0.8.

    The md5-seeded min-hash construction is bit-identical in the DuckDB
    oracle, so the full LSH pipeline (not just the final pairs) is checked."""
    pairs = dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=5, num_hashes=8, bands=4, threshold=0.8
    )
    return pairs.select("id_a", "id_b", F.expr(rounding.snap_sql("jaccard", 4)).alias("jaccard"))


# SimHash oracle: replicates the WHOLE portable pipeline (md5-digit token
# bits → 64 vote sums → hex signature → 4-chunk banding → Hamming verify)
# so the driver hash-checks every stage, not just row counts. The SQL is
# generated from the same (k, r) bit convention as operators.dedup.
_SIMHASH_DIGITS = ", ".join(
    f"strpos('0123456789abcdef', substr(md5(t), {k + 1}, 1)) - 1 AS d{k}" for k in range(16)
)
_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN ((d{b // 4} >> {b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SIMHASH_HEXCH = " || ".join(
    "substr('0123456789abcdef', ("
    + " + ".join(f"CASE WHEN v{4 * k + r} > 0 THEN {1 << r} ELSE 0 END" for r in range(4))
    + ") + 1, 1)"
    for k in range(16)
)
_SIMHASH_HAM = " + ".join(
    f"bit_count(xor(strpos('0123456789abcdef', substr(sa, {k + 1}, 1)) - 1, "
    f"strpos('0123456789abcdef', substr(sb, {k + 1}, 1)) - 1))"
    for k in range(16)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    d AS (SELECT doc_id, {_SIMHASH_DIGITS} FROM tok),
    v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM d GROUP BY doc_id),
    sig AS (SELECT doc_id, {_SIMHASH_HEXCH} AS simhex FROM v),
    ch AS (SELECT doc_id, simhex, c, substr(simhex, c * 4 + 1, 4) AS chk
           FROM sig, unnest(range(0, 4)) r(c)),
    bk AS (SELECT c, chk FROM ch GROUP BY c, chk
           HAVING count(*) BETWEEN 2 AND 10000),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhex AS sa, b.simhex AS sb
             FROM ch a JOIN ch b ON a.c = b.c AND a.chk = b.chk AND a.doc_id < b.doc_id
             JOIN bk ON bk.c = a.c AND bk.chk = a.chk),
    h AS (SELECT id_a, id_b, {_SIMHASH_HAM} AS hamming FROM cand)
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM h WHERE hamming <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups via the engine-portable md5-bit signature.

    The oracle replays token-bit extraction, vote aggregation, signature
    assembly, banding (INCLUDING the 10k hot-bucket cap, ``bk``), and
    Hamming verification bit-for-bit in DuckDB
    (``operators.dedup.simhash64_hex`` docstring has the bit convention).
    """
    return dedup.simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=3)


def _dedup_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, cluster_id, is_canonical) assignment of the
    minhash→LSH→CC chain, shared by every cluster-map consumer."""

    def build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        pairs = dedup.minhash_lsh_pairs(
            docs, n=5, num_hashes=8, bands=4, threshold=0.8
        )
        return cluster.dedup_clusters(docs, pairs).localCheckpoint(eager=True)

    return state.get(spark, "cluster_map", state.corpus_digest(sf_dir), build)


@query(
    "dedup_clusters",
    # same minhash+LSH pipeline as dedup_minhash_lsh, then a RECURSIVE
    # transitive closure over the verified pairs — the oracle checks the
    # whole edges→components→assignment chain, not just the pair list
    oracle="WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + """,
    """ + _MINHASH_CAND_CTE + """,
    pairs AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
              JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    edges AS (SELECT id_a u, id_b v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS via large-star/small-star connected components over
    MinHash+LSH verified pairs: every doc gets a cluster_id (= smallest
    doc_id in its duplicate component; itself when unique) and an
    is_canonical keep/drop flag — the end-to-end corpus-dedup assignment."""
    return _dedup_cluster_map(spark, sf_dir)


@query(
    "dedup_linkage_clusters",
    # multi-signal record linkage: Jaccard pairs (shingle CTE) UNION
    # edit-distance pairs (block CTE), one RECURSIVE transitive closure
    # over the combined edge set — the oracle replays both signals and
    # the closure
    oracle="WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + r""",
    jp AS (SELECT s.id_a, s.id_b
           FROM shared s JOIN sz x ON s.id_a = x.doc_id
                         JOIN sz y ON s.id_b = y.doc_id
           WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.6),
    ld AS (SELECT doc_id, lang, n_chars,
                  substr(regexp_replace(text, '[^\x20-\x7e]', '', 'g'),
                         1, 80) AS p
           FROM documents),
    lb AS (SELECT *, n_chars // 16 AS nb, substr(p, 1, 2) AS pf FROM ld),
    lbc AS (SELECT lang, nb, pf, count(*) c FROM lb GROUP BY 1, 2, 3),
    lk AS (SELECT lb.* FROM lb JOIN lbc USING (lang, nb, pf)
           WHERE lbc.c <= 256),
    ep AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
           FROM lk a JOIN lk c
             ON a.lang = c.lang AND a.nb = c.nb AND a.pf = c.pf
            AND a.doc_id < c.doc_id
           WHERE levenshtein(a.p, c.p) <= 8),
    allp AS (SELECT * FROM jp UNION SELECT * FROM ep),
    edges AS (SELECT id_a u, id_b v FROM allp
              UNION SELECT id_b, id_a FROM allp),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal record linkage: duplicate components over the UNION
    of two independent similarity signals — 5-gram Jaccard pairs (set
    overlap) and blocked edit-distance pairs (string metric) — closed
    transitively into cluster assignments. The entity-resolution shape:
    no single matcher catches every duplicate surface form, so linkage
    systems merge evidence from several and let the transitive closure
    stitch partial matches (A≈B by shingles, B≈C by edits ⇒ {A,B,C}).

    Composes three existing devices unchanged: the Jaccard posting-list
    pipeline, the (lang, length, prefix)-blocked Levenshtein pipeline,
    and the large-star/small-star connected components — demonstrating
    that the dedup framework's edge sources are pluggable.

    Scale: each signal keeps its own candidate bound (df-cap / block
    cap); the union dedupes on (id_a, id_b); components iterate on the
    pair graph only (nodes appearing in ≥1 pair — a small fraction of
    the corpus), and the final assignment broadcast-joins the component
    map back onto the corpus."""
    docs = _t(spark, sf_dir, "documents")
    jp = dedup.shingle_jaccard_pairs(docs, n=5, threshold=0.6).select(
        "id_a", "id_b"
    )
    ep = dedup_edit_distance_pairs(spark, sf_dir).select(
        F.col("doc_id1").alias("id_a"), F.col("doc_id2").alias("id_b")
    )
    edges = jp.unionAll(ep).distinct()
    return cluster.dedup_clusters(docs, edges)


@query(
    "dedup_lsh_recall",
    # LSH quality self-evaluation: ground truth = exact-Jaccard pairs at
    # the same threshold; found = the banded pipeline's verified pairs.
    # Precision is 1.0 by construction (pairs are verified), so the one
    # number that matters is RECALL — pairs whose 8-hash signatures never
    # collide in any of the 4 bands are the misses.
    oracle=_SHINGLE_CTE
    + """,
    truth AS (SELECT s.id_a, s.id_b
              FROM shared s JOIN sz x ON s.id_a = x.doc_id
                            JOIN sz y ON s.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    mh AS (SELECT doc_id, i, min(md5(i::VARCHAR || ':' || s)) h
           FROM sh, unnest(range(0, 8)) q(i) GROUP BY doc_id, i),
    sig AS (SELECT doc_id, array_agg(h ORDER BY i) sig FROM mh
            GROUP BY doc_id),
    band AS (SELECT doc_id, b, md5(sig[2*b+1] || '|' || sig[2*b+2]) bh
             FROM sig, unnest(range(0, 4)) r(b)),
    cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
             FROM band a JOIN band b
               ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
    hit AS (SELECT t.id_a, t.id_b FROM truth t
            JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_found,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(((SELECT count(*) FROM hit) * 10000)
                          // (SELECT count(*) FROM truth) AS BIGINT)
           END AS recall_bp
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall self-evaluation: what fraction of the TRUE near-dup
    pairs (exact 5-gram Jaccard ≥ 0.8 — the expensive all-candidates
    ground truth) does the MinHash(8)+LSH(4 bands) pipeline actually
    find? The quality-measurement leg every approximate-dedup deployment
    needs (the ANN analog is `emb_ivf_recall`): banding trades recall
    for candidate count, and this entry makes the trade measurable —
    recall in exact basis points (integer division, no FP).

    Scale: ground truth reuses the df-capped posting-list pipeline (the
    O(n·df_max) bound); in production it runs on a SAMPLE of the corpus
    while LSH runs on all of it — the entry pins the comparison
    semantics. The hit set is a broadcast-sized semi join of two pair
    lists. MEASURED (r12): the band-curve localization device
    (localCheckpoint truth + scalar n_true) was tried here and made the
    entry ~20 % SLOWER warm at sf0.1 (3.46 s → 4.22 s solo) — the
    checkpoint materialization + count job exceed the cost of simply
    recomputing the truth chain once more for the second (count-only)
    use; the device pays at ≥4 reuses (the band curve), not 2. Kept
    declarative deliberately."""
    docs = _t(spark, sf_dir, "documents")
    truth = dedup.shingle_jaccard_pairs(docs, n=5, threshold=0.8).select(
        "id_a", "id_b"
    )
    found = dedup.minhash_lsh_pairs(
        docs, n=5, num_hashes=8, bands=4, threshold=0.8
    ).select("id_a", "id_b")
    # r15 (guide §2.4): n_true and the hit count come from ONE truth
    # evaluation — a left join against the (unique-keyed) found pairs
    # with a match marker, aggregated as (count(*), count(marker)).
    # The former semi-join + separate truth count evaluated the whole
    # Jaccard posting-list pipeline twice per run (the docstring's
    # localCheckpoint experiment attacked the same double evaluation
    # and lost to materialization cost; the marker join removes the
    # second evaluation without materializing anything).
    marked = truth.join(
        found.withColumn("__f", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return (
        marked.agg(
            F.count("*").alias("n_true"),
            F.count("__f").alias("n_found"),
        )
        .select(
            "n_true",
            "n_found",
            # integer floor division, NOT float-divide-then-cast: DuckDB
            # CAST(double AS BIGINT) ROUNDS while Spark's cast truncates,
            # so a fractional recall (27/28 → 9642.857) would split the
            # engines by one — the band-curve entry hit this; positive
            # ints make DIV ≡ // ≡ floor
            F.when(
                F.col("n_true") > 0,
                F.expr("CAST(n_found * 10000 DIV n_true AS BIGINT)"),
            ).alias("recall_bp"),
        )
    )


@query(
    "emb_dim_stats",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    x AS (SELECT r.i AS dim,
                 CAST(floor(embedding[r.i + 1]::DOUBLE * 1000000 + 0.5)
                      AS BIGINT) AS vq
          FROM e, unnest(range(0, len(embedding))) r(i)),
    a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(vq) AS BIGINT) AS s,
                 CAST(sum(vq * vq) AS BIGINT) AS ss
          FROM x GROUP BY dim)
    SELECT CAST(dim AS BIGINT) AS dim, n,
           floor(CAST(s AS DOUBLE) / n + 0.5) / 1000000.0 AS mean,
           floor((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                 / (CAST(n AS DOUBLE) * n) + 0.5) / 1000000000000.0
             AS variance
    FROM a
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean, population variance per
    coordinate) — the drift/health monitor of an embedding pipeline: a
    collapsed dimension (variance → 0) or shifted mean between corpus
    versions signals encoder or preprocessing regressions before any
    downstream metric moves.

    Coordinates quantize to the 1e-6 grid FIRST, so the sums and the
    variance numerator n·Σx²−(Σx)² are exact integers (the 3σ entry's
    device applied per dimension); each statistic is then one IEEE
    division snapped back to its grid. ss stays under ~6e17 at sf0.1 —
    int64 with headroom; DECIMAL(38) past ~1e9 vectors.

    Scale: posexplode to long form, one |dims|-group aggregation —
    map-side combine reduces each partition to |dims| partials; no
    window, no join, one scan."""
    e = _t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "v")
    )
    x = e.select(
        "dim", rounding.units(F.col("v").cast("double"), 6).cast("long").alias("vq")
    )
    a = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("vq").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    return a.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        (F.floor(F.col("s").cast("double") / F.col("n") + 0.5) / 1000000.0).alias(
            "mean"
        ),
        (
            F.floor(
                (nd * F.col("ss") - F.col("s").cast("double") * F.col("s"))
                / (nd * F.col("n"))
                + 0.5
            )
            / 1000000000000.0
        ).alias("variance"),
    )


@query(
    "docs_curation_pipeline",
    # end-to-end corpus curation: the dedup_clusters CTE chain (minhash →
    # LSH → verify → RECURSIVE components) + fused quality/lang heuristics
    oracle="WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + """,
    """ + _MINHASH_CAND_CTE + """,
    pairs AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
              JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    edges AS (SELECT id_a u, id_b v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    m AS (
      SELECT doc_id,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             floor((0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                   + 0.5 * least(floor(len(list_filter(string_split(text, ' '),
                                       w -> w IN ('the','a','of','and','to'))) * 1.0
                                 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 * 5.0,
                                 1.0)) * 10000 + 0.5) / 10000 AS quality,
             CASE WHEN len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to'))) = 0
                       AND len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que'))) = 0
                       AND len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu'))) = 0
                       AND len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) = 0 THEN 'und'
                  WHEN len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))
                       AND len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu')))
                       AND len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) THEN 'en'
                  WHEN len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu')))
                       AND len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) THEN 'es'
                  WHEN len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) THEN 'de'
                  ELSE 'fr' END AS pred_lang
      FROM documents)
    SELECT m.doc_id, m.pred_lang, m.quality, m.n_tokens
    FROM m LEFT JOIN comp c ON m.doc_id = c.doc_id
    WHERE coalesce(c.cluster_id, m.doc_id) = m.doc_id
      AND m.quality >= 0.5 AND m.pred_lang = 'en'
    """,
)
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation query: keep documents that are (a)
    canonical within their near-dup cluster (MinHash+LSH → connected
    components), (b) quality ≥ 0.5, (c) predicted English.

    Spark shape: the per-document metrics (tokens, quality, language) fuse
    into ONE projection over the parquet scan — no joins between metric
    operators — and the only relational step is the left join against the
    (typically tiny, broadcast) duplicate-component map."""
    docs = _t(spark, sf_dir, "documents")
    assigned = _dedup_cluster_map(spark, sf_dir).filter("is_canonical").select("doc_id")
    metrics = docs.select(
        "doc_id",
        text.lang_pred_expr("text").alias("pred_lang"),
        text.quality_expr("text").alias("quality"),
        text.n_tokens_expr("text").alias("n_tokens"),
    )
    return (
        metrics.join(assigned, "doc_id", "left_semi")
        .filter((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .select("doc_id", "pred_lang", "quality", "n_tokens")
    )


@query(
    "emb_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id nid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id >= 10),
    s AS (SELECT qid, nid,
                 floor(list_dot_product(q.v, c.v)
                       / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                       * 1000000 + 0.5) / 1000000 cosine
          FROM q, c),
    r AS (SELECT qid AS query_id, nid AS neighbor_id, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
          FROM s)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (exact ANN baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10), k=5
    )


# LSH oracle: the hyperplanes are DETERMINISTIC (md5(seed:i:j) bytes →
# float in [-1,1), operators/similarity._hyperplanes), so DuckDB can
# regenerate them bit-for-bit and replay the whole pipeline: plane matrix →
# sign-bit signatures → bucket equi-join → rounded-rank scoring. The md5
# uint64 is rebuilt from the two hex halves as hi/2^31 + lo/2^63 - 1
# (both addends exactly representable, one rounding — identical to
# Python's u/2**63 - 1.0).
_LSH_HI = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {t + 1}, 1)) - 1) * {16 ** (7 - t)}"
    for t in range(8)
)
_LSH_LO = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {t + 9}, 1)) - 1) * {16 ** (7 - t)}"
    for t in range(8)
)


@query(
    "emb_lsh_topk",
    oracle=f"""
    WITH ph AS (SELECT i, j, md5('42:' || i || ':' || j) AS h
                FROM range(0, 8) r1(i), range(0, 64) r2(j)),
    p AS (SELECT i, j,
                 ({_LSH_HI})::DOUBLE / 2147483648.0
                 + ({_LSH_LO})::DOUBLE / 9223372036854775808.0 - 1.0 AS w
          FROM ph),
    pl AS (SELECT i, list(w ORDER BY j) AS wv FROM p GROUP BY i),
    q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id nid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id >= 10),
    qb AS (SELECT qid, CAST(sum(CASE WHEN list_dot_product(q.v, pl.wv) >= 0
                                     THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS bucket
           FROM q, pl GROUP BY qid),
    cb AS (SELECT nid, CAST(sum(CASE WHEN list_dot_product(c.v, pl.wv) >= 0
                                     THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS bucket
           FROM c, pl GROUP BY nid),
    s AS (SELECT q.qid, c.nid,
                 floor(list_dot_product(q.v, c.v)
                       / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                       * 1000000 + 0.5) / 1000000 AS cosine
          FROM qb JOIN cb ON qb.bucket = cb.bucket
          JOIN q ON q.qid = qb.qid JOIN c ON c.nid = cb.nid),
    r AS (SELECT qid AS query_id, nid AS neighbor_id, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
          FROM s)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k, fully oracle-checked.

    Approximate vs brute force, but DETERMINISTIC end-to-end: the oracle
    regenerates the md5-seeded hyperplanes and replays signature, banding,
    and rounded-rank scoring, so the driver hash-checks bucketing and
    scoring — not just row counts."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10), num_planes=8, k=5
    )


@query(
    "emb_rp_reduce",
    oracle=f"""
    WITH ph AS (SELECT i, j, md5('42:' || i || ':' || j) AS h
                FROM range(0, 8) r1(i), range(0, 64) r2(j)),
    p AS (SELECT i, j,
                 ({_LSH_HI})::DOUBLE / 2147483648.0
                 + ({_LSH_LO})::DOUBLE / 9223372036854775808.0 - 1.0 AS w
          FROM ph),
    pl AS (SELECT i, list(w ORDER BY j) AS wv FROM p GROUP BY i),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id, i AS dim_idx,
           floor(list_dot_product(e.v, pl.wv) / sqrt(8.0) * 1000000 + 0.5)
             / 1000000 AS coord
    FROM e, pl
    """,
)
def emb_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→8 (md5-seeded planes,
    seed 42 — the SAME plane family the LSH entries regenerate), long-form
    output (vec_id, dim_idx, coord). The dimensionality-reduction front
    end before clustering/ANN at scale; coords snap to the 1e-6 grid so a
    matmul-vs-sequential summation ulp cannot change a value. The oracle
    regenerates the planes from md5 and replays the projection, so the
    driver hash-checks every coordinate."""
    return similarity.random_projection(
        _t(spark, sf_dir, "embeddings"), dim=64, out_dim=8, seed=42
    ).withColumnRenamed("id", "vec_id")


# Cluster-count sizing: k grows with the corpus so per-cluster work stays
# bounded — k = max(K_MIN, ceil(N / K_TARGET)) keeps the average cluster at
# ~K_TARGET vectors, which caps the SemDeDup per-cluster O((N/k)^2) matmul
# and the applyInPandas group memory REGARDLESS of corpus size (the round-5
# review's scale caution). K_TARGET=64 is the demo-scale value sized to
# this corpus family (500-2k vectors); at the 100 TB design point the same
# rule runs with K_TARGET in the 2048-8192 range (SCALE.md "semantic
# dedup"). K_TARGET is a power of two, so ceil(N / K_TARGET) is exact in
# both engines' arithmetic (binary FP divides by 2^6 exactly).
_K_MIN = 16
_K_TARGET = 64


def _effective_k(n: int) -> int:
    """max(K_MIN, min(ceil(n / K_TARGET), ceil(sqrt(n)))) — mirrored
    verbatim by the oracle's ``ksel`` CTE; the two MUST stay in lockstep.

    The sqrt cap (round-7, from the round-6 Lloyd scale finding) binds
    only above K_TARGET² = 4096 vectors — i.e. never at a tested SF — and
    bounds single-level Lloyd's two scale killers: the assignment matmul
    (N·k·d ≤ N^1.5·d) and the k×dim centroid broadcast (≤ √N·dim
    doubles ≈ 16 MB at N=1e9, d=64). The cost is cluster sizes growing as
    √N instead of staying at K_TARGET, so per-cluster quadratic work
    (SemDeDup) grows N per cluster — at the true 100 TB design point the
    answer is a two-level coarse quantizer (k₁ ≈ k₂ ≈ √k total cells =
    N/K_TARGET, each level's Lloyd trained under this same cap; SCALE.md
    "IVF at 100 TB"), for which this single-level rule is the per-level
    building block.

    ceil(sqrt(n)) via isqrt is integer-exact; DuckDB's ceil(sqrt(n))
    agrees because IEEE sqrt is correctly rounded — for non-squares the
    result can only collide with an integer when n > 2^52, far past any
    count(*) here."""
    n_div = -(-n // _K_TARGET)
    n_sqrt = math.isqrt(n - 1) + 1 if n > 0 else 0
    return max(_K_MIN, min(n_div, n_sqrt))


def _kmeans16(spark: SparkSession, sf_dir: str, kind: str):
    """Session-cached deterministic Lloyd per (corpus, kind); k is sized
    from the corpus via ``_effective_k`` (16 at the driver SFs, 32 at
    sf0.1 — different effective k pinned by tests). The name keeps the
    historical ``16`` as the FLOOR, not the pin.

    The assignment (a coarse quantizer's inverted lists) is checkpointed:
    nine probing entries share it per session, and as a lazy plan each
    would re-run the corpus scan and the numpy assignment per pass."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        df = emb if kind == "full" else emb.filter(F.col("vec_id") >= 10)
        k = _effective_k(df.count())
        assigned, centroids = similarity.kmeans_lloyd(df, k=k, iters=3)
        return assigned.localCheckpoint(eager=True), centroids

    return state.get(spark, "kmeans", (state.corpus_digest(sf_dir), kind), build)


# IVF oracle: the coarse quantizer is similarity.kmeans_lloyd — every step
# deterministic and quantized (md5-ordered init, 1e-4-grid distances with
# cid tiebreak, 1e-6-grid means, empty clusters keep their centroid) — so
# the SQL oracle replays init, all Lloyd iterations, the final assignment,
# the nprobe probe ranking, and candidate scoring as chained CTEs.
def _dist_sql(v: str, cv: str) -> str:
    return (
        f"floor((list_dot_product({v},{v}) - 2*list_dot_product({v},{cv}) "
        f"+ list_dot_product({cv},{cv})) * 10000 + 0.5) / 10000"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"floor(list_dot_product({a},{b}) / (sqrt(list_dot_product({a},{a})) "
        f"* sqrt(list_dot_product({b},{b}))) * 1000000 + 0.5) / 1000000"
    )


def _lloyd_parts(
    corpus_where: str,
    iters: int,
    dim: int,
    vexpr: str = "embedding::DOUBLE[]",
    k_fixed: int | None = None,
    prefix: str = "",
    train_cap: int | None = similarity.TRAIN_CAP,
) -> list[str]:
    """CTE chain replaying kmeans_lloyd over ``embeddings WHERE corpus_where``:
    md5-rank training sample ``{prefix}tr`` → md5-ordered init → ``iters``
    assignment/mean rounds over the sample (1e-4 / 1e-6 grids, cid
    tiebreak, empty clusters keep their centroid) → final assignment of
    the FULL corpus ``{prefix}af(nid, v, bucket)``.

    ``train_cap`` (default similarity.TRAIN_CAP; None disables the cap —
    the SAME convention as ``kmeans_lloyd``, so a value passed to both
    sides always means the same thing) mirrors the Spark side's
    training-sample rule: init and every Lloyd round see only the
    train_cap rows with smallest (md5(nid), nid) — a provable no-op at
    every tested SF (corpora ≤ 2000 rows) that the lockstep test forces
    to bind with a small cap. Seeds are a PREFIX of that sample, so an
    effective k above train_cap is impossible here (the init CTE would
    silently emit only train_cap seeds while ksel reported k); the Spark
    side raises on k > train_cap for exactly this reason — keep any
    k_fixed ≤ train_cap.

    k is NOT baked into the SQL text by default: the ``ksel`` CTE derives
    it from the corpus count with the same max(K_MIN, min(ceil(n/K_TARGET),
    ceil(sqrt(n)))) rule as ``_effective_k``, so ONE static oracle string
    stays value-exact at every SF even though the effective k differs (16
    at sf0.01, 32 at sf0.1; the sqrt cap never binds below 4096 rows).
    ``k_fixed`` pins k instead — for codebook quantizers (PQ) whose size
    is a storage-format constant, not corpus-derived. ``vexpr`` selects
    the clustered vector (e.g. a subvector slice); ``prefix`` namespaces
    every CTE so several Lloyd replays (one per PQ subspace) can chain in
    one WITH."""
    dist = _dist_sql
    p = prefix
    k_sql = str(k_fixed) if k_fixed is not None else f"(SELECT k FROM {p}ksel)"
    parts = [
        f"{p}e AS (SELECT vec_id nid, {vexpr} v FROM embeddings WHERE {corpus_where})",
    ]
    if train_cap is not None:
        parts.append(
            f"{p}tr AS (SELECT nid, v FROM {p}e QUALIFY row_number() OVER "
            f"(ORDER BY md5(nid::VARCHAR), nid) <= {train_cap})"
        )
    trn = f"{p}tr" if train_cap is not None else f"{p}e"
    if k_fixed is None:
        parts.append(
            f"{p}ksel AS (SELECT GREATEST({_K_MIN}, LEAST("
            f"CAST(ceil(count(*) / {_K_TARGET}.0) AS INT), "
            f"CAST(ceil(sqrt(count(*))) AS INT))) AS k FROM {p}e)"
        )
    parts.append(
        f"{p}c0 AS (SELECT cid, cv FROM (SELECT CAST(row_number() OVER "
        f"(ORDER BY md5(nid::VARCHAR), nid) - 1 AS INT) cid, v cv FROM {trn}) "
        f"WHERE cid < {k_sql})"
    )
    for t in range(1, iters + 1):
        prev = f"{p}c{t - 1}"
        parts += [
            f"{p}a{t} AS (SELECT nid, v, cid AS bucket FROM ("
            f"SELECT e.nid, e.v, c.cid, row_number() OVER (PARTITION BY e.nid "
            f"ORDER BY {dist('e.v', 'c.cv')}, c.cid) rn FROM {trn} e, {prev} c) WHERE rn = 1)",
            f"{p}m{t} AS (SELECT bucket, j, floor(avg(v[j]) * 1000000 + 0.5) / 1000000 mx "
            f"FROM {p}a{t}, range(1, {dim + 1}) r(j) GROUP BY bucket, j)",
            f"{p}cl{t} AS (SELECT bucket AS cid, list(mx ORDER BY j) cv FROM {p}m{t} GROUP BY bucket)",
            f"{p}c{t} AS (SELECT p.cid, COALESCE(n.cv, p.cv) cv "
            f"FROM {prev} p LEFT JOIN {p}cl{t} n ON n.cid = p.cid)",
        ]
    parts.append(
        f"{p}af AS (SELECT nid, v, cid AS bucket FROM ("
        f"SELECT e.nid, e.v, c.cid, row_number() OVER (PARTITION BY e.nid "
        f"ORDER BY {dist('e.v', 'c.cv')}, c.cid) rn FROM {p}e e, {p}c{iters} c) WHERE rn = 1)"
    )
    return parts


def _lloyd2_parts(
    iters: int,
    dim: int,
    k2: int,
    src: str = "af",
    prefix: str = "g",
) -> list[str]:
    """Grouped Lloyd CTE chain replaying ``similarity.kmeans_two_level``'s
    level-2 pass over ``src(nid, v, bucket)`` (a level-1 final assignment,
    e.g. ``_lloyd_parts``'s ``af``): an INDEPENDENT Lloyd inside every
    bucket — seeds are each cell's min(k2, |cell|) md5-rank-smallest
    vectors, assignment ranks within (bucket, nid), means group by
    (bucket, cid), empty sub-clusters keep their centroid. Chain after a
    ``_lloyd_parts`` call in one WITH; yields
    ``{prefix}af(cell1, nid, cell2)``. Not yet behind a catalog entry
    (round-7 catalog freeze) — lockstep with the Spark implementation is
    pinned by tests/test_two_level.py."""
    dist = _dist_sql
    p = prefix
    parts = [
        f"{p}c0 AS (SELECT bucket, cid, cv FROM (SELECT bucket, "
        f"CAST(row_number() OVER (PARTITION BY bucket "
        f"ORDER BY md5(nid::VARCHAR), nid) - 1 AS INT) cid, v cv FROM {src}) "
        f"WHERE cid < {k2})",
    ]
    for t in range(1, iters + 1):
        prev = f"{p}c{t - 1}"
        parts += [
            f"{p}a{t} AS (SELECT bucket, nid, v, cid AS c2 FROM ("
            f"SELECT e.bucket, e.nid, e.v, c.cid, row_number() OVER "
            f"(PARTITION BY e.bucket, e.nid ORDER BY {dist('e.v', 'c.cv')}, c.cid) rn "
            f"FROM {src} e JOIN {prev} c ON c.bucket = e.bucket) WHERE rn = 1)",
            f"{p}m{t} AS (SELECT bucket, c2, j, floor(avg(v[j]) * 1000000 + 0.5) / 1000000 mx "
            f"FROM {p}a{t}, range(1, {dim + 1}) r(j) GROUP BY 1, 2, 3)",
            f"{p}cl{t} AS (SELECT bucket, c2 AS cid, list(mx ORDER BY j) cv "
            f"FROM {p}m{t} GROUP BY 1, 2)",
            f"{p}c{t} AS (SELECT p.bucket, p.cid, COALESCE(n.cv, p.cv) cv "
            f"FROM {prev} p LEFT JOIN {p}cl{t} n ON n.bucket = p.bucket AND n.cid = p.cid)",
        ]
    parts.append(
        f"{p}af AS (SELECT bucket AS cell1, nid, cid AS cell2 FROM ("
        f"SELECT e.bucket, e.nid, c.cid, row_number() OVER "
        f"(PARTITION BY e.bucket, e.nid ORDER BY {dist('e.v', 'c.cv')}, c.cid) rn "
        f"FROM {src} e JOIN {p}c{iters} c ON c.bucket = e.bucket) WHERE rn = 1)"
    )
    return parts


def _probe_score_parts(
    nprobe: int, iters: int = 3, tag: str = ""
) -> list[str]:
    """The IVF probe→score CTE pair over the shared q/Lloyd chain —
    ONE rendering used by ``_ivf_cte`` (tag="") and the recall curve's
    tagged triplets, so the probe replay cannot fork."""
    cos = _cos_sql
    return [
        f"pr{tag} AS (SELECT qid, cid AS bucket FROM ("
        "SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid "
        f"ORDER BY {cos('q.v', 'c.cv')} DESC, c.cid) rn FROM q, c{iters} c) WHERE rn <= {nprobe})",
        f"s{tag} AS (SELECT q.qid, af.nid, {cos('q.v', 'af.v')} AS cosine "
        f"FROM pr{tag} JOIN q ON q.qid = pr{tag}.qid JOIN af ON af.bucket = pr{tag}.bucket)",
    ]


def _ivf_cte(iters: int = 3, nprobe: int = 8, dim: int = 64) -> str:
    parts = [
        "q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10)"
    ]
    parts += _lloyd_parts("vec_id >= 10", iters, dim)
    parts += _probe_score_parts(nprobe, iters)
    parts += [
        "r AS (SELECT qid, nid, cosine, row_number() OVER "
        "(PARTITION BY qid ORDER BY cosine DESC, nid) rank FROM s)",
    ]
    return ",\n    ".join(parts)


_IVF_TOPK_SQL = f"""
    WITH {_ivf_cte()}
    SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """


@query("emb_ivf_topk", oracle=_IVF_TOPK_SQL)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probing half the buckets, fully oracle-checked: the coarse
    quantizer is the deterministic ``kmeans_lloyd`` (md5 init, quantized
    distances/means), so DuckDB replays clustering, probe ranking, and
    candidate scoring end-to-end. Full probe ≡ brute force stays pinned by
    tests."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = _kmeans16(spark, sf_dir, "ge10")
    return similarity.ivf_topk(queries, assigned, centroids, k=5, nprobe=8)


@query(
    "emb_ivf_recall",
    oracle=f"""
    WITH {_ivf_cte()},
    bf AS (SELECT qid, nid FROM (
        SELECT q.qid, e.nid, row_number() OVER (PARTITION BY q.qid ORDER BY
            floor(list_dot_product(q.v, e.v)
                  / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
                  * 1000000 + 0.5) / 1000000 DESC, e.nid) rnk
        FROM q, e) WHERE rnk <= 5),
    ap AS (SELECT qid, nid FROM r WHERE rank <= 5),
    hits AS (SELECT bf.qid, bf.nid FROM bf JOIN ap ON ap.qid = bf.qid AND ap.nid = bf.nid)
    SELECT count(*)::DOUBLE / (SELECT count(*) FROM bf) AS recall_at_5,
           count(DISTINCT qid) AS n_queries_with_hits
    FROM hits
    """,
)
def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF probe against brute-force ground truth — the
    self-evaluation loop an ANN deployment runs before trusting an index.
    Oracle-checked end-to-end (deterministic quantizer + deterministic
    rounded-rank ground truth).

    Shape: both sides produce (qid, nid) pairs; recall is |approx ∩ exact|
    / |exact| via an equi-join and one aggregate — no collect.

    r16 (guide §5, verdict item 7): the denominator was a driver-side
    ``exact.count()`` at build time — a second full evaluation of the
    brute-force top-k pipeline per invocation before the timed job even
    started. The marker left join (the r15 dedup_lsh_recall device —
    exact, because approx's (qid, nid) pairs are unique by construction)
    folds numerator and denominator into ONE aggregate over one exact
    evaluation: recall = sum(hit)/count(*), both exact integers, same
    single IEEE division as before."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    exact = similarity.cosine_topk(queries, corpus, k=5).select("query_id", "neighbor_id")
    assigned, centroids = _kmeans16(spark, sf_dir, "ge10")
    approx = similarity.ivf_topk(queries, assigned, centroids, k=5, nprobe=8).select(
        "query_id", "neighbor_id", F.lit(True).alias("__hit")
    )
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return marked.agg(
        (
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)) / F.count("*")
        ).alias("recall_at_5"),
        F.countDistinct(F.when(F.col("__hit"), F.col("query_id"))).alias(
            "n_queries_with_hits"
        ),
    )


@query(
    "emb_lang_centroids",
    oracle="""
    WITH j AS (SELECT d.lang, list_transform(e.embedding, x -> x::DOUBLE) v
               FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    ex AS (SELECT lang, i - 1 AS pos, v[i] AS x
           FROM j, unnest(range(1, len(v) + 1)) r(i))
    SELECT lang, pos::INTEGER AS pos,
           floor(avg(x) * 10000 + 0.5) / 10000 AS mean_val,
           count(*)::BIGINT AS n_vecs
    FROM ex GROUP BY 1, 2
    """,
)
def emb_lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroid (elementwise mean, long form) — the
    drift-monitoring / centroid-routing aggregation; vectors join to their
    documents' language on id."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    j = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select("lang", "embedding")
    return similarity.group_centroids(j, "lang")


_LLOYD_FULL = ",\n    ".join(_lloyd_parts("TRUE", 3, 64))
_SEMDEDUP_SQL = f"""
    WITH {_LLOYD_FULL},
    p AS (SELECT a.nid id_a, b.nid id_b,
                 {_cos_sql('a.v', 'b.v')} AS cosine
          FROM af a JOIN af b ON a.bucket = b.bucket AND a.nid < b.nid),
    d AS (SELECT DISTINCT id_b FROM p WHERE cosine >= 0.38)
    SELECT af.nid AS vec_id, af.bucket, (d.id_b IS NOT NULL) AS is_dup
    FROM af LEFT JOIN d ON d.id_b = af.nid
    """


_CLUSTER_SAMPLE_SQL = f"""
    WITH {_LLOYD_FULL},
    r AS (SELECT nid, bucket,
                 row_number() OVER (PARTITION BY bucket
                                    ORDER BY md5(nid::VARCHAR), nid) rn,
                 count(*) OVER (PARTITION BY bucket) n
          FROM af)
    SELECT nid AS vec_id, bucket FROM r WHERE rn <= ceil(n * 0.25)
    """


@query("emb_cluster_balanced_sample", oracle=_CLUSTER_SAMPLE_SQL)
def emb_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced downsampling: a deterministic 25% of EVERY Lloyd
    cluster (md5-rank selection, ceil keeps ≥1 per cluster) — the
    data-mixture shape that preserves small semantic regions a global
    uniform sample would wash out. Fully oracle-checked via the shared
    Lloyd CTE + the same rank rule."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cluster_balanced_sample(
        emb, frac=0.25, assignment=_kmeans16(spark, sf_dir, "full")
    )


@query("docs_semantic_dedup", oracle=_SEMDEDUP_SQL)
def docs_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (cluster-then-prune, Abbas et al.
    2023): deterministic Lloyd clustering of the embedding space, then
    within-cluster quantized-cosine near-dups flagged, keeping each pair's
    lowest id. Fully oracle-checked: DuckDB replays the Lloyd chain (same
    CTEs as the IVF entries) plus the per-cluster pairwise prune.

    Scale: one bucket shuffle + one per-cluster matmul (cluster size ~N/k
    with k sized to the corpus) + a broadcast dup-id join — never all-pairs
    across clusters. See ``operators/similarity.py:semantic_dedup``."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, threshold=0.38, assignment=_kmeans16(spark, sf_dir, "full")
    )


_EMB_CURATION_SQL = f"""
    WITH {_LLOYD_FULL},
    p AS (SELECT a.nid id_a, b.nid id_b,
                 {_cos_sql('a.v', 'b.v')} AS cosine
          FROM af a JOIN af b ON a.bucket = b.bucket AND a.nid < b.nid),
    d AS (SELECT DISTINCT id_b FROM p WHERE cosine >= 0.38),
    kept AS (SELECT af.nid, af.bucket FROM af
             LEFT JOIN d ON d.id_b = af.nid WHERE d.id_b IS NULL),
    r AS (SELECT nid, bucket,
                 row_number() OVER (PARTITION BY bucket
                                    ORDER BY md5(nid::VARCHAR), nid) rn,
                 count(*) OVER (PARTITION BY bucket) n
          FROM kept)
    SELECT nid AS vec_id, bucket FROM r WHERE rn <= ceil(n * 0.5)
    """


@query("emb_curation_pipeline", oracle=_EMB_CURATION_SQL)
def emb_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding curation: semantic dedup, then a
    cluster-balanced 50% sample of the SURVIVORS — the two-stage shape a
    training-data pipeline runs before tokenization (prune redundancy,
    then rebalance the mixture). The sampler reuses the dedup stage's
    cluster assignment (one k-means, not two), so the whole composition is
    one bucket shuffle + one per-cluster matmul + two windows; the oracle
    chains the shared Lloyd CTE → prune → rank."""
    emb = _t(spark, sf_dir, "embeddings")
    flags = similarity.semantic_dedup(
        emb, threshold=0.38, assignment=_kmeans16(spark, sf_dir, "full")
    )
    kept = flags.filter(~F.col("is_dup")).select("vec_id", "bucket")
    return similarity.md5_rank_take(
        kept, "bucket", "vec_id", lambda n: F.ceil(n * F.lit(0.5))
    )


_HARD_NEG_SQL = f"""
    WITH {_LLOYD_FULL},
    lab AS (SELECT vec_id, label FROM embeddings),
    p AS (SELECT a.nid id_a, la.label label_a, b.nid id_b, lb.label label_b,
                 {_cos_sql('a.v', 'b.v')} AS c
          FROM af a JOIN af b ON a.bucket = b.bucket AND a.nid != b.nid
          JOIN lab la ON la.vec_id = a.nid
          JOIN lab lb ON lb.vec_id = b.nid
          WHERE la.label != lb.label
            AND list_dot_product(a.v, a.v) > 0
            AND list_dot_product(b.v, b.v) > 0),
    r AS (SELECT id_a, label_a, id_b, label_b, c,
                 row_number() OVER (PARTITION BY id_a
                                    ORDER BY c DESC, id_b) rn
          FROM p)
    SELECT id_a AS vec_id, label_a AS label, id_b AS neg_id,
           label_b AS neg_label, c AS cosine
    FROM r WHERE rn = 1
    """


@query("emb_hard_negatives", oracle=_HARD_NEG_SQL)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's
    most-similar different-label neighbor WITHIN its k-means cluster (the
    in-batch-negatives upgrade every embedding-model pipeline needs).
    Reuses the session's shared Lloyd assignment — one clustering feeds
    dedup, sampling, curation, and mining; the oracle chains the same
    Lloyd CTE into a (cosine DESC, id) rank."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, _ = _kmeans16(spark, sf_dir, "full")
    labeled = assigned.join(emb.select("vec_id", "label"), "vec_id")
    return similarity.hard_negatives(labeled)


def _pq_code_parts(m: int = 4, dsub: int = 16, iters: int = 2, k: int = 16) -> list[str]:
    """Shared PQ oracle CTEs: one prefixed Lloyd replay per subspace over
    the corpus subvectors, the exact query subvectors (q: qid, v0..v{m-1},
    plus the full vector v for coarse probing), and the encoded codes."""
    parts: list[str] = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        parts += _lloyd_parts(
            "vec_id >= 10",
            iters,
            dsub,
            vexpr=f"(embedding::DOUBLE[])[{lo}:{hi}]",
            k_fixed=k,
            prefix=f"s{j}_",
        )
    qcols = ", ".join(
        f"(embedding::DOUBLE[])[{j * dsub + 1}:{(j + 1) * dsub}] v{j}"
        for j in range(m)
    )
    parts.append(
        f"q AS (SELECT vec_id qid, embedding::DOUBLE[] v, {qcols} "
        "FROM embeddings WHERE vec_id < 10)"
    )
    code_cols = ", ".join(f"a{j}.bucket b{j}" for j in range(m))
    code_joins = " ".join(
        f"JOIN s{j}_af a{j} ON a{j}.nid = a0.nid" for j in range(1, m)
    )
    parts.append(
        f"codes AS (SELECT a0.nid, {code_cols} FROM s0_af a0 {code_joins})"
    )
    return parts


def _pq_adc_expr(m: int = 4, iters: int = 2) -> tuple[str, str]:
    """(left-associative ADC distance expression, codebook joins) — the
    identical IEEE addition tree the Spark side evaluates."""
    adc = " + ".join(_dist_sql(f"q.v{j}", f"cb{j}.cv") for j in range(m))
    cb_joins = " ".join(
        f"JOIN s{j}_c{iters} cb{j} ON cb{j}.cid = c.b{j}" for j in range(m)
    )
    return adc, cb_joins


def _pq_cte(m: int = 4, dsub: int = 16, iters: int = 2, k: int = 16) -> str:
    """Oracle CTE chain for full-corpus PQ/ADC ranking."""
    parts = _pq_code_parts(m, dsub, iters, k)
    adc, cb_joins = _pq_adc_expr(m, iters)
    parts.append(
        f"s AS (SELECT q.qid, c.nid, {adc} AS adc_dist FROM q, codes c {cb_joins})"
    )
    parts.append(
        "r AS (SELECT qid, nid, adc_dist, row_number() OVER "
        "(PARTITION BY qid ORDER BY adc_dist, nid) rank FROM s)"
    )
    return ",\n    ".join(parts)


_PQ_TOPK_SQL = f"""
    WITH {_pq_cte()}
    SELECT qid AS query_id, nid AS neighbor_id, adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """


def _pq_trained(spark: SparkSession, sf_dir: str):
    """(checkpointed codes, codebooks): trained once per session and
    corpus, then every PQ entry serves its query set from them."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        codes, books = similarity.pq_codebooks_encode(
            emb.filter(F.col("vec_id") >= 10), dim=64, m=4, k=16, iters=2
        )
        return codes.localCheckpoint(eager=True), books

    return state.get(spark, "pq", state.corpus_digest(sf_dir), build)


@query("emb_pq_topk", oracle=_PQ_TOPK_SQL)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (4 subspaces × 16-codeword codebooks,
    asymmetric-distance scoring): the memory-compression tier of the ANN
    family — 2 bytes per vector instead of 256, scored via broadcast
    lookup tables with zero shuffle before the final top-k window. Every
    step is the deterministic Lloyd quantizer, so the oracle replays all
    four subspace clusterings, the encoding, and the ADC ranking.
    Training runs once per (session, corpus) — repeat invocations serve
    from the checkpointed codes (the PQ deployment shape)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        dim=64, m=4, k=16, iters=2, topk=5,
        trained=_pq_trained(spark, sf_dir),
    )


_COARSE_PARTS = ",\n    ".join(_lloyd_parts("vec_id >= 10", 3, 64))
_PQ_PARTS = ",\n    ".join(_pq_code_parts())
_ADC, _CB_JOINS = _pq_adc_expr()

_IVF_PQ_SQL = f"""
    WITH {_COARSE_PARTS},
    {_PQ_PARTS},
    pr AS (SELECT qid, cid AS bucket FROM (
        SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
            ORDER BY {_cos_sql('q.v', 'c.cv')} DESC, c.cid) rn
        FROM q, c3 c) WHERE rn <= 8),
    cand AS (SELECT pr.qid, af.nid FROM pr JOIN af ON af.bucket = pr.bucket),
    s AS (SELECT q.qid, c.nid, {_ADC} AS adc_dist
          FROM cand x JOIN q ON q.qid = x.qid
          JOIN codes c ON c.nid = x.nid {_CB_JOINS}),
    r AS (SELECT qid, nid, adc_dist, row_number() OVER
          (PARTITION BY qid ORDER BY adc_dist, nid) rank FROM s)
    SELECT qid AS query_id, nid AS neighbor_id, adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """


@query("emb_ivf_pq_topk", oracle=_IVF_PQ_SQL)
def emb_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composition (the FAISS-IVFPQ serving shape): coarse-probe
    the 8 nearest buckets, then PQ/ADC-score only those buckets'
    candidates from their 2-byte codes. Reuses BOTH session-shared
    quantizers (one coarse Lloyd, one PQ training, many query sets); the
    oracle chains the coarse Lloyd replay, all four subspace Lloyd
    replays, the probe ranking, and the candidate ADC ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = _kmeans16(spark, sf_dir, "ge10")
    codes, books = _pq_trained(spark, sf_dir)
    return similarity.ivf_pq_topk(
        assigned, centroids, codes, books,
        emb.filter(F.col("vec_id") < 10),
        nprobe=8, topk=5,
    )


def _ivf_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-and-save the IVF store once per (session, corpus); return the
    cached path on repeat calls so probes hit the existing store."""

    def build() -> str:
        assigned, centroids = _kmeans16(spark, sf_dir, "ge10")
        path = state.temp_root("ivf_store_") + "/index"
        similarity.ivf_save(assigned, centroids, path)
        return path

    return state.get(spark, "ivf_store", state.corpus_digest(sf_dir), build)


@query("emb_ivf_store_topk", oracle=_IVF_TOPK_SQL)
def emb_ivf_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SERVING path: build → save as a bucket-partitioned parquet
    store (+ sibling centroid table) → load → probe with the bucket set
    pushed as a static partition filter, so the scan reads only
    nprobe-probed partitions (PartitionFilters pruning — pinned by
    test_similarity_store). Quantizer is the deterministic ``kmeans_lloyd``
    (same as ``emb_ivf_topk``), and parquet round-trips floats exactly, so
    the store path replays the identical Lloyd-CTE oracle — the driver now
    value-checks that save→load→probe changes nothing.

    The store is written ONCE per (session, corpus) and cached — repeat
    invocations probe the existing store, which is the point of the
    serving shape (build offline, probe many); the tempdir is removed at
    interpreter exit instead of leaking one per call."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = _ivf_store_path(spark, sf_dir)
    loaded, cents = similarity.ivf_load(spark, path)
    return similarity.ivf_topk(queries, loaded, cents, k=5, nprobe=8, static_prune=True)


def _stop_stream(spark: SparkSession, name: str) -> None:
    """Stop a leftover active query with this name (re-invocation safety)."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()


def _stream_state_partitions(spark: SparkSession, source_path: str) -> int | None:
    """State-partition count for a drain, derived from the INPUT VOLUME
    instead of the core count (r16, verdict item 3).

    Stateful operators pay a fixed per-partition per-micro-batch cost
    (state store open/commit/snapshot); the partition count is captured
    from ``spark.sql.shuffle.partitions`` at stream start and AQE cannot
    coalesce it. The driver's own 8-vs-32-core r15 data showed the drain
    ANTI-scaling with cores (4.6 s at 8 state partitions vs 9.0 s at 32
    for identical data) — the cost is partition-count-driven, so sizing
    from cores is wrong in both directions. Rule: one state partition
    per ``spark.graft.stream.statePartitionBytes`` of source bytes
    (default 32 MiB of parquet ≈ 100–200 MB of in-memory two-sided join
    state — the guide §2.2 100 MB–1 GB band), CAPPED at the session's
    configured shuffle.partitions — the cluster's configured parallelism
    is never exceeded, it is only left idle when the state provably
    cannot fill it. Returns None (leave the session value alone) when
    the source size is unknowable."""
    try:
        if os.path.isdir(source_path):
            with os.scandir(source_path) as it:
                size = sum(e.stat().st_size for e in it if e.is_file())
        else:
            size = os.path.getsize(source_path)
    except OSError:
        return None
    target = int(
        spark.conf.get("spark.graft.stream.statePartitionBytes", str(32 << 20))
    )
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(sess, -(-size // target)))


def _drain_memory_sink(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    mode: str,
    source_path: str | None = None,
) -> DataFrame:
    """THE drain protocol for every batch-checkable streaming entry, in
    one place so it cannot fork across entries: stop any leftover query
    with the same name (re-invocation safety), run the stream to
    completion into a memory sink with an availableNow trigger under a
    600 s guard (stop-and-raise on timeout), return the sink table.

    When ``source_path`` is given, the stream starts with the
    data-volume-derived state-partition count (see
    ``_stream_state_partitions``) — shuffle.partitions is set for the
    stream START only (captured into the query's state layout) and
    restored immediately after; partition count never changes emitted
    values (hash placement only), which the stream≡batch oracle parity
    pins."""
    _stop_stream(spark, name)
    parts = _stream_state_partitions(spark, source_path) if source_path else None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"{name} drain exceeded 600s")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Structured Streaming entries (§2.8): each runs the stream to completion
# with an availableNow trigger into a memory sink and returns the result —
# so the STREAMING operator (watermark + window state) is what the oracle
# checks, not a batch rewrite.
# ---------------------------------------------------------------------------


@query(
    "stream_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window stream, drained via availableNow."""
    from .streaming.events import hourly_counts_stream, read_events_stream

    return _drain_memory_sink(
        spark,
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "__stream_events_hourly",
        "complete",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "stream_countmin_sketch",
    oracle=f"""
    WITH hh AS (SELECT i, md5(i::VARCHAR || ':' || user_id::VARCHAR) AS h
                FROM events, range(0, 4) r(i)),
    c AS (SELECT i, ({_HEX12}) % 256 AS cell FROM hh)
    SELECT i, cell, count(*) AS cell_cnt FROM c GROUP BY 1, 2
    """,
)
def stream_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built AS A STREAM: each event increments its
    d=4 md5-derived (row, cell) counters via a running streaming
    aggregation; the drained state is bit-identical to the batch sketch
    (`q_events_countmin`'s build) — the MERGEABILITY property that makes
    CMS the streaming frequency summary (counters are sums, so
    micro-batch partials merge associatively; no retraction needed).

    State is d·w = 1024 counters regardless of stream length or key
    cardinality — contrast the per-key state of the session/dedup
    entries. Complete-mode memory sink; no watermark needed because the
    aggregation state cannot grow."""
    from .streaming.events import read_events_stream

    def cell(i: int):
        h = F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("user_id").cast("string")))
        return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % 256

    cells = read_events_stream(spark, sf_dir).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), cell(i).alias("cell"))
                    for i in range(4)
                ]
            )
        ).alias("x")
    ).select("x.i", "x.cell")
    return _drain_memory_sink(
        spark,
        cells.groupBy("i", "cell").agg(F.count("*").alias("cell_cnt")),
        "__stream_countmin",
        "complete",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "stream_hopping_counts",
    # each event belongs to FOUR 1-hour windows sliding every 15 min:
    # starts floor(t/900s)·900s − k·900s, k = 0..3 — replayed in exact
    # integer microseconds (900000000 µs = 15 min)
    oracle="""
    WITH w AS (SELECT event_type,
                      (epoch_us(ts) // 900000000) * 900000000
                        - k * 900000000 AS ws
               FROM events, range(0, 4) r(k))
    SELECT make_timestamp(ws) AS window_start, event_type,
           count(*) AS n
    FROM w GROUP BY 1, 2
    """,
)
def stream_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) window stream: 1-hour windows sliding every
    15 minutes — each event contributes to 4 overlapping windows, the
    smooth-trend/alerting window shape that tumbling windows can't
    express. Spark's window(slide=) materializes the per-event window
    list; state is (open windows × types), 4× the tumbling entry's but
    still watermark-bounded.

    The oracle replays window assignment in exact integer microseconds
    (starts ≡ 0 mod 15 min, epoch-aligned exactly like Spark's window()
    with no startTime offset), so every (window, type, count) cell is
    value-checked."""
    from .streaming.events import read_events_stream

    return _drain_memory_sink(
        spark,
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n"),
        "__stream_hopping",
        "complete",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "stream_hourly_append_closed",
    # append mode emits ONLY watermark-closed windows: the final watermark
    # is max(event time) - 2h (Spark tracks event-time stats at millisecond
    # precision; these hour windows are exact-ms so the truncation cannot
    # flip the comparison), and a window [h, h+1h) is closed iff
    # h + 1h <= watermark. The tail windows of the corpus stay open forever
    # — the semantics this entry exists to pin.
    oracle="""
    WITH m AS (SELECT max(ts) mx FROM events)
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT mx FROM m) - INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
)
def stream_hourly_append_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked windows: each hourly window is emitted
    exactly once, when the watermark passes its end — the sink-friendly
    mode (files/Kafka can't retract), vs the complete-mode entry that
    re-emits the whole result every batch. The drain's no-data final
    micro-batch advances the watermark to max(ts) - 2h and flushes every
    closed window; the corpus-tail windows correctly never appear. State
    size is bounded by open windows only (hours within the watermark
    horizon × event types) — the property that makes append mode the
    indefinitely-running-pipeline choice."""
    from .streaming.events import hourly_counts_stream, read_events_stream

    return _drain_memory_sink(
        spark,
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "__stream_hourly_append",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch programmatic sink: the escape hatch for sinks Spark
    has no connector for (JDBC upserts, REST, multi-table fan-out). Each
    micro-batch overwrites its own `batch_id=<n>` parquet directory — an
    IDEMPOTENT write, so a batch replayed after a failure lands in the
    same place and exactly-once falls out of (checkpointed offsets ×
    idempotent writes). Repeat invocations restart the drain on the SAME
    checkpoint: committed offsets make it a no-op and the sink is
    unchanged — the restart contract this entry exists to pin (also
    pinned by test_entry_caches). The batch aggregate over the sink files
    equals the direct aggregate (the oracle)."""
    from .streaming.events import read_events_stream

    def build() -> tuple[str, str]:
        root = state.temp_root("febatch_sink_")
        return f"{root}/data", f"{root}/ckpt"

    sink, ckpt = state.get(spark, "febatch_sink", state.corpus_digest(sf_dir), build)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("stream_foreachbatch_sink drain exceeded 600s")
    return (
        spark.read.option("basePath", sink)
        .parquet(sink + "/batch_id=*")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "stream_segment_enriched",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_segment_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with a static customer
    dimension (broadcast per micro-batch, stateless — no join state, no
    watermark), aggregated per (segment, event type). The production
    "enrich the stream with reference data" shape the reference's watch
    connection cannot express."""
    from .streaming.events import dim_enriched_agg_stream, read_events_stream

    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return _drain_memory_sink(
        spark,
        dim_enriched_agg_stream(read_events_stream(spark, sf_dir), dim),
        "__stream_seg_enriched",
        "complete",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "stream_sessions_per_user",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
    """,
)
def stream_sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window stream; per-user session counts equal the batch
    gaps-and-islands definition (30-min inactivity gap)."""
    from .streaming.events import read_events_stream, sessionized_stream

    sink = _drain_memory_sink(
        spark,
        sessionized_stream(read_events_stream(spark, sf_dir)),
        "__stream_sessions",
        "complete",
        source_path=f"{sf_dir}/events.parquet",
    )
    return sink.groupBy("user_id").agg(F.count("*").alias("n_sessions"))


@query(
    "stream_user_running_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals; the drained stream's final state must equal the batch
    aggregate. Latest state per user selected for multi-batch robustness."""
    from .streaming.events import read_events_stream
    from .streaming.stateful import running_user_totals

    sink = _drain_memory_sink(
        spark,
        running_user_totals(read_events_stream(spark, sf_dir)),
        "__stream_user_totals",
        "update",
        source_path=f"{sf_dir}/events.parquet",
    )
    latest = sink.groupBy("user_id").agg(
        F.max(F.struct("n_events", "total_value")).alias("s")
    )
    return latest.select("user_id", F.col("s.n_events").alias("n_events"), F.col("s.total_value").alias("total_value"))


@query(
    "stream_deduped_events",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_deduped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark drained via availableNow: the file
    source delivers the whole corpus in one micro-batch, so every duplicate
    key hits live dedup state and exactly one row per (user_id, event_type)
    survives — the batch DISTINCT oracle. Only the key columns are
    projected: which physical row wins is processing-order-dependent (the
    operator keeps the first SEEN, not the earliest event-time), so value
    columns would be nondeterministic."""
    from .streaming.events import deduped_stream, read_events_stream

    sink = _drain_memory_sink(
        spark,
        deduped_stream(read_events_stream(spark, sf_dir))
        .select("user_id", "event_type"),
        "__stream_deduped",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )
    # no final distinct: the comparison against the DISTINCT oracle is the
    # proof that the STREAM deduped (one parquet file → one micro-batch)
    return sink.select("user_id", "event_type")


@query(
    "stream_click_error_join",
    oracle="""
    SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def stream_click_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks ⋈ same-user errors within 10
    minutes after), both sides watermarked so join state evicts past
    watermark + interval; drained via availableNow against the batch-join
    oracle."""
    from .streaming.events import interval_join_stream, read_events_stream

    return _drain_memory_sink(
        spark,
        interval_join_stream(
            read_events_stream(spark, sf_dir), read_events_stream(spark, sf_dir)
        ),
        "__stream_ss_join",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "stream_click_error_left_join",
    # outer rows emit only once the GLOBAL watermark (min of both sides'
    # max event time, minus the 2 h delay) passes the end of the click's
    # 10-min match window; clicks whose window is still open when the
    # stream drains stay in state and never emit — the oracle models that
    # closure rule exactly. Boundary note: a tie (window end equal to the
    # watermark to the microsecond) could flip between engines; none exists
    # in any test corpus (verified at all three SFs) and the comparison
    # operands are µs-exact otherwise.
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    e AS (SELECT * FROM events WHERE event_type = 'error'),
    wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM e))
                  - INTERVAL 2 HOUR AS w),
    j AS (SELECT c.event_id AS click_id, e.event_id AS error_id,
                 c.user_id, c.ts AS cts
          FROM c LEFT JOIN e
            ON c.user_id = e.user_id
           AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE)
    SELECT click_id, error_id, user_id FROM j, wm
    WHERE error_id IS NOT NULL OR cts + INTERVAL 10 MINUTE < wm.w
    """,
)
def stream_click_error_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click paired with
    same-user errors in the next 10 minutes, PLUS a null-error row for
    each click that provably has none — emitted exactly when the
    watermark closes its match window (append mode can't retract, so
    outer rows must wait until no future error can still match). The
    distinct semantic over the inner variant (`stream_click_error_join`)
    is this delayed outer emission, the conversion-failure /
    unanswered-request detector of streaming pipelines.

    The batch oracle replays the closure rule: matched rows are the
    plain interval left-join; unmatched rows survive only if their
    window end predates the final global watermark (min of both sides'
    stream-end watermarks). Drained via availableNow — the no-data
    final micro-batch advances the watermark and flushes every closed
    outer row; corpus-tail clicks correctly never appear.

    Scale: join state holds only rows within watermark + interval of
    the front (both sides evict); outer tracking adds one matched bit
    per buffered left row. Same state bound as the inner join."""
    from .streaming.events import interval_join_stream, read_events_stream

    return _drain_memory_sink(
        spark,
        interval_join_stream(
            read_events_stream(spark, sf_dir),
            read_events_stream(spark, sf_dir),
            how="left_outer",
        ),
        "__stream_ss_ljoin",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )


# ---------------------------------------------------------------------------
# Terraform tables (the reference's own surface, §1.4/§2.10) — DuckDB has no
# terraform views, so the oracles are golden VALUES derived from the fixture
# corpus (tests/fixtures), which exercises all three file kinds end-to-end.
# ---------------------------------------------------------------------------

import pathlib as _pathlib

_TF_FIXTURES = str(_pathlib.Path(__file__).resolve().parents[1] / "tests" / "fixtures")


def _tf_engine(spark: SparkSession):
    from .engine import TerraformEngine

    return TerraformEngine(
        spark,
        config_paths=[f"{_TF_FIXTURES}/config/*.tf"],
        plan_paths=[f"{_TF_FIXTURES}/plan/*.json"],
        state_paths=[f"{_TF_FIXTURES}/state/*.tfstate"],
        cache=False,
    )


@query(
    "tf_resource_count_by_type",
    oracle="""
    SELECT * FROM (VALUES ('aws_instance', 5::BIGINT),
                          ('aws_s3_bucket', 2::BIGINT),
                          ('aws_sqs_queue', 1::BIGINT)) t(type, n)
    """,
)
def tf_resource_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_resource across config+plan+state, aggregated by type.

    The golden oracle pins the full routing matrix: 1 config + 2 plan + 2
    state-instance rows for aws_instance, etc."""
    return (
        _tf_engine(spark)
        .table("terraform_resource")
        .groupBy("type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "tf_resources",
    oracle="""
    SELECT * FROM (VALUES
      ('app_server', 'aws_instance', NULL,      'aws_instance.app_server',    2::BIGINT),
      ('app_server', 'aws_instance', 'managed', 'aws_instance.app_server[0]', NULL::BIGINT),
      ('app_server', 'aws_instance', 'managed', 'aws_instance.app_server[0]', NULL::BIGINT),
      ('app_server', 'aws_instance', 'managed', 'aws_instance.app_server[1]', NULL::BIGINT),
      ('app_server', 'aws_instance', 'managed', 'aws_instance.app_server[1]', NULL::BIGINT),
      ('b',          'aws_s3_bucket', NULL,      'aws_s3_bucket.b',           NULL::BIGINT),
      ('b',          'aws_s3_bucket', 'managed', 'aws_s3_bucket.b',           NULL::BIGINT),
      ('empty',      'aws_sqs_queue', NULL,      'aws_sqs_queue.empty',       NULL::BIGINT)
    ) t(name, type, mode, address, count)
    """,
)
def tf_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship reference query shape (README.md:30-37): resource
    identity columns incl. state index addressing and NullIfZero count."""
    return _tf_engine(spark).table("terraform_resource").select(
        "name", "type", "mode", "address", "count"
    )


@query(
    "tf_outputs",
    oracle="""
    SELECT * FROM (VALUES
      ('bucket_arn', '"${aws_s3_bucket.b.arn}"',      TRUE),
      ('bucket_arn', '"arn:aws:s3:::my-app-bucket"',  NULL::BOOLEAN)
    ) t(name, value, sensitive)
    """,
)
def tf_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_output from config AND state: expression-string values,
    NullIfZero sensitive (state's absent sensitive → NULL)."""
    return _tf_engine(spark).table("terraform_output").select("name", "value", "sensitive")


@query(
    "tf_modules",
    oracle="""
    SELECT * FROM (VALUES
      ('vpc', 'terraform-aws-modules/vpc/aws', '5.0.0',
       '{"cidr":"10.0.0.0/16"}', '"${toset([\\"a\\", \\"b\\"])}"')
    ) t(name, module_source, version, arguments, for_each)
    """,
)
def tf_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_module basic-info shape (docs/tables/terraform_module.md:
    28-36): the ``source`` argument surfaces as ``module_source`` (name-clash
    rename, table_terraform_module.go), non-reserved args collect into the
    canonical-JSON ``arguments`` map, and ``for_each`` round-trips through
    the expression→JSON serializer."""
    return _tf_engine(spark).table("terraform_module").select(
        "name", "module_source", "version", "arguments", "for_each"
    )


@query(
    "tf_variables",
    oracle="""
    SELECT * FROM (VALUES
      ('instance_type', 'string', '"t2.micro"', 'EC2 type', NULL::BOOLEAN)
    ) t(name, type, default_value, description, sensitive)
    """,
)
def tf_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_variable basic-info shape (docs/tables/terraform_variable.md).
    Pins the reference quirk (table_terraform_variable.go:226-233): the
    ``sensitive`` value is type-checked but never assigned, so the column is
    NULL even though the fixture sets ``sensitive = true``."""
    return _tf_engine(spark).table("terraform_variable").select(
        "name", "type", "default_value", "description", "sensitive"
    )


@query(
    "tf_locals",
    oracle="""
    SELECT * FROM (VALUES
      ('owner',       '"team-a"'),
      ('cost_center', '42'),
      ('tags',        '{"env":"dev"}')
    ) t(name, value)
    """,
)
def tf_locals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_local basic-info shape (docs/tables/terraform_local.md:
    22-28): one row per local across multiple ``locals`` blocks, values as
    canonical expression JSON (string/number/object)."""
    return _tf_engine(spark).table("terraform_local").select("name", "value")


@query(
    "tf_providers",
    oracle="""
    SELECT * FROM (VALUES
      ('aws', NULL::VARCHAR, NULL::VARCHAR, '{"region":"us-west-2"}'),
      ('aws', 'east',        '~> 4.0',      '{"region":"us-east-1"}')
    ) t(name, alias, version, arguments)
    """,
)
def tf_providers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_provider basic-info shape (docs/tables/terraform_provider.md):
    aliased re-declarations stay separate rows; ``alias``/``version`` lift out
    of the body while the rest lands in the ``arguments`` JSON."""
    return _tf_engine(spark).table("terraform_provider").select(
        "name", "alias", "version", "arguments"
    )


@query(
    "tf_data_sources",
    oracle="""
    SELECT * FROM (VALUES
      ('ubuntu', 'aws_ami',
       '{"filter":[{"name":"name","values":["ubuntu/images/*"]},"""
    + """{"name":"virtualization-type","values":["hvm"]}],"most_recent":true}')
    ) t(name, type, arguments)
    """,
)
def tf_data_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terraform_data_source basic-info shape (docs/tables/
    terraform_data_source.md): repeated nested ``filter`` blocks aggregate
    into a JSON array inside ``arguments``."""
    return _tf_engine(spark).table("terraform_data_source").select(
        "name", "type", "arguments"
    )


@query(
    "media_metadata",
    oracle="""
    SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
           (64 + (strlen(text) % 448))::BIGINT AS width,
           (64 + ((strlen(text) * 7) % 448))::BIGINT AS height,
           3::BIGINT AS channels, 'fake/rgb8' AS format
    FROM documents
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → Arrow-batched (stub) decode →
    typed metadata. The oracle reproduces the deterministic stub formula."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.extract_media_metadata(multimodal.documents_as_binary(docs))


@query(
    "media_resize",
    # ASCII corpus: byte stride == char stride, so DuckDB re-derives the
    # every-4th-byte downsample and the stub's dim formulas exactly
    oracle="""
    WITH ch AS (SELECT doc_id, i, substring(text, i::INTEGER, 1) AS c
                FROM documents, unnest(range(1, strlen(text) + 1)) r(i)),
    ds AS (SELECT doc_id, md5(string_agg(c, '' ORDER BY i)) AS resized_md5
           FROM ch WHERE (i - 1) % 4 = 0 GROUP BY doc_id),
    dims AS (SELECT doc_id,
                    (64 + (strlen(text) % 448))::BIGINT AS src_width,
                    (64 + ((strlen(text) * 7) % 448))::BIGINT AS src_height
             FROM documents)
    SELECT d.doc_id, src_width, src_height,
           greatest(1, src_width // 4)::BIGINT AS dst_width,
           greatest(1, src_height // 4)::BIGINT AS dst_height,
           COALESCE(resized_md5, md5('')) AS resized_md5
    FROM dims d LEFT JOIN ds ON ds.doc_id = d.doc_id
    """,
)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage (stub decode → stride-4 nearest-neighbor
    downsample → fingerprint): completes the decode / feature-extract /
    resize / frame-sample quartet. The Spark plumbing (narrow Arrow map,
    fixed-width metadata out, bytes never shuffled) is production-real; a
    codec swap is one function."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.resize_stub(multimodal.documents_as_binary(docs), stride=4)


@query(
    "media_byte_histogram",
    # the corpus is pure ASCII (verified), so ord(char) == byte value and
    # DuckDB can replay the per-byte binning exactly
    oracle="""
    WITH ch AS (SELECT doc_id, ord(substring(text, i, 1)) // 16 AS bin
                FROM documents, unnest(range(1, strlen(text) + 1)) r(i))
    SELECT doc_id, bin::INTEGER AS bin, count(*)::BIGINT AS n
    FROM ch GROUP BY 1, 2
    """,
)
def media_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: 16-bin byte-value histogram per
    payload (sparse long form) — the vectorize stage a production pipeline
    fills with a CLIP/audio embedding, with the histogram keeping the whole
    decode→vectorize path deterministic and driver-checkable."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.byte_histogram_features(multimodal.documents_as_binary(docs))


@query(
    "media_ahash_pairs",
    # pure-ASCII corpus: ord(char) == byte value, so DuckDB replays the
    # stub decode + the v·64 > Σv bit rule exactly
    oracle="""
    WITH d AS (SELECT doc_id, substring(text, 1, 64) AS p
               FROM documents WHERE n_chars >= 64),
    b AS (SELECT doc_id, i, ord(substring(p, i, 1)) AS v
          FROM d, unnest(range(1, 65)) r(i)),
    s AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS tot FROM b GROUP BY 1),
    bits AS (SELECT b.doc_id,
                    string_agg(CASE WHEN v * 64 > tot THEN '1' ELSE '0' END,
                               '' ORDER BY i) AS h
             FROM b JOIN s ON b.doc_id = s.doc_id GROUP BY b.doc_id),
    bc AS (SELECT h, count(*) c FROM bits GROUP BY 1)
    SELECT a.doc_id AS doc_id1, c.doc_id AS doc_id2, a.h AS ahash
    FROM bits a JOIN bits c ON a.h = c.h AND a.doc_id < c.doc_id
    JOIN bc ON bc.h = a.h
    WHERE bc.c <= 64
    """,
)
def media_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over MEDIA payloads: average-hash
    (aHash) collisions — the multimodal member of the dedup family,
    joining the text-side signals (Jaccard / MinHash / SimHash / edit
    distance / semantic). The stub codec grids the first 64 payload
    bytes 8×8 and thresholds each cell against the integer grid mean
    (v·64 > Σv — no FP); payloads with identical brightness structure
    collide on the 64-bit fingerprint even when bytes differ elsewhere.

    The decode+hash step is the inherently-Python media stage
    (Arrow-batched mapInPandas, 64 bits out per payload); everything
    after is relational: hash equality groups with the standard
    deterministic 64-per-bucket cap, pairs within buckets.

    Scale: narrow hash map (no shuffle), then ONE shuffle on the 64-bit
    hash; bucket sizes are bounded by the cap, so pair output is
    O(buckets·cap²) worst case — same bound class as the other blocked
    dedup entries. Hamming-tolerant variants band the 64 bits exactly
    like `dedup_simhash`."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 64)
    h = multimodal.ahash64(multimodal.documents_as_binary(docs))
    wb = Window.partitionBy("ahash")
    k = h.withColumn("c", F.count("*").over(wb)).filter(F.col("c") <= 64)
    a, c = k.alias("a"), k.alias("c")
    return a.join(
        c,
        (F.col("a.ahash") == F.col("c.ahash"))
        & (F.col("a.doc_id") < F.col("c.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_id1"),
        F.col("c.doc_id").alias("doc_id2"),
        F.col("a.ahash").alias("ahash"),
    )


@query(
    "media_frame_sample",
    # the corpus is pure ASCII (verified), so byte-frames == char windows
    # and DuckDB can fingerprint the identical slices
    oracle="""
    SELECT doc_id, i AS frame_idx, md5(substring(text, (i * 256)::INTEGER + 1, 256)) AS frame_md5
    FROM documents, unnest(range(0, (strlen(text) + 255) // 256)) r(i)
    WHERE i % 4 = 0
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over the binary payload (multi-row-per-input
    mapInPandas demux plumbing with a deterministic fake codec)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.sample_frames(
        multimodal.documents_as_binary(docs), every=4, frame_bytes=256
    )


# ---------------------------------------------------------------------------
# Round-6 additions: retrieval, chunking, graph triangles, stream full-outer
# ---------------------------------------------------------------------------


@query(
    "docs_chunk_overlap",
    # DuckDB's w[i:j] slice is 1-based inclusive, so [1+k*15 : k*15+20]
    # is exactly Spark's slice(w, 1+k*15, 20); both clamp at the tail.
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    d AS (SELECT doc_id, w, len(w) dl FROM t),
    n AS (SELECT doc_id, w,
                 CAST(1 + floor((greatest(dl - 20, 0) + 14) / 15) AS BIGINT) nch
          FROM d),
    c AS (SELECT doc_id, k AS chunk_idx, w[1 + k*15 : k*15 + 20] cw
          FROM n, unnest(range(0, nch)) r(k))
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(cw) AS BIGINT) AS n_words,
           md5(array_to_string(cw, ' ')) AS chunk_md5
    FROM c
    """,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: 20-word windows advancing by 15 (5 words of shared
    context), final short chunk kept; md5 of each chunk body value-checks
    the exact boundaries. Zero-shuffle narrow fan-out (split/sequence/
    posexplode/slice) — the text-side front half of an embed-and-index
    pipeline."""
    return text.chunk_overlap(_t(spark, sf_dir, "documents"), size=20, stride=15)


@query(
    "docs_bm25_topk",
    oracle="""
    WITH q(term) AS (SELECT unnest(['dup', 'vector', 'spark'])),
    t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    d AS (SELECT doc_id, CAST(len(w) AS BIGINT) dl, w FROM t),
    sc AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(dl) AS BIGINT) s FROM d),
    tok AS (SELECT doc_id, unnest(w) term FROM d),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
           FROM tok JOIN q USING (term) GROUP BY 1, 2),
    dfr AS (SELECT term, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
    s4 AS (SELECT f.doc_id,
                  CAST((2::HUGEINT * (22::HUGEINT * sc.s * f.tf * (sc.n + 1)) * 10000
                        + ((r.df + 1)::HUGEINT * (10::HUGEINT * f.tf * sc.s
                            + 3::HUGEINT * sc.s + 9::HUGEINT * dd.dl * sc.n)))
                       // (2::HUGEINT * ((r.df + 1)::HUGEINT * (10::HUGEINT * f.tf * sc.s
                            + 3::HUGEINT * sc.s + 9::HUGEINT * dd.dl * sc.n)))
                       AS BIGINT) v
           FROM tf f JOIN dfr r USING (term) JOIN d dd USING (doc_id), sc),
    ps AS (SELECT doc_id, CAST(sum(v) AS BIGINT) score_x1e4 FROM s4 GROUP BY 1)
    SELECT doc_id, score_x1e4,
           CAST(row_number() OVER (ORDER BY score_x1e4 DESC, doc_id) AS BIGINT) AS rank
    FROM ps ORDER BY score_x1e4 DESC, doc_id LIMIT 10
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval for ['dup','vector','spark'] (one rare, two
    common terms), scored all-integer in DECIMAL(38,0)/HUGEINT (see
    operators.text.bm25_topk — the snap product exceeds int64 past sf0.5)
    so the per-term snap and the document-score SUM are bit-identical
    across engines — the ranking can never be reordered by an ulp. The
    isin pushes to the token stream, so only query-term postings
    shuffle."""
    return text.bm25_topk(
        _t(spark, sf_dir, "documents"), query_terms=("dup", "vector", "spark"), k=10
    )


@query(
    "q_part_triangles",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem
                WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
    e AS (SELECT DISTINCT x.p a, y.p b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
    deg AS (SELECT n, count(*) d
            FROM (SELECT a n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
    o AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END src,
                 CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END dst
          FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
    w AS (SELECT x.src c, x.dst v, y.dst u
          FROM o x JOIN o y ON x.src = y.src AND x.dst < y.dst),
    tri AS (SELECT c, v, u FROM w JOIN e ON least(v, u) = e.a AND greatest(v, u) = e.b),
    pc AS (SELECT node, CAST(count(*) AS BIGINT) triangles
           FROM (SELECT c node FROM tri UNION ALL SELECT v FROM tri
                 UNION ALL SELECT u FROM tri) GROUP BY 1)
    SELECT node AS l_partkey, triangles,
           CAST(row_number() OVER (ORDER BY triangles DESC, node) AS BIGINT) AS rank
    FROM pc ORDER BY triangles DESC, node LIMIT 20
    """,
)
def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle count in the 1995 co-order graph (parts
    are adjacent when some order ships both): degree-ordered-orientation
    triangle counting (operators.cluster.triangle_counts) — the classic
    skew-proof distributed graph kernel. All-integer, rank tiebroken on
    the part key; the date slice pushes to the lineitem scan."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("x")
        .join(
            li.alias("y"),
            on=F.expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    tri = cluster.triangle_counts(e)
    topk = tri.orderBy(F.col("triangles").desc(), F.col("node")).limit(20)
    return topk.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("triangles").desc(), F.col("node")))
        .cast("long"),
    ).select(F.col("node").alias("l_partkey"), "triangles", "rank")


@query(
    "stream_click_error_full_join",
    # closure rule for BOTH outer sides: a click's null-error row emits
    # once the global watermark passes its match-window end (cts + 10 min);
    # an error's null-click row emits once the watermark passes its OWN
    # event time (a matching click must satisfy c.ts <= e.ts, and any
    # future click below the watermark is dropped). Same µs-exact boundary
    # caveat as the left-outer entry; no tie exists at any test SF.
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    e AS (SELECT * FROM events WHERE event_type = 'error'),
    wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM e))
                  - INTERVAL 2 HOUR AS w),
    j AS (SELECT c.event_id AS click_id, e.event_id AS error_id,
                 coalesce(c.user_id, e.user_id) AS user_id,
                 c.ts AS cts, e.ts AS ets
          FROM c FULL JOIN e
            ON c.user_id = e.user_id
           AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE)
    SELECT click_id, error_id, user_id FROM j, wm
    WHERE (click_id IS NOT NULL AND error_id IS NOT NULL)
       OR (error_id IS NULL AND cts + INTERVAL 10 MINUTE < wm.w)
       OR (click_id IS NULL AND ets < wm.w)
    """,
)
def stream_click_error_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join family (inner / left_outer / full_outer): matched click-error
    pairs, plus a null-error row per provably-unanswered click AND a
    null-click row per provably-spontaneous error, each emitted exactly
    when the watermark closes the respective side's match window.

    The batch oracle replays both closure rules (left: window end below
    the final global watermark; right: own event time below it — a
    matching click cannot arrive once the watermark passes e.ts because
    the condition requires c.ts <= e.ts). Drained via availableNow; the
    final no-data micro-batch flushes every closed outer row on both
    sides.

    Scale: state bound identical to the inner join (watermark + interval
    eviction on both sides) plus one matched bit per buffered row on
    EACH side — full-outer costs no more state than left-outer here."""
    from .streaming.events import interval_join_stream, read_events_stream

    return _drain_memory_sink(
        spark,
        interval_join_stream(
            read_events_stream(spark, sf_dir),
            read_events_stream(spark, sf_dir),
            how="full_outer",
        ),
        "__stream_ss_fjoin",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "q_session_incident_overlap",
    # session interval = [first event, last event + 30 min linger);
    # incident window = [error ts, +10 min). Overlap duration in exact
    # integer microseconds — no FP anywhere.
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
            FROM g),
    s AS (SELECT user_id, sid, min(ts) AS s_start,
                 max(ts) + INTERVAL 30 MINUTE AS s_end
          FROM sid GROUP BY 1, 2),
    i AS (SELECT event_id AS incident_id, ts AS i_start,
                 ts + INTERVAL 10 MINUTE AS i_end
          FROM events WHERE event_type = 'error')
    SELECT s.user_id, s.s_start, i.incident_id,
           CAST(least(epoch_us(s.s_end), epoch_us(i.i_end))
                - greatest(epoch_us(s.s_start), epoch_us(i.i_start)) AS BIGINT)
             AS overlap_us
    FROM s JOIN i ON s.s_start < i.i_end AND i.i_start < s.s_end
    """,
)
def q_session_incident_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL × INTERVAL overlap join — the both-sides-are-ranges
    generalization of the range-join entry: which error incidents
    (10-minute windows) overlapped ANY user's activity session (first
    event → last event + 30-min linger), with the overlap duration in
    exact integer microseconds. No equi-key exists, so a naive Spark
    join is a BroadcastNestedLoopJoin; operators/rangejoin.py explodes
    both sides into coarse hour buckets, equi-joins, and dedups
    shared-bucket pairs with a FREE filter (keep the pair only in the
    bucket containing the overlap start) instead of a global DISTINCT.

    Scale: both sides shuffle once on the bucket key; fan-out is
    interval_length/bucket copies per row; AQE splits hot buckets."""
    from .operators.rangejoin import range_join_interval_overlap

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sid = (
        ev.withColumn(
            "is_new",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
                    > 1800
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("is_new").over(w))
    )
    sessions = sid.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"),
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("i_end"),
    )
    joined = range_join_interval_overlap(
        sessions, incidents, "s_start", "s_end", "i_start", "i_end",
        bucket_seconds=3600,
    )
    return joined.select(
        "user_id",
        "s_start",
        "incident_id",
        # cast through TIMESTAMP: the source column may be NTZ (this
        # generation) or µs-instant; the session tz offset cancels in the
        # subtraction either way
        F.expr(
            "CAST(least(unix_micros(CAST(s_end AS TIMESTAMP)),"
            " unix_micros(CAST(i_end AS TIMESTAMP)))"
            " - greatest(unix_micros(CAST(s_start AS TIMESTAMP)),"
            " unix_micros(CAST(i_start AS TIMESTAMP))) AS BIGINT)"
        ).alias("overlap_us"),
    )


@query(
    "q_orders_checksum",
    # canonical row text: pipe-joined key/cust/integer-cents/date — every
    # piece renders identically in Spark and DuckDB; 48-bit md5 prefixes
    # sum exactly (DuckDB promotes to HUGEINT, Spark uses DECIMAL(38,0) —
    # good to ~1e23 rows) and ONE final mod 2^61-1 lands in BIGINT
    oracle=f"""
    WITH r AS (SELECT o_orderpriority,
                      md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                                         CAST(o_custkey AS VARCHAR),
                                         CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                                         CAST(o_orderdate AS VARCHAR))) h
               FROM orders),
    v AS (SELECT o_orderpriority, {_HEX12} hv FROM r)
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(hv) % 2305843009213693951 AS BIGINT) AS digest
    FROM v GROUP BY o_orderpriority
    """,
)
def q_orders_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum per priority class — the
    cross-system data-reconciliation primitive (detect divergence between
    two copies of a table WITHOUT moving rows): digest = Σ 48-bit md5
    prefixes of a canonical row serialization, mod 2^61-1. Addition is
    commutative, so the digest is row-order- and partitioning-independent
    and two engines agree bit-for-bit; a single changed row flips it with
    probability 1 - 2^-48 per class.

    Scale: one map-side-combined groupBy on a 5-value key; the sum
    accumulates in DECIMAL(38,0) (exact to ~1e23 rows) with one final
    mod — each partition contributes one partial, nothing collects."""
    o = _t(spark, sf_dir, "orders")
    h = F.expr(
        "CAST(conv(substring(md5(concat_ws('|', CAST(o_orderkey AS STRING), "
        "CAST(o_custkey AS STRING), "
        f"CAST(CAST({rounding.units_sql('o_totalprice', 2)} AS BIGINT) AS STRING), "
        "CAST(o_orderdate AS STRING))), 1, 12), 16, 10) AS DECIMAL(38,0))"
    )
    return (
        o.select("o_orderpriority", h.alias("hv"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("CAST(sum(hv) % 2305843009213693951 AS BIGINT)").alias("digest"),
        )
    )


# k-core oracle: unrolled peeling rounds generated from the same (k, iters)
# as operators.cluster.kcore_peel — round i computes degrees d{i} over edge
# set e{i}, keeps nodes with d >= k, and filters e{i+1} to kept endpoints;
# the report is the final degree set filtered >= k.
def _kcore_parts(k: int, iters: int) -> str:
    parts = []
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT n, count(*) d FROM "
            f"(SELECT a n FROM e{i} UNION ALL SELECT b FROM e{i}) GROUP BY 1)"
        )
        parts.append(f"k{i} AS (SELECT n FROM d{i} WHERE d >= {k})")
        parts.append(
            f"e{i + 1} AS (SELECT a, b FROM e{i} "
            f"WHERE a IN (SELECT n FROM k{i}) AND b IN (SELECT n FROM k{i}))"
        )
    parts.append(
        f"d{iters} AS (SELECT n, count(*) d FROM "
        f"(SELECT a n FROM e{iters} UNION ALL SELECT b FROM e{iters}) GROUP BY 1)"
    )
    return ",\n    ".join(parts)


@query(
    "q_part_kcore",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem
                WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
    e0 AS (SELECT DISTINCT x.p a, y.p b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
    {_kcore_parts(3, 3)}
    SELECT n AS l_partkey, CAST(d AS BIGINT) AS degree
    FROM d3 WHERE d >= 3
    """,
)
def q_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-core of the 1995 part co-order graph by THREE fixed
    peeling rounds (drop degree-<3 nodes, drop their edges, repeat) —
    the dense-subgraph extraction kernel next to the triangle entry;
    fixed rounds keep the oracle an unrolled-CTE replay, the same trade
    as the PageRank entry. Survivors with residual degree, all-integer."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("x")
        .join(
            li.alias("y"),
            on=F.expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    res = cluster.kcore_peel(e, k=3, iters=3)
    return res.select(F.col("node").alias("l_partkey"), "degree")


@query(
    "emb_nearest_centroid_label",
    # integer-exact end to end: quantized coordinates, offset-positive
    # integer-mean centroids (truncation==floor once positive — Spark DIV
    # and DuckDB // agree there and NOT on negatives), integer squared
    # distances, label-tiebroken argmin
    oracle="""
    WITH x AS (SELECT vec_id, label, i - 1 AS pos,
                      CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) xq
               FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
    c AS (SELECT label AS clabel, pos,
                 CAST((sum(xq) + count(*) * 10000000) // count(*) - 10000000 AS BIGINT) cq
          FROM x GROUP BY 1, 2),
    d AS (SELECT x.vec_id, x.label, c.clabel,
                 CAST(sum((x.xq - c.cq) * (x.xq - c.cq)) AS BIGINT) d2
          FROM x JOIN c USING (pos) GROUP BY 1, 2, 3),
    a AS (SELECT vec_id, label, clabel,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn
          FROM d)
    SELECT label, clabel AS assigned, CAST(count(*) AS BIGINT) AS n
    FROM a WHERE rn = 1 GROUP BY 1, 2
    """,
)
def emb_nearest_centroid_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid pseudo-labeling confusion matrix over the labeled
    embeddings — the label-quality audit (off-diagonal mass = label noise
    or entangled classes). All-integer scoring; see
    operators.similarity.nearest_centroid_confusion."""
    return similarity.nearest_centroid_confusion(_t(spark, sf_dir, "embeddings"))


@query(
    "tf_resource_provider_join",
    # golden rows from the fixture corpus: app_server/empty fall back to
    # the type-prefix default provider (alias NULL → the unaliased aws
    # block, no version); b pins ${aws.east} → the aliased block ~> 4.0
    oracle="""
    SELECT * FROM (VALUES
      ('app_server', 'aws_instance',  'aws', NULL,   NULL),
      ('b',          'aws_s3_bucket', 'aws', 'east', '~> 4.0'),
      ('empty',      'aws_sqs_queue', 'aws', NULL,   NULL)
    ) t(name, type, provider_name, provider_alias, provider_version)
    """,
)
def tf_resource_provider_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented HOST-ENGINE query shape over the seven tables
    (reference docs join terraform_resource to terraform_provider to
    audit provider pinning; e.g. docs/tables/terraform_provider.md): each
    CONFIG resource resolved to its provider block — an explicit
    ``${name.alias}`` meta-argument wins, otherwise terraform's default
    rule (the resource type's prefix selects the unaliased block). A
    null-safe equi-join on (name, alias); broadcastable — provider blocks
    are O(files), not O(resources)."""
    eng = _tf_engine(spark)
    res = (
        eng.table("terraform_resource")
        .filter(F.col("path").endswith(".tf"))
        .select(
            "name",
            "type",
            F.coalesce(
                F.regexp_extract("provider", r"^\$\{([A-Za-z0-9_-]+)(\.[A-Za-z0-9_-]+)?\}$", 1),
                F.lit(""),
            ).alias("p_raw"),
            F.regexp_extract("provider", r"^\$\{[A-Za-z0-9_-]+\.([A-Za-z0-9_-]+)\}$", 1).alias("a_raw"),
        )
        .select(
            "name",
            "type",
            F.when(F.col("p_raw") != "", F.col("p_raw"))
            .otherwise(F.split("type", "_")[0])
            .alias("provider_name"),
            F.when(F.col("a_raw") != "", F.col("a_raw")).alias("provider_alias"),
        )
    )
    prov = eng.table("terraform_provider").select(
        F.col("name").alias("provider_name"),
        F.col("alias").alias("provider_alias"),
        F.col("version").alias("provider_version"),
    )
    return res.join(
        F.broadcast(prov),
        on=[
            res["provider_name"] == prov["provider_name"],
            res["provider_alias"].eqNullSafe(prov["provider_alias"]),
        ],
        how="left",
    ).select(
        "name",
        "type",
        res["provider_name"],
        res["provider_alias"],
        "provider_version",
    )


@query(
    "docs_k_anonymity",
    # quasi-identifier classes = (lang, source, 100-char length bucket);
    # a class with fewer than k=5 members re-identifies its documents
    # under linkage attacks — the privacy-audit complement of the
    # PII-redaction entry. The bucket is positive integer division
    # (exact both engines); counts are integers.
    oracle="""
    WITH c AS (SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
                      CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1, 2, 3)
    SELECT lang, source, len_bucket, n, n < 5 AS at_risk FROM c
    """,
)
def docs_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier classes (lang, source,
    100-char length bucket): every equivalence class with its size and an
    at-risk flag (n < k=5 — documents a linkage attack could single
    out). The privacy-governance leg of the curation family, next to PII
    redaction.

    Scale: one map-side-combined groupBy on a low-cardinality composite
    key — class count, not corpus size, crosses the wire; suppression/
    generalization downstream consumes the flagged classes as a
    broadcast."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", "source", F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("at_risk", F.col("n") < 5)
    )


@query(
    "stream_record_highs",
    # emission rule: an event emits iff its value STRICTLY exceeds every
    # same-user value that is earlier under the (ts, event_id) total
    # order — pure comparisons on the stored doubles, no FP arithmetic,
    # so the streamed result is bit-identical to the window replay.
    oracle="""
    WITH w AS (SELECT event_id, user_id, value,
                      max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS pmax
               FROM events)
    SELECT event_id, user_id, value FROM w WHERE pmax IS NULL OR value > pmax
    """,
)
def stream_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user record-high detection — the anomaly/alerting shape of
    keyed stateful streaming: each user's running maximum lives in ONE
    double of keyed state; an event emits only when it STRICTLY beats
    it. Runs on applyInPandasWithState
    (`streaming/stateful.record_breaking_events_awps`), which works on
    every platform Spark runs on.

    Scale: state is 8 bytes per user regardless of event volume; the
    only shuffle is the groupBy(user_id) into the stateful operator."""
    from .streaming.events import read_events_stream
    from .streaming.stateful import record_breaking_events_awps

    return _drain_memory_sink(
        spark,
        record_breaking_events_awps(read_events_stream(spark, sf_dir)),
        "__stream_record_highs",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )


@query(
    "q_events_seasonal_anomaly",
    # the integer 3σ inequality from q_events_anomaly, stratified by
    # HOUR-OF-DAY: each (type, day, hod) cell is tested against the
    # baseline of the SAME clock hour across days — catching the "this
    # 3 AM is weird for a 3 AM" deviations a diurnal cycle hides from
    # (and falsely triggers in) a flat per-type mean.
    oracle="""
    WITH hc AS (SELECT event_type, date_trunc('day', ts) AS day,
                       CAST(hour(ts) AS BIGINT) AS hod, count(*) AS cnt
                FROM events GROUP BY 1, 2, 3),
    st AS (SELECT *, count(*) OVER (PARTITION BY event_type, hod) AS n,
                  sum(cnt) OVER (PARTITION BY event_type, hod) AS s,
                  sum(cnt * cnt) OVER (PARTITION BY event_type, hod) AS ss
           FROM hc)
    SELECT event_type, day, hod, CAST(cnt AS BIGINT) AS cnt
    FROM st
    WHERE (cnt::HUGEINT * n - s) * (cnt::HUGEINT * n - s)
          > 9::HUGEINT * (n::HUGEINT * ss - s::HUGEINT * s)
    """,
)
def q_events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline volume anomaly: (type, day, clock-hour) cells
    deviating >3σ from their OWN hour-of-day's cross-day baseline — the
    diurnal-aware sibling of `q_events_anomaly` (a flat mean both hides
    night-time anomalies and false-alarms every busy afternoon). Same
    all-integer deviation test, stratified partitions.

    Scale: one scan, one map-side-combined (type, day, hod) count, one
    window exchange over the tiny |types×days×24| frame."""
    hc = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("event_type", "hod").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    st = (
        hc.withColumn("n", F.count("*").over(w))
        .withColumn("s", F.sum("cnt").over(w))
        .withColumn("ss", F.sum(F.col("cnt") * F.col("cnt")).over(w))
    )
    # DECIMAL(38,0)/HUGEINT comparison — same int64 headroom note as
    # q_events_anomaly; value-identical at every tested SF
    dev = F.col("cnt").cast("decimal(38,0)") * F.col("n") - F.col("s")
    var_n2 = F.col("n").cast("decimal(38,0)") * F.col("ss") - F.col(
        "s"
    ).cast("decimal(38,0)") * F.col("s")
    return st.filter(dev * dev > 9 * var_n2).select(
        "event_type", "day", "hod", F.col("cnt").cast("long").alias("cnt")
    )


@query(
    "docs_novelty",
    # novelty = fraction of a doc's distinct 5-gram shingles whose FIRST
    # corpus occurrence (min doc_id) is this doc. The Spark side keys
    # shingles by xxhash64 (collision-free at these corpora — same
    # argument as the jaccard entries); min/count are hash-key-invariant
    # under an injective hash, so raw-string DuckDB replays match.
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') s
           FROM t, unnest(range(1, greatest(len(w) - 3, 1))) r(i)
           WHERE len(w) >= 5),
    fo AS (SELECT s, min(doc_id) first_doc FROM sh GROUP BY 1),
    pd AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) n_shingles,
                  CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                       AS BIGINT) n_novel
           FROM sh JOIN fo USING (s) GROUP BY 1)
    SELECT doc_id, n_shingles, n_novel,
           CAST((2 * n_novel * 10000 + n_shingles) // (2 * n_shingles) AS BIGINT)
             AS novelty_x1e4
    FROM pd
    """,
)
def docs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty score: the fraction of each document's
    distinct 5-gram shingles that it INTRODUCES to the corpus (first
    occurrence under doc_id order) — the curriculum/diversity signal
    (late near-duplicates score ~0, genuinely fresh text ~1), the
    per-document complement of the pairwise dedup family. Ratio snapped
    by positive-integer division — bit-exact.

    Scale: one shingle explode + one min-aggregation per shingle key
    (uniform hashed) + one join back on the same key; no pair
    generation at all, so cost is O(corpus shingles), not O(pairs)."""
    sh = dedup._hashed_shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", 5)
    fo = sh.groupBy("h").agg(F.min("id").alias("first_doc"))
    pd_ = (
        sh.join(fo, "h")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return pd_.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_novel",
        F.expr("CAST((2 * n_novel * 10000 + n_shingles) DIV (2 * n_shingles) AS BIGINT)").alias(
            "novelty_x1e4"
        ),
    )


@query(
    "q_join_size_cms_estimate",
    # the optimizer-statistics application of the count-min family: for
    # each md5 row i, Σ_cell skA[i,cell]·skB[i,cell] upper-bounds the
    # true join size Σ_k fA(k)·fB(k) (collisions only ADD mass); min
    # over rows is the classic inner-product estimator. All counters and
    # products are integers; the relative overestimate snaps by
    # positive-integer division.
    oracle=f"""
    WITH fa AS (SELECT user_id AS k, count(*) c FROM events GROUP BY 1),
    fb AS (SELECT o_custkey AS k, count(*) c FROM orders GROUP BY 1),
    ha AS (SELECT k, c, i, md5(i::VARCHAR || ':' || k::VARCHAR) h
           FROM fa, range(0, 4) r(i)),
    hb AS (SELECT k, c, i, md5(i::VARCHAR || ':' || k::VARCHAR) h
           FROM fb, range(0, 4) r(i)),
    ca AS (SELECT i, ({_HEX12}) % 256 AS cell, CAST(sum(c) AS BIGINT) s
           FROM ha GROUP BY 1, 2),
    cb AS (SELECT i, ({_HEX12}) % 256 AS cell, CAST(sum(c) AS BIGINT) s
           FROM hb GROUP BY 1, 2),
    dot AS (SELECT ca.i, sum(ca.s::HUGEINT * cb.s) d
            FROM ca JOIN cb ON ca.i = cb.i AND ca.cell = cb.cell GROUP BY 1),
    est AS (SELECT CAST(min(d) AS BIGINT) e FROM dot),
    ex AS (SELECT CAST(count(*) AS BIGINT) x
           FROM events e JOIN orders o ON e.user_id = o.o_custkey)
    SELECT x AS exact_pairs, e AS est_pairs,
           CAST((2::HUGEINT * (e - x) * 10000 + x) // (2::HUGEINT * x) AS BIGINT)
             AS overest_x1e4
    FROM ex, est
    """,
)
def q_join_size_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches — the
    cost-based-optimizer statistic: |A ⋈ B| on a key is Σ_k fA(k)·fB(k),
    and the per-row dot product of two CMS rows estimates it from d·w
    counters per side WITHOUT scanning either table at planning time
    (min over the d md5 rows; ≥ exact always, collisions only add).
    Checked here against the exact join size with the overestimate in
    basis points — the self-evaluation pattern of `dedup_lsh_recall` /
    `emb_ivf_recall` applied to the sketch family.

    Scale: each side reduces to |distinct keys| frequency rows, then to
    a d·w=1024-counter summary (mergeable sums — partials combine on
    any cluster); the estimate itself touches only the two summaries."""
    ev = _t(spark, sf_dir, "events")
    od = _t(spark, sf_dir, "orders")

    def sketch(freq: DataFrame) -> DataFrame:
        def cell(i: int):
            h = F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("k").cast("string")))
            return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % 256

        return (
            freq.select(
                "k",
                "c",
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(i).alias("i"), cell(i).alias("cell"))
                            for i in range(4)
                        ]
                    )
                ).alias("x"),
            )
            .select(F.col("x.i").alias("i"), F.col("x.cell").alias("cell"), "c")
            .groupBy("i", "cell")
            .agg(F.sum("c").alias("s"))
        )

    fa = ev.groupBy(F.col("user_id").alias("k")).agg(F.count("*").alias("c"))
    fb = od.groupBy(F.col("o_custkey").alias("k")).agg(F.count("*").alias("c"))
    ca, cb = sketch(fa), sketch(fb).withColumnRenamed("s", "s_b")
    # DECIMAL(38,0)/HUGEINT: counter dot products reach Σ(E/w)² ≈ 4e17 at
    # 1e10 events and wrap int64 soon after; the ×2·10⁴ snap multiplier
    # wraps even earlier (~3e8 events) — same trap the BM25 advisory
    # flagged. Value-identical at every tested SF.
    dot = (
        ca.join(cb, ["i", "cell"])
        .groupBy("i")
        .agg(F.sum(F.col("s").cast("decimal(38,0)") * F.col("s_b")).alias("d"))
    )
    est = dot.agg(F.min("d").cast("long").alias("est_pairs"))
    exact = (
        ev.select(F.col("user_id").alias("k"))
        .join(od.select(F.col("o_custkey").alias("k")), "k")
        .agg(F.count("*").cast("long").alias("exact_pairs"))
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_pairs",
            "est_pairs",
            F.expr(
                "CAST((CAST(2 AS DECIMAL(38,0)) * (est_pairs - exact_pairs) * 10000"
                " + exact_pairs) DIV (CAST(2 AS DECIMAL(38,0)) * exact_pairs)"
                " AS BIGINT)"
            ).alias("overest_x1e4"),
        )
    )


@query(
    "dedup_golden_record",
    # survivorship rule on top of the full dedup-cluster chain: per
    # multi-member cluster, majority-vote each attribute with (count
    # DESC, value ASC) tiebreak — the MDM consolidation step, distinct
    # from canonical-ROW selection (is_canonical keeps one row; this
    # synthesizes one record from all members' fields).
    oracle="WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + """,
    """ + _MINHASH_CAND_CTE + """,
    pairs AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
              JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    edges AS (SELECT id_a u, id_b v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    asg AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   d.lang, d.source
            FROM documents d LEFT JOIN comp c USING (doc_id)),
    mem AS (SELECT cluster_id, CAST(count(*) AS BIGINT) n_members
            FROM asg GROUP BY 1 HAVING count(*) > 1),
    lv AS (SELECT cluster_id, lang, count(*) n FROM asg GROUP BY 1, 2),
    lm AS (SELECT cluster_id, lang FROM (
             SELECT *, row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY n DESC, lang) rn FROM lv)
           WHERE rn = 1),
    sv AS (SELECT cluster_id, source, count(*) n FROM asg GROUP BY 1, 2),
    sm AS (SELECT cluster_id, source FROM (
             SELECT *, row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY n DESC, source) rn FROM sv)
           WHERE rn = 1)
    SELECT mem.cluster_id, lm.lang AS golden_lang, sm.source AS golden_source,
           mem.n_members
    FROM mem JOIN lm USING (cluster_id) JOIN sm USING (cluster_id)
    """,
)
def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record consolidation over the duplicate clusters: for every
    multi-member cluster, each attribute is majority-voted across the
    members ((count DESC, value ASC) tiebreak) — the MDM survivorship
    rule that SYNTHESIZES one record per entity, as opposed to
    `dedup_clusters`' is_canonical flag which merely KEEPS one row.

    Scale: the cluster map is the CC output; the votes are two
    map-side-combined groupBys on (cluster, attr) plus one window over
    the (clusters × distinct values) frame — never the raw corpus."""
    docs = _t(spark, sf_dir, "documents")
    asg = _dedup_cluster_map(spark, sf_dir).select("doc_id", "cluster_id")
    attrs = asg.join(docs.select("doc_id", "lang", "source"), "doc_id")
    mem = (
        attrs.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_members"))
        .filter(F.col("n_members") > 1)
    )

    def vote(col: str, out: str) -> DataFrame:
        v = attrs.groupBy("cluster_id", col).agg(F.count("*").alias("n"))
        w = Window.partitionBy("cluster_id").orderBy(F.col("n").desc(), F.col(col))
        return (
            v.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col(col).alias(out))
        )

    return (
        mem.join(vote("lang", "golden_lang"), "cluster_id")
        .join(vote("source", "golden_source"), "cluster_id")
        .select("cluster_id", "golden_lang", "golden_source", "n_members")
    )


@query(
    "docs_leakage_safe_split",
    # split assignment keyed on the duplicate CLUSTER, not the document:
    # near-duplicates of a training doc in the eval split are test-set
    # leakage — every member inherits its cluster's md5 bucket, so a
    # whole near-dup family lands on one side of the fence. 80/10/10 via
    # the md5 bucket of the cluster id (uniform, engine-portable).
    oracle="WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + """,
    """ + _MINHASH_CAND_CTE + """,
    pairs AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
              JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    edges AS (SELECT id_a u, id_b v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    asg AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)),
    bk AS (SELECT doc_id, cluster_id, h,
                  ({_HEX12_CL}) % 10 AS bucket
           FROM (SELECT doc_id, cluster_id, md5(cluster_id::VARCHAR) h FROM asg))
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM bk
    """.replace("{_HEX12_CL}", _HEX12),
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the 80/10/10 assignment hashes
    the duplicate CLUSTER id, so every near-duplicate family lands
    wholly on one side — the fix for the classic evaluation bug where a
    random doc-level split (`docs_train_val_test_split`) puts paraphrases
    of training text into the test set. Reuses the session-cached
    cluster map; the md5-bucket rule is the engine-portable uniform
    hash.

    Scale: one broadcast-sized join against the cluster map + a narrow
    hash projection; no extra shuffles beyond the (cached) CC chain."""
    docs = _t(spark, sf_dir, "documents")
    asg = _dedup_cluster_map(spark, sf_dir).select("doc_id", "cluster_id")
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(cluster_id AS STRING)), 1, 12), 16, 10)"
        " AS BIGINT) % 10"
    )
    return (
        docs.select("doc_id")
        .join(asg, "doc_id")
        .withColumn("bucket", bucket)
        .select(
            "doc_id",
            "cluster_id",
            F.when(F.col("bucket") < 8, "train")
            .when(F.col("bucket") == 8, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


@query(
    "q_user_segment_asof_snapshot",
    # point-in-time (time-travel) read over the SCD2 dimension: the
    # segment row valid at T satisfies valid_from <= T < valid_to (open
    # current rows have NULL valid_to). T = 2024-01-15 12:00 is mid-
    # corpus, so both closed and open intervals are exercised.
    oracle="""
    WITH dt AS (SELECT user_id, date_trunc('day', ts) AS day, event_type,
                       count(*) AS c
                FROM events GROUP BY 1, 2, 3),
    dom AS (SELECT user_id, day, event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, day
                                           ORDER BY c DESC, event_type) rn
              FROM dt) WHERE rn = 1),
    ch AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY day) AS prev
           FROM dom),
    sc AS (SELECT user_id, event_type AS segment, day AS valid_from
           FROM ch WHERE prev IS NULL OR prev <> event_type),
    dim AS (SELECT user_id, segment, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
                     AS valid_to
            FROM sc)
    SELECT user_id, segment, valid_from
    FROM dim
    WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
    """,
)
def q_user_segment_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read (the time-travel query every SCD2
    table exists to answer): each user's segment AS OF 2024-01-15 12:00,
    selected by the half-open validity predicate over the
    `q_user_scd2_segments` build — users whose history starts after T
    correctly have no row.

    Scale: the snapshot filter is a narrow predicate over the collapsed
    dimension (|users × segment-changes| rows), pushable to a
    valid_from-partitioned store; nothing touches raw facts twice."""
    dim = QUERIES["q_user_scd2_segments"](spark, sf_dir)
    t = F.lit("2024-01-15 12:00:00").cast("timestamp")
    return dim.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "segment", "valid_from")


@query(
    "q_orders_cohort_ltv",
    # revenue LTV curve by acquisition cohort: customers cohorted by the
    # month of their FIRST order; revenue accumulated per cohort over
    # month offsets. Month arithmetic is integer (year*12+month) and
    # revenue is integer cents, so the running sums are exact. Spark's
    # trunc() and DuckDB's date_trunc('month') both yield DATE.
    oracle="""
    WITH fo AS (SELECT o_custkey, min(date_trunc('month', o_orderdate)) m0
                FROM orders GROUP BY 1),
    om AS (SELECT o_custkey, date_trunc('month', o_orderdate) m,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) cents
           FROM orders),
    j AS (SELECT fo.m0,
                 (year(om.m) * 12 + month(om.m))
                   - (year(fo.m0) * 12 + month(fo.m0)) AS k,
                 cents
          FROM om JOIN fo USING (o_custkey)),
    g AS (SELECT m0 AS cohort_month, CAST(k AS BIGINT) AS month_k,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(cents) AS BIGINT) AS rev
          FROM j GROUP BY 1, 2)
    SELECT cohort_month, month_k, n_orders,
           CAST(sum(rev) OVER (PARTITION BY cohort_month
                               ORDER BY month_k) AS BIGINT) AS cum_revenue_cents
    FROM g
    """,
)
def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, cohort revenue accumulated across month offsets — the
    acquisition-quality report beside `q_events_retention_cohorts`
    (that one counts users; this one compounds integer-cents revenue).

    Scale: one min-aggregation per customer (map-side combined), one
    equi-join back on the customer key, one (cohort, offset) aggregation,
    and a running window over the tiny cohorts×offsets frame."""
    od = _t(spark, sf_dir, "orders")
    fo = od.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("m0")
    )
    om = od.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.expr(f"CAST({rounding.units_sql('o_totalprice', 2)} AS BIGINT)").alias("cents"),
    )
    j = om.join(fo, "o_custkey").select(
        "m0",
        (
            (F.year("m") * 12 + F.month("m")) - (F.year("m0") * 12 + F.month("m0"))
        ).alias("k"),
        "cents",
    )
    g = (
        j.groupBy(F.col("m0").alias("cohort_month"), F.col("k").cast("long").alias("month_k"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev"),
        )
    )
    w = Window.partitionBy("cohort_month").orderBy("month_k")
    return g.select(
        "cohort_month",
        "month_k",
        "n_orders",
        F.sum("rev").over(w).cast("long").alias("cum_revenue_cents"),
    )


@query(
    "q_events_stickiness",
    # DAU / trailing-7-day-AU stickiness in basis points: both counts are
    # exact distincts over the collapsed (user, day) frame (the window AU
    # via the same ≤7-day fanout as the sliding-distinct entry), and the
    # ratio snaps by positive-integer division — no FP anywhere.
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
                FROM events),
    mx AS (SELECT max(day) AS mxd FROM ud),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    sp AS (SELECT user_id,
                  unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS day
           FROM ud),
    wau AS (SELECT sp.day, CAST(count(DISTINCT sp.user_id) AS BIGINT) AS wau
            FROM sp, mx WHERE sp.day <= mx.mxd GROUP BY sp.day)
    SELECT d.day, d.dau, w.wau,
           CAST((2 * d.dau * 10000 + w.wau) // (2 * w.wau) AS BIGINT)
             AS stickiness_bp
    FROM dau d JOIN wau w USING (day)
    """,
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness: DAU over trailing-7-day active users per
    day, in basis points — the DAU/WAU product-health metric, built from
    two exact distinct counts over the collapsed (user, day) frame (the
    weekly side reuses the sliding-distinct fanout rewrite). A ratio of
    counts, so the integer-division snap makes it bit-exact.

    Scale: identical frame bounds to `q_events_sliding_distinct_users`
    — fanout factor 7 over |users|×|days|, raw events scanned once."""
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    # r16 (guide §2.4): ud was evaluated THREE times (the mx scalar, the
    # dau aggregate, the fanout) — three events scans + distinct
    # exchanges per invocation. Both counts now come from ONE groupBy
    # over the tagged fanout: dau = distinct users among origin rows
    # (posexplode position 0 = the real event day), wau = distinct users
    # over all supporting rows. The old dau⋈wau inner join kept exactly
    # the real event days, i.e. the days with dau > 0 — a filter, so the
    # join and the max-day broadcast vanish with it (real days are ≤ the
    # max real day by construction). One scan, no joins.
    sp = ud.select(
        "user_id",
        F.posexplode(
            F.expr("sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)")
        ).alias("i", "day"),
    )
    g = sp.groupBy("day").agg(
        F.countDistinct(F.when(F.col("i") == 0, F.col("user_id")))
        .cast("long")
        .alias("dau"),
        F.countDistinct("user_id").cast("long").alias("wau"),
    )
    return g.filter(F.col("dau") > 0).select(
        "day",
        "dau",
        "wau",
        F.expr("CAST((2 * dau * 10000 + wau) DIV (2 * wau) AS BIGINT)").alias(
            "stickiness_bp"
        ),
    )


@query(
    "emb_intra_class_outliers",
    # one-sided integer 3σ on the squared-distance-to-own-centroid
    # distribution per label; moment products reach ~1e33, so DuckDB
    # computes them in HUGEINT (int128) and Spark in DECIMAL(38,0) —
    # both exact, compared without any FP.
    oracle="""
    WITH x AS (SELECT vec_id, label, i - 1 AS pos,
                      CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) xq
               FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
    c AS (SELECT label, pos,
                 CAST((sum(xq) + count(*) * 10000000) // count(*) - 10000000
                      AS BIGINT) cq
          FROM x GROUP BY 1, 2),
    d AS (SELECT x.vec_id, x.label,
                 CAST(sum((x.xq - c.cq) * (x.xq - c.cq)) AS BIGINT) d2
          FROM x JOIN c ON c.label = x.label AND c.pos = x.pos
          GROUP BY 1, 2),
    st AS (SELECT *, CAST(count(*) OVER (PARTITION BY label) AS HUGEINT) n,
                  CAST(sum(d2) OVER (PARTITION BY label) AS HUGEINT) s,
                  CAST(sum(CAST(d2 AS HUGEINT) * d2) OVER (PARTITION BY label)
                       AS HUGEINT) ss
           FROM d)
    SELECT vec_id, label, d2
    FROM st
    WHERE CAST(d2 AS HUGEINT) * n - s > 0
      AND (CAST(d2 AS HUGEINT) * n - s) * (CAST(d2 AS HUGEINT) * n - s)
          > 9 * (n * ss - s * s)
    """,
)
def emb_intra_class_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-label mining: vectors whose squared distance to their OWN
    label centroid sits more than 3σ above the class mean — the
    re-annotation candidates before contrastive training (the confusion
    entry asks which class is closest; this asks whether the vector even
    belongs where it is). All-integer; see
    operators.similarity.intra_class_outliers."""
    return similarity.intra_class_outliers(_t(spark, sf_dir, "embeddings"))


@query(
    "docs_lang_confusion",
    # the text-side classifier audit (sibling of emb_nearest_centroid_
    # label): stored language vs the n-gram heuristic's prediction,
    # aggregated to a confusion matrix — off-diagonal mass localizes
    # which languages the stopword lists confuse. Pure integer counts
    # over the same deterministic predictor the per-doc entry replays.
    oracle="""
    WITH c AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))  AS en,
             len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))   AS es,
             len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu'))) AS de,
             len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les')))  AS fr
      FROM documents),
    p AS (SELECT lang,
                 CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                      WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                      WHEN es >= de AND es >= fr THEN 'es'
                      WHEN de >= fr THEN 'de'
                      ELSE 'fr' END AS pred_lang
          FROM c)
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
)
def docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: stored language × heuristic
    prediction with counts — the aggregate quality audit of the lang-id
    operator (per-doc predictions: `docs_lang_id`; this localizes WHICH
    languages the stopword lists mix up). One map-side-combined groupBy
    over a fused scan projection; |langs|² rows out."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", text.lang_pred_expr("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(
    "tf_untagged_resources",
    # the canonical steampipe governance shape (JSON-member audit over
    # `arguments` — docs/tables/terraform_resource.md's `->` queries):
    # config resources with no tags argument. Golden rows from the
    # fixture corpus: only aws_instance.app_server carries tags.
    oracle="""
    SELECT * FROM (VALUES
      ('b',     'aws_s3_bucket', CAST(NULL AS VARCHAR)),
      ('empty', 'aws_sqs_queue', CAST(NULL AS VARCHAR))
    ) t(name, type, tags)
    """,
)
def tf_untagged_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Untagged-resource compliance report — the documented host-engine
    JSON audit (``arguments -> 'tags' IS NULL``; cf. reference
    docs/tables/terraform_resource.md JSON-member examples): every
    CONFIG resource whose arguments carry no tags object, including
    resources with no arguments at all. Exercises get_json_object over
    the canonical JSON-string column in the driver-validated surface."""
    eng = _tf_engine(spark)
    return (
        eng.table("terraform_resource")
        .filter(F.col("path").endswith(".tf"))
        .withColumn("tags", F.get_json_object("arguments", "$.tags"))
        .filter(F.col("tags").isNull())
        .select("name", "type", "tags")
    )


# ---------------------------------------------------------------------------
# STAGING AREA: the 6 `tf_*` audit drafts below are FULL entries (Spark
# implementation + DuckDB oracle) registered into
# STAGED_QUERIES/STAGED_ORACLES instead of QUERIES/ORACLES, so they stay
# off the driver surface while tests/test_staged_entries.py parity-runs
# them (sf0.001, and sf0.01 under SPARK_GRAFT_TEST_SF_DIR),
# tests/test_plan_shapes.py pins their plans and the anti-pattern scan
# covers them. No new drafts are added. Promotion =
# change ``@staged_query`` to ``@query`` and move its docs/OPERATORS.md
# row into the main table; never driver-checked, it leads queries().
# ---------------------------------------------------------------------------

STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
STAGED_ORACLES: dict[str, str] = {}


def staged_query(name: str, oracle: str | None = None):
    def deco(fn):
        assert name not in QUERIES, f"{name} already promoted — use @query"
        STAGED_QUERIES[name] = fn
        if oracle is not None:
            STAGED_ORACLES[name] = oracle
        return fn

    return deco


def _two_level44(spark: SparkSession, sf_dir: str):
    """Session-cached two-level quantizer over the vec_id >= 10 corpus —
    k1 = k2 = 4 are CODEBOOK constants like PQ's k_fixed (the oracle
    bakes them into the grouped-Lloyd CTEs), not corpus-derived: at the
    100 TB design point the same build runs with k1 ≈ k2 ≈
    √(N/K_TARGET) under the per-level √N cap (SCALE.md "IVF at 100 TB");
    the entry pins the MECHANISM (two-stage routing, grouped cell Lloyd,
    (cell1, cell2) candidate pruning), which is k-independent."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= 10)
        return similarity.kmeans_two_level(corpus, k1=4, k2=4, iters=2)

    return state.get(spark, "two_level", state.corpus_digest(sf_dir), build)


def _two_level_topk_cte() -> str:
    """Two-stage probe replay: level-1 route (rank c2 centroids per
    query, keep nprobe1=2 of 4 cells), level-2 route (rank ONLY the probed
    cells' gc2 sub-centroids, keep nprobe2=2 of 4 per cell — strictly
    fewer than k2, so the level-2 prune BINDS and the driver validates
    the two-stage path, not a degenerate full sub-probe), candidates =
    gaf members of probed (cell1, cell2) pairs, exact rounded-cosine
    scoring with nid tiebreak — CTE-for-stage the same shapes
    ``similarity.two_level_topk`` builds as DataFrames."""
    cos = _cos_sql
    parts = ["q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10)"]
    parts += _lloyd_parts("vec_id >= 10", 2, 64, k_fixed=4)
    parts += _lloyd2_parts(2, 64, 4, src="af", prefix="g")
    parts += [
        "p1 AS (SELECT qid, cell1 FROM ("
        "SELECT q.qid, c.cid cell1, row_number() OVER (PARTITION BY q.qid "
        f"ORDER BY {cos('q.v', 'c.cv')} DESC, c.cid) rn FROM q, c2 c) WHERE rn <= 2)",
        "p2 AS (SELECT qid, cell1, cell2 FROM ("
        "SELECT p1.qid, g.bucket cell1, g.cid cell2, row_number() OVER "
        f"(PARTITION BY p1.qid, g.bucket ORDER BY {cos('q.v', 'g.cv')} DESC, g.cid) rn "
        "FROM p1 JOIN q ON q.qid = p1.qid JOIN gc2 g ON g.bucket = p1.cell1) "
        "WHERE rn <= 2)",
        f"s AS (SELECT q.qid, gaf.nid, {cos('q.v', 'af.v')} AS cosine "
        "FROM p2 JOIN q ON q.qid = p2.qid "
        "JOIN gaf ON gaf.cell1 = p2.cell1 AND gaf.cell2 = p2.cell2 "
        "JOIN af ON af.nid = gaf.nid)",
        "r AS (SELECT qid, nid, cosine, row_number() OVER "
        "(PARTITION BY qid ORDER BY cosine DESC, nid) rank FROM s)",
    ]
    return ",\n    ".join(parts)


@query(
    "emb_two_level_topk",
    oracle=f"""
    WITH {_two_level_topk_cte()}
    SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def emb_two_level_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF top-k — the 100 TB ANN capstone (SCALE.md "IVF at
    100 TB"): a ``kmeans_two_level`` index (grouped per-cell Lloyd, k1·k2
    cells, no pass scores a vector against more than k1+k2 centroids) and
    the ``two_level_topk`` two-stage probe (route to nprobe1 level-1
    cells, rank only their sub-centroids, prune candidates to probed
    (cell1, cell2) pairs). Partial probe at BOTH levels (2 of 4 cells ×
    2 of 4 sub-cells — nprobe2 < k2 so the level-2 prune binds) so the
    pruning path — not a brute-force or full-sub-probe degenerate case —
    is what the driver validates; the full-probe ≡ brute-force identity
    stays pinned by tests/test_two_level.py. Fully oracle-checked: DuckDB
    replays both Lloyd levels and both probe stages as chained CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    assigned, centroids, l1 = _two_level44(spark, sf_dir)
    return similarity.two_level_topk(
        queries_df, corpus, assigned, centroids, l1, k=5, nprobe1=2, nprobe2=2
    )


def _instance_counts(res: DataFrame, kind: str, out: str) -> DataFrame:
    """Per-base-address instance counts for one file kind over a
    file_kind-stamped resource frame: managed rows only, ``[index]``
    suffix stripped (state and plan rows explode one row per instance
    with index-suffixed addresses — tfcore/rows.py index_key reformat).
    Shared by BOTH drift audits so a fix to the suffix regex or the
    managed filter can never make the two reports disagree on the same
    file."""
    return (
        res.filter(F.col("file_kind") == kind)
        .filter(F.col("mode") == "managed")
        .select(F.regexp_replace("address", r"\[[^\]]*\]$", "").alias("address"))
        .groupBy("address")
        .agg(F.count("*").cast("long").alias(out))
    )


def _config_state_drift_frame(res: DataFrame) -> DataFrame:
    """Drift report over a ``terraform_resource`` frame (config + state
    rows) — factored out of the entry so tests can run the identical
    logic over a synthetic corpus and exercise the branches the fixture
    corpus cannot (``count_drift`` from a partial apply,
    ``applied_not_declared`` from an orphaned state resource).

    Requires the file_kind stamp: rows with ``file_kind`` NULL (a
    canonical store saved before the column existed —
    ``TerraformEngine.load_canonical`` backfills NULL) match NEITHER
    side and are silently dropped, so a legacy store yields an empty
    audit rather than a wrong one. Re-save the store from a fresh
    parse before trusting a drift report."""
    declared = (
        # kind comes from the wide frame's file_kind (the engine's routing
        # decision, stamped at parse time) — never re-derived from path
        # suffixes, so *.tf.json configs and renamed state files land on
        # the right side of the audit
        res.filter(F.col("file_kind") == "config")
        .select(
            "address",
            # statically-known per-declaration instance count: a literal
            # count meta-arg wins; the NullIfZero quirk nulls a literal
            # count = 0 (it survives only as count_src '0'), so recover it
            # — an intentionally zero-instance declaration is expected_0,
            # not dynamic; a count EXPRESSION or for_each stays unknowable
            F.coalesce(
                F.col("count").cast("long"),
                F.when(F.col("count_src") == "0", F.lit(0).cast("long")),
            ).alias("lit_cnt"),
            (
                (
                    F.col("count").isNull()
                    & F.col("count_src").isNotNull()
                    & (F.col("count_src") != "0")
                )
                | F.col("for_each").isNotNull()
            ).alias("dyn"),
        )
        .groupBy("address")
        .agg(F.max("lit_cnt").alias("cnt"), F.max("dyn").alias("dynamic"))
        .select(
            "address",
            F.lit(True).alias("declared"),
            # no meta-arg at all means exactly one instance
            F.when(F.col("cnt").isNotNull(), F.col("cnt"))
            .when(F.col("dynamic"), F.lit(None).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("expected_instances"),
        )
    )
    applied = _instance_counts(res, "state", "applied_instances")
    return (
        declared.join(applied, "address", "full_outer")
        .select(
            "address",
            F.coalesce("declared", F.lit(False)).alias("declared"),
            "expected_instances",
            F.coalesce("applied_instances", F.lit(0).cast("long")).alias(
                "applied_instances"
            ),
            F.when(F.col("declared").isNull(), F.lit("applied_not_declared"))
            # expected 0 with applied 0 (including absent-from-state, the
            # only way a joined state row can be NULL at 0) is the
            # declaration working as written, not drift
            .when(
                (F.col("expected_instances") == 0)
                & (F.coalesce("applied_instances", F.lit(0)) == 0),
                F.lit("in_sync"),
            )
            .when(
                F.col("applied_instances").isNull(), F.lit("declared_not_applied")
            )
            # both sides present: a knowable declared count that the
            # state's instance count misses is the partial-apply drift
            # (NULL expected — dynamic count/for_each — can't drift
            # statically, so it stays in_sync)
            .when(
                F.col("expected_instances").isNotNull()
                & (F.col("expected_instances") != F.col("applied_instances")),
                F.lit("count_drift"),
            )
            .otherwise(F.lit("in_sync"))
            .alias("status"),
        )
    )


@query(
    "tf_config_state_drift",
    # golden rows from the fixture corpus: app_server (count=2 in config,
    # 2 state instances) and b (1 instance, count = local.cost_center so
    # expected is statically unknowable → NULL) are applied;
    # aws_sqs_queue.empty is declared in main.tf but absent from
    # terraform.tfstate — the "declared but never applied" drift every
    # terraform audit asks about. The corpus has no orphaned state
    # resource and no partial apply, so applied_not_declared and
    # count_drift yield zero rows HERE; both branches are live in the
    # same full outer join and pinned on a synthetic corpus by
    # tests/test_config_state_drift.py.
    oracle="""
    SELECT address, declared,
           CAST(expected_instances AS BIGINT) AS expected_instances,
           CAST(applied_instances AS BIGINT) AS applied_instances, status
    FROM (VALUES
      ('aws_instance.app_server', true, 2,    2, 'in_sync'),
      ('aws_s3_bucket.b',         true, NULL, 1, 'in_sync'),
      ('aws_sqs_queue.empty',     true, 1,    0, 'declared_not_applied')
    ) t(address, declared, expected_instances, applied_instances, status)
    """,
)
def tf_config_state_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-vs-state drift report — the reference-faithful composite the
    catalog lacked (r7 verdict #4): a full outer join of
    ``terraform_resource`` rows from CONFIG files vs STATE files on the
    resource address ("what's declared but not applied / applied but not
    declared / applied the wrong number of times" — the questions every
    terraform user asks of the seven tables; builds on the file-kind
    routing matrix, SURVEY.md §1.4).

    State rows explode per instance with ``[index]``-suffixed addresses
    (tfcore/rows.py index_key reformat), so the state side strips the
    index suffix and counts instances per base address; the config side
    carries the statically-knowable expected instance count (literal
    ``count`` meta-arg, 1 when absent, NULL for count expressions /
    for_each) so a partial apply — declared count=3, two instances in
    state — surfaces as ``count_drift`` instead of masquerading as
    in_sync. Both sides are O(config files), not O(data) — resource
    metadata stays tiny at any corpus scale, and the full outer join
    (which Spark cannot broadcast) is over those two tiny keyed sets,
    never over data tables.

    Reads the engine's wide frame (terraform_resource rows plus the
    parse-time ``file_kind`` stamp) rather than the public table
    projection: kind is the engine's own routing decision, never
    re-derived from path suffixes, so *.tf.json configs and
    custom-named state files stay in the audit."""
    wide = _tf_engine(spark).wide()
    return _config_state_drift_frame(
        wide.filter(F.col("tf_table") == "terraform_resource").select(
            "address", "count", "count_src", "for_each", "mode", "file_kind"
        )
    )


def _scd2_merge_at(spark: SparkSession, sf_dir: str, days_back: int) -> DataFrame:
    """Body of q_user_scd2_merge with the split horizon (max day −
    ``days_back`` days) as a parameter, so tests can pin the merge ≡
    rebuild identity at horizons other than the entry's own. Collapse
    and segment build come from the SAME helpers the rebuild entry uses
    (``_scd2_daily_dominant`` / ``_scd2_segments_from``) — the oracle is
    the rebuild SQL, so a shared implementation is what keeps the
    identity unbreakable by a one-sided edit."""
    dom = _scd2_daily_dominant(spark, sf_dir)
    # bounded 1-row collect (the repo's allowed class: seed/footer-stat
    # scalars): a literal cutoff keeps the base/batch/merge branches from
    # each re-expanding a scalar cross join's lineage — with the
    # crossJoin(broadcast(agg)) device here the three references to the
    # split frame each re-planned BOTH the dom scan and the horizon scan
    # (6 events scans total, measured); the literal halves that. In
    # production the horizon is config (yesterday), not data-derived.
    cut = dom.agg(F.expr(f"max(day) - INTERVAL {days_back} DAY").alias("cut")).collect()[0].cut
    base_dom = dom.filter(F.col("day") < F.lit(cut))
    batch = dom.filter(F.col("day") >= F.lit(cut))
    base = _scd2_segments_from(base_dom)
    return merge.scd2_merge(base, batch, val_col="event_type")


@query(
    # The oracle IS the full-rebuild SQL (shared verbatim with
    # q_user_scd2_segments): the entry's correctness claim is exactly the
    # incremental-maintenance identity "MERGE(base store, change batch)
    # == rebuild over all facts", so the strongest possible check is the
    # rebuild itself.
    "q_user_scd2_merge",
    oracle=ORACLES["q_user_scd2_segments"],
)
def q_user_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 MERGE/upsert (r7 verdict #8's CDC-shaped stretch
    family): split the collapsed (user, day, dominant-type) frame at a
    deterministic horizon (max day − 6 days, so the "change batch" is the
    last week of CDC rows), build the dimension store ONLY from the older
    half, then ``merge.scd2_merge`` the batch into it — closed segments
    pass through untouched, each user's open segment extends or closes,
    batch-only users insert. The driver validates the maintenance
    identity: the merged store hash-equals the full rebuild
    (tests/test_scd2_merge.py additionally pins it at a second horizon
    and per-rule on hand-built frames).

    Scale: the dominance collapse is the same three-exchange pipeline as
    the rebuild entry; the merge itself adds ONE key-shuffle over (#open
    segments + #batch rows) — closed history is union-only, never
    shuffled or rewritten. In production the batch side is yesterday's
    partition and base never re-reads facts; here both derive from one
    events scan so the oracle can replay the identity at any SF."""
    return _scd2_merge_at(spark, sf_dir, 6)


@query(
    "q_quantile_logsketch",
    # the sketch side of the oracle embeds sketch.logbucket_expr
    # verbatim — bin()/shifts are bit-identical in both engines (the
    # whole point of the integer restatement; see operators/sketch.py)
    oracle=f"""
    WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) v
               FROM lineitem),
    b AS (SELECT {sketch.logbucket_expr('v', 5)} AS lb,
                 CAST(count(*) AS BIGINT) cnt
          FROM c GROUP BY 1),
    cu AS (SELECT lb, CAST(sum(cnt) OVER (ORDER BY lb) AS BIGINT) cum,
                  CAST(sum(cnt) OVER () AS BIGINT) n FROM b)
    SELECT q_pct, min(lb) AS est_cents
    FROM cu, (VALUES (50), (90), (99)) qs(q_pct)
    WHERE cum * 100 >= q_pct * n
    GROUP BY q_pct
    """,
)
def q_quantile_logsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-scale quantile sketch over price cents (r7 verdict
    #8's second stretch family — the t-digest ROLE in exact integer form;
    a true t-digest's FP centroids are engine-opaque, this is the
    checkable alternative, as KMV is to HLL). Buckets keep a value's top
    6 significant bits (`operators/sketch.py`), so p50/p90/p99 estimates
    carry a < 2^-5 = 3.125 % relative-error guarantee (pinned against
    exact quantiles in tests/test_sketch.py) while the exchange carries
    only ~1.9k bucket rows per partition regardless of N — the
    bounded-error escape from the exact path's global sort. Map-side
    partial aggregation IS the per-partition sketch build + merge."""
    li = _t(spark, sf_dir, "lineitem")
    cents = li.select(
        F.expr(f"CAST({rounding.units_sql('l_extendedprice', 2)} AS BIGINT)").alias("v")
    )
    sk = sketch.logsketch(cents, "v", m=5)
    return sketch.logsketch_quantiles(sk, [50, 90, 99]).select(
        "q_pct", F.col("est").alias("est_cents")
    )


# ---------------------------------------------------------------------------
# R10-STAGED ENTRIES (r8 verdict items #4/#5): two reference-faithful
# terraform audits (module pinning per the documented split_part/regex
# workflow; plan-vs-state "what will apply change") and two scale-stretch
# maintenance identities (incremental IVF ingest — the ANN analog of
# scd2_merge; cross-slice log-sketch mergeability). Staged per the
# standing workflow above; promotion budget at r10 is ≤ 8 (42 forced
# r06 rotations), so these four fit.
# ---------------------------------------------------------------------------


def _tf_corpus_engine(spark: SparkSession, subdir: str):
    """Engine over a dedicated per-audit fixture corpus
    (tests/fixtures/<subdir> — each audit entry gets its own corpus,
    separate from the main fixture corpus, so the existing tf_* golden
    oracles stay untouched and each corpus pins exactly the behaviors
    its entry documents; multi-file corpora make cross-file references
    part of the pinned behavior)."""
    from .engine import TerraformEngine

    return TerraformEngine(
        spark, config_paths=[f"{_TF_FIXTURES}/{subdir}/*.tf"], cache=False
    )


@query(
    "tf_module_pinning_audit",
    # golden rows from the dedicated corpus — one module per pinning
    # class; `ref` is the documented extraction split_part(module_source,
    # '=', -1) applied to EVERY row, as the reference doc's query does
    oracle="""
    SELECT * FROM (VALUES
      ('app', 'git::https://gitlab.com/acme/app.git?ref=main', NULL,
       'main', 'ref_unpinned'),
      ('local_tools', './modules/tools', NULL,
       './modules/tools', 'local_path'),
      ('net', 'git::https://gitlab.com/acme/network.git?ref=v2.1.0', NULL,
       'v2.1.0', 'ref_pinned'),
      ('registry_latest', 'terraform-aws-modules/s3-bucket/aws', NULL,
       'terraform-aws-modules/s3-bucket/aws', 'unpinned'),
      ('vpc', 'terraform-aws-modules/vpc/aws', '5.0.0',
       'terraform-aws-modules/vpc/aws', 'version_pinned')
    ) t(name, module_source, version, ref, pinning)
    """,
)
def tf_module_pinning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Module version-pinning audit — the documented terraform_module
    user workflow (docs/tables/terraform_module.md:52-57: extract the git
    ref with split_part(module_source, '=', -1), test it against a
    leading-digit regex to flag unpinned references). Classes:
    ``version_pinned`` (registry module with a version argument),
    ``ref_pinned`` (?ref= that looks like a version — v-prefixed or
    leading digit), ``ref_unpinned`` (?ref= naming a branch — the
    gitlab.com instability case the doc calls out), ``local_path``
    (./ or ../ sources, where pinning is the repo itself), ``unpinned``
    (registry source with no version at all). O(config files) metadata
    at any corpus scale; one narrow projection, no joins."""
    mods = _tf_corpus_engine(spark, "modules").table("terraform_module")
    ref = F.element_at(F.split(F.col("module_source"), "="), -1)
    return mods.select(
        "name",
        "module_source",
        "version",
        ref.alias("ref"),
        F.when(F.col("version").isNotNull(), F.lit("version_pinned"))
        .when(
            F.col("module_source").contains("?ref=") & ref.rlike("^v?[0-9]"),
            F.lit("ref_pinned"),
        )
        .when(F.col("module_source").contains("?ref="), F.lit("ref_unpinned"))
        .when(F.col("module_source").rlike("^[.][.]?/"), F.lit("local_path"))
        .otherwise(F.lit("unpinned"))
        .alias("pinning"),
    )


def _plan_state_drift_frame(res: DataFrame) -> DataFrame:
    """Plan-vs-state pending-change report over a wide resource frame
    (file_kind-stamped) — factored out so tests can exercise the
    branches the fixture corpus lacks (create_pending, scale_pending).
    Both sides come from the shared ``_instance_counts`` (also the
    state side of ``_config_state_drift_frame``)."""
    planned = _instance_counts(res, "plan", "planned_instances")
    applied = _instance_counts(res, "state", "applied_instances")
    return planned.join(applied, "address", "full_outer").select(
        "address",
        F.coalesce("planned_instances", F.lit(0).cast("long")).alias(
            "planned_instances"
        ),
        F.coalesce("applied_instances", F.lit(0).cast("long")).alias(
            "applied_instances"
        ),
        F.when(F.col("applied_instances").isNull(), F.lit("create_pending"))
        .when(F.col("planned_instances").isNull(), F.lit("destroy_pending"))
        .when(
            F.col("planned_instances") != F.col("applied_instances"),
            F.lit("scale_pending"),
        )
        .otherwise(F.lit("no_change"))
        .alias("action"),
    )


@query(
    "tf_plan_state_drift",
    # fixture corpus: the plan's planned_values holds app_server[0..1]
    # (matching the two applied instances) and nothing else, so
    # aws_s3_bucket.b — applied but absent from the planned end-state —
    # is what apply would destroy. create_pending / scale_pending have
    # no fixture rows; both branches live in the same full outer join
    # and are pinned on a synthetic corpus by tests/test_plan_drift.py.
    oracle="""
    SELECT * FROM (VALUES
      ('aws_instance.app_server', 2, 2, 'no_change'),
      ('aws_s3_bucket.b',         0, 1, 'destroy_pending')
    ) t(address, planned_instances, applied_instances, action)
    """,
)
def tf_plan_state_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-vs-state drift — the other half of the drift question
    tf_config_state_drift answers ("what WILL apply change", vs "what
    has drifted from the declaration"): the reference's plan surface is
    ``planned_values.root_module.resources`` (parse_tfplan.go:9-36), the
    complete post-apply resource set, so comparing its per-address
    instance counts against the state's yields the pending actions —
    ``create_pending`` (planned, not yet applied), ``destroy_pending``
    (applied, absent from the planned end-state), ``scale_pending``
    (instance-count change from a count/for_each edit), ``no_change``.
    Same shape and scale story as tf_config_state_drift: kind from the
    engine's file_kind stamp, index suffixes stripped, one full outer
    join over two O(files) keyed sets. Same file_kind requirement too:
    NULL-kind rows (a pre-file_kind canonical store loaded via
    ``load_canonical``) match neither side and drop — a legacy store
    yields an empty audit, not a wrong one; re-save from a fresh
    parse first."""
    wide = _tf_engine(spark).wide()
    return _plan_state_drift_frame(
        wide.filter(F.col("tf_table") == "terraform_resource").select(
            "address", "mode", "file_kind"
        )
    )


def _ivf_incr_base(spark: SparkSession, sf_dir: str):
    """Base IVF index trained ONLY on the seven-eighths 'historical'
    corpus slice (vec_id % 8 <> 7) — the batch eighth never influences
    training, which is what makes the entry an incremental-INGEST
    identity rather than a retrain."""

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        base = emb.filter(
            (F.col("vec_id") >= 10) & (F.col("vec_id") % 8 != 7)
        )
        return similarity.kmeans_lloyd(base, k=_effective_k(base.count()), iters=3)

    return state.get(spark, "ivf_incr_base", state.corpus_digest(sf_dir), build)


def _ivf_incr_cte() -> str:
    """Replay: Lloyd over the BASE slice only (e/tr/ksel/c0..c3 — k sized
    from the base count, matching the Spark side's _effective_k over the
    same slice), then assignment of the FULL corpus to those frozen
    centroids (``ne``/``maf`` — the rebuild the incremental merge must
    equal), then the standard nprobe-8 probe over the merged index."""
    cos, dist = _cos_sql, _dist_sql
    parts = [
        "q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10)"
    ]
    parts += _lloyd_parts("vec_id >= 10 AND vec_id % 8 <> 7", 3, 64)
    parts += [
        "ne AS (SELECT vec_id nid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id >= 10)",
        "maf AS (SELECT nid, v, cid AS bucket FROM ("
        "SELECT e.nid, e.v, c.cid, row_number() OVER (PARTITION BY e.nid "
        f"ORDER BY {dist('e.v', 'c.cv')}, c.cid) rn FROM ne e, c3 c) WHERE rn = 1)",
        "pr AS (SELECT qid, cid AS bucket FROM ("
        "SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid "
        f"ORDER BY {cos('q.v', 'c.cv')} DESC, c.cid) rn FROM q, c3 c) WHERE rn <= 8)",
        f"s AS (SELECT q.qid, maf.nid, {cos('q.v', 'maf.v')} AS cosine "
        "FROM pr JOIN q ON q.qid = pr.qid JOIN maf ON maf.bucket = pr.bucket)",
        "r AS (SELECT qid, nid, cosine, row_number() OVER "
        "(PARTITION BY qid ORDER BY cosine DESC, nid) rank FROM s)",
    ]
    return ",\n    ".join(parts)


@query(
    "emb_ivf_incremental_topk",
    # the oracle IS the full re-assignment against the same frozen
    # centroids (maf): the entry's correctness claim is exactly the
    # maintenance identity "stored base assignment ∪ batch assigned to
    # frozen centroids == assign-everything rebuild" — same device as
    # q_user_scd2_merge's rebuild oracle
    oracle=f"""
    WITH {_ivf_incr_cte()}
    SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def emb_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest (r8 verdict #5's ANN maintenance stretch):
    merge a new-vector batch into an existing IVF index WITHOUT
    retraining — the day-2 operation every vector store lives by (ingest
    is continuous; retraining is scheduled). The base index (Lloyd over
    the historical seven-eighths of the corpus) is built once per
    session and its centroids frozen; the batch eighth is assigned to
    those centroids by ``similarity.assign_to_centroids`` — the SAME
    implementation the rebuild's final assignment uses, so merge ≡
    rebuild cannot drift one-sided — and the probe runs over the union.

    Scale: the batch assign is one mapInPandas over batch rows (no
    shuffle, k·dim broadcast); the union is metadata-only; nothing
    re-reads or re-writes the historical assignment. The driver
    validates the maintenance identity end-to-end: the oracle replays
    base-slice Lloyd, then a FULL-corpus assignment to the frozen
    centroids, then the probe — equality means the incremental path
    changed nothing vs the rebuild."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    base_assigned, cents = _ivf_incr_base(spark, sf_dir)
    batch = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 8 == 7))
    merged = base_assigned.unionByName(
        similarity.assign_to_centroids(batch, cents)
    )
    return similarity.ivf_topk(queries, merged, cents, k=5, nprobe=8)


@query(
    "q_logsketch_merge",
    # the oracle sketches ALL rows in one pass — equality with the
    # Spark side's union-of-two-slice-sketches is the mergeability
    # property itself (bucket counts are additive), the same
    # whole-vs-parts identity device as the scd2 and IVF merges
    oracle=f"""
    WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) v
               FROM orders),
    b AS (SELECT {sketch.logbucket_expr('v', 5)} AS lb,
                 CAST(count(*) AS BIGINT) cnt
          FROM c GROUP BY 1),
    cu AS (SELECT lb, CAST(sum(cnt) OVER (ORDER BY lb) AS BIGINT) cum,
                  CAST(sum(cnt) OVER () AS BIGINT) n FROM b)
    SELECT q_pct, min(lb) AS est_cents
    FROM cu, (VALUES (25), (50), (75), (95)) qs(q_pct)
    WHERE cum * 100 >= q_pct * n
    GROUP BY q_pct
    """,
)
def q_logsketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-slice sketch mergeability as a catalog-visible property (r8
    verdict #5): build SEPARATE log-sketches over two disjoint
    date-range slices of orders (pre/post 1995 — the per-day/per-shard
    rollup shape), merge them with ``sketch.logsketch_merge`` (union +
    re-sum: counts are additive, the bucket key carries no per-sketch
    state), and answer quantiles from the MERGED sketch. The oracle
    sketches the whole table in one pass — equality is the mergeability
    guarantee that lets 100 TB of per-partition sketches roll up into
    one ~1.9k-row frame without revisiting data. Everything after the
    two map-side partial aggregations is sketch-sized."""
    orders = _t(spark, sf_dir, "orders")
    cents = orders.select(
        F.expr(f"CAST({rounding.units_sql('o_totalprice', 2)} AS BIGINT)").alias("v"),
        "o_orderdate",
    )
    cut = "1995-01-01"
    early = sketch.logsketch(
        cents.filter(F.col("o_orderdate") < F.lit(cut)), "v", m=5
    )
    late = sketch.logsketch(
        cents.filter(F.col("o_orderdate") >= F.lit(cut)), "v", m=5
    )
    merged = sketch.logsketch_merge([early, late])
    return sketch.logsketch_quantiles(merged, [25, 50, 75, 95]).select(
        "q_pct", F.col("est").alias("est_cents")
    )


@query(
    "q_events_type_quantiles",
    # the grouped-sketch replay: same verbatim logbucket_expr, same
    # integer rank test, windows keyed by event_type on both sides
    oracle=f"""
    WITH c AS (SELECT event_type,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) v
               FROM events),
    b AS (SELECT event_type, {sketch.logbucket_expr('v', 5)} AS lb,
                 CAST(count(*) AS BIGINT) cnt
          FROM c GROUP BY 1, 2),
    cu AS (SELECT event_type, lb,
                  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY lb) AS BIGINT) cum,
                  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) n
           FROM b)
    SELECT event_type, q_pct, min(lb) AS est_cents
    FROM cu, (VALUES (50), (90), (99)) qs(q_pct)
    WHERE cum * 100 >= q_pct * n
    GROUP BY event_type, q_pct
    """,
)
def q_events_type_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key quantiles from ONE grouped-sketch pass — the "p50/p95
    latency per endpoint" dashboard shape, at sketch cost instead of a
    per-key global sort: ``sketch.logsketch_by`` builds every
    event_type's log-bucket sketch in a single map-side-combined
    aggregation, and ``logsketch_quantiles_by`` answers p50/p90/p99 per
    type with windows PARTITIONED by the key, so each window ranks one
    group's ≤ ~1.9k buckets — keyed, parallel, and bounded at any key
    cardinality (contrast the single-partition window the UNgrouped
    sketch is allowed only because its input is sketch-sized). Same
    < 2^-5 relative-error guarantee per group."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.expr(f"CAST({rounding.units_sql('value', 2)} AS BIGINT)").alias("v"),
    )
    sk = sketch.logsketch_by(cents, "v", ["event_type"], m=5)
    return sketch.logsketch_quantiles_by(sk, ["event_type"], [50, 90, 99]).select(
        "event_type", "q_pct", F.col("est").alias("est_cents")
    )


@query(
    "stream_quantile_logsketch",
    # the oracle is the BATCH sketch over all events — equality with the
    # drained streaming state is the micro-batch mergeability property
    # (bucket counts are sums, so complete-mode partials merge
    # associatively), the same identity stream_countmin_sketch pins for
    # the frequency sketch
    oracle=f"""
    WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) v
               FROM events),
    b AS (SELECT {sketch.logbucket_expr('v', 5)} AS lb,
                 CAST(count(*) AS BIGINT) cnt
          FROM c GROUP BY 1),
    cu AS (SELECT lb, CAST(sum(cnt) OVER (ORDER BY lb) AS BIGINT) cum,
                  CAST(sum(cnt) OVER () AS BIGINT) n FROM b)
    SELECT q_pct, min(lb) AS est_cents
    FROM cu, (VALUES (50), (90), (99)) qs(q_pct)
    WHERE cum * 100 >= q_pct * n
    GROUP BY q_pct
    """,
)
def stream_quantile_logsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch built AS A STREAM: each event folds into its
    log-bucket counter via a running streaming aggregation, so the
    state is the sketch itself — ≤ ~1.9k counters regardless of stream
    length (the same bounded-state story as stream_countmin_sketch,
    extended from frequencies to quantiles; a streaming EXACT quantile
    would need unbounded state). Complete-mode memory sink, availableNow
    drain; no watermark needed because the state cannot grow. Quantiles
    are answered batch-side from the drained sketch — in production the
    drained (lb, cnt) frame is also what ships to a dashboard store,
    merging across restarts by re-summing."""
    from .streaming.events import read_events_stream

    lb = sketch.logbucket_expr(f"CAST({rounding.units_sql('value', 2)} AS BIGINT)", 5)
    buckets = read_events_stream(spark, sf_dir).select(F.expr(lb).alias("lb"))
    sk = _drain_memory_sink(
        spark,
        buckets.groupBy("lb").agg(F.count("*").cast("long").alias("cnt")),
        "__stream_quantile_logsketch",
        "complete",
        source_path=f"{sf_dir}/events.parquet",
    )
    return sketch.logsketch_quantiles(sk, [50, 90, 99]).select(
        "q_pct", F.col("est").alias("est_cents")
    )


# Token regexes for the unused-declaration audits, as SQL-string
# literals (regexp_extract_all sees `var\\.` -> regex `var\.`, a
# LITERAL dot — tests/test_unused_decls.py pins exactly these constants
# so a lost escaping level fails the phantom-'ous' regression test, not
# a future corpus). The negative lookbehind is the LEFT boundary (r9
# advice): without it `var.` matches inside longer attribute chains
# (`aws_ssm_parameter.dbvar.value` minted a phantom var ref 'value',
# `mylocal.attr` a phantom local ref 'attr') — conservative for the
# unused audits but a false dangling ref in tf_undeclared_references.
_TOKEN_LB = "(?<![A-Za-z0-9_.-])"
_VAR_TOKEN_RE = _TOKEN_LB + "var\\\\.([A-Za-z_][A-Za-z0-9_-]*)"
_LOCAL_TOKEN_RE = _TOKEN_LB + "local\\\\.([A-Za-z_][A-Za-z0-9_-]*)"


def _unused_decls_frame(
    wide: DataFrame,
    decl_table: str,
    token_re: str,
    decl_cols: list[str],
    decl_key: str = "name",
) -> DataFrame:
    """The declarations-∖-references audit device shared by
    `tf_unused_variables`, `tf_unused_locals`, and (r13-staged)
    `tf_unused_data_sources`: scan the SOURCE of every config block
    OUTSIDE the declaring table for ``token_re`` traversals, count
    distinct referencing blocks ((path, start_line) identity),
    left-join back onto the declaration table, report ``n_ref_blocks``
    + used/unused status. ``decl_key`` is the declaration-side join
    key — an F.expr string when the traversal names more than the bare
    ``name`` (data sources reference as ``data.<type>.<name>``). ONE
    definition so a tweak to the token scan or the block-identity rule
    cannot fork between the audits."""
    refs = (
        wide.filter(
            (F.col("file_kind") == "config")
            & (F.col("tf_table") != decl_table)
        )
        .select(
            "path",
            "start_line",
            F.explode(
                F.expr(
                    "array_distinct(regexp_extract_all("
                    f"source, '{token_re}', 1))"
                )
            ).alias("ref_name"),
        )
        .distinct()
        .groupBy("ref_name")
        .agg(F.count("*").cast("long").alias("n_ref_blocks"))
    )
    decls = wide.filter(F.col("tf_table") == decl_table).select(
        *decl_cols, F.expr(decl_key).alias("__decl_key")
    )
    joined = decls.join(
        refs, decls["__decl_key"] == refs["ref_name"], "left"
    )
    return joined.select(
        *decl_cols,
        F.coalesce("n_ref_blocks", F.lit(0).cast("long")).alias(
            "n_ref_blocks"
        ),
        F.when(F.col("n_ref_blocks").isNull(), F.lit("unused"))
        .otherwise(F.lit("used"))
        .alias("status"),
    )


@query(
    "tf_unused_variables",
    # golden rows from the dedicated corpus, one variable per usage
    # class: referenced from a provider + locals (region, 2 blocks),
    # a resource (instance_type), locals only (zone_suffix), a module
    # argument in ANOTHER file (bucket_name — the cross-file case),
    # never referenced (retention_days), and referenced ONLY by its own
    # validation block (environment — self-references don't count)
    oracle="""
    SELECT * FROM (VALUES
      ('bucket_name',    'string', 1::BIGINT, 'used'),
      ('environment',    'string', 0::BIGINT, 'unused'),
      ('instance_type',  'string', 1::BIGINT, 'used'),
      ('region',         'string', 2::BIGINT, 'used'),
      ('retention_days', 'number', 0::BIGINT, 'unused'),
      ('zone_suffix',    'string', 1::BIGINT, 'used')
    ) t(name, var_type, n_ref_blocks, status)
    """,
)
def tf_unused_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unused-variable hygiene audit — the `terraform_variable` ∖
    references governance query steampipe users write with LIKE scans
    over block source (cf. reference docs/tables/terraform_variable.md's
    source column): every declared variable joined against the set of
    ``var.<name>`` traversals appearing in the SOURCE of any NON-variable
    config block (resources, data sources, providers, locals, modules,
    outputs — one scan covers every expression position, including
    interpolations the typed columns would hide). A variable's own
    validation block referencing itself does NOT count as usage — the
    audit's point is exactly that such a variable is dead weight.
    ``n_ref_blocks`` counts distinct referencing BLOCKS ((path,
    start_line) identity, so the N locals rows sharing one ``locals``
    block count it once). Same token-scan approximation as grep-based
    audits: a ``var.x`` inside a string literal or comment counts —
    documented, and the conservative direction for a deletion audit.

    Scale: one projection + regexp_extract_all over O(config blocks),
    one small distinct-and-count, one broadcast-sized join against the
    variable table — no pair generation, no shuffle beyond the tiny
    aggregation. At 100 TB of config the reference set is bounded by
    #distinct variable names actually referenced."""
    wide = _tf_corpus_engine(spark, "variables").wide()
    return _unused_decls_frame(
        wide.withColumn("var_type", F.col("type")),
        "terraform_variable",
        _VAR_TOKEN_RE,
        ["name", "var_type"],
    )


@query(
    "docs_benchmark_contamination",
    # per-benchmark-doc decontamination report. The Spark side keys
    # shingles by xxhash64 (injective at these corpora — same argument
    # as the jaccard/novelty entries); COUNT DISTINCT and equality
    # joins are hash-key-invariant, so the raw-string DuckDB replay
    # matches. Ratio snapped by positive-integer division — bit-exact.
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') s
           FROM t, unnest(range(1, greatest(len(w) - 5, 1))) r(i)
           WHERE len(w) >= 7),
    bs AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 31 = 0),
    ts AS (SELECT doc_id, s FROM sh WHERE doc_id % 31 <> 0),
    hits AS (SELECT bs.bench_id, bs.s, ts.doc_id FROM bs JOIN ts USING (s)),
    pd AS (SELECT bench_id, CAST(count(DISTINCT s) AS BIGINT) n_contaminated,
                  CAST(count(DISTINCT doc_id) AS BIGINT) n_train_docs
           FROM hits GROUP BY 1),
    tot AS (SELECT bench_id, CAST(count(*) AS BIGINT) n_shingles
            FROM bs GROUP BY 1)
    SELECT tot.bench_id, tot.n_shingles,
           CAST(COALESCE(pd.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(pd.n_train_docs, 0) AS BIGINT) AS n_train_docs,
           CAST((2 * COALESCE(pd.n_contaminated, 0) * 10000 + tot.n_shingles)
                // (2 * tot.n_shingles) AS BIGINT) AS contamination_x1e4
    FROM tot LEFT JOIN pd USING (bench_id)
    """,
)
def docs_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram contamination check — the decontamination step
    every LLM training pipeline runs before trusting its eval numbers
    (the GPT-3/PaLM-style 7-gram overlap test): docs with
    ``doc_id % 31 = 0`` stand in for the benchmark/eval suite, the rest
    are the training corpus, and each benchmark doc reports how many of
    its distinct 7-gram shingles also occur in ANY training doc
    (``n_contaminated``), how many training docs share at least one
    (``n_train_docs``), and the snapped contamination ratio. Clean
    benchmark docs appear with zeros (the left-join path is part of the
    pinned behavior); docs under 7 words have no shingles and are not
    measurable. Reuses the jaccard family's ``_hashed_shingles`` device
    (8-byte xxhash64 keys, never the 40+-byte strings).

    Scale: a real benchmark is a FIXED-SIZE eval suite (its shingle set
    is millions of 8-byte keys at most), so the bench side broadcasts
    and the training corpus is one scan + explode with NO shuffle of
    train data; per-doc aggregation shuffles only the hit rows. The
    modulus slice here is corpus-proportional purely so every SF
    exercises the same plan. No df-cap: 7-gram collisions across
    unrelated docs are rare by construction; a production corpus with
    boilerplate stop-phrases would add the jaccard entries' posting-list
    df cap (dedup._shared_pairs_with_sizes) on the TRAIN side."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup._hashed_shingles(docs, "doc_id", "text", 7)
    bs = sh.filter(F.col("id") % 31 == 0).withColumnRenamed("id", "bench_id")
    ts = sh.filter(F.col("id") % 31 != 0)
    # broadcast IS the design point: the eval suite is fixed-size, so the
    # train side joins map-side and never shuffles its shingles
    hits = F.broadcast(bs).join(ts, "h")
    pd_ = hits.groupBy("bench_id").agg(
        F.countDistinct("h").cast("long").alias("n_contaminated"),
        F.countDistinct("id").cast("long").alias("n_train_docs"),
    )
    tot = bs.groupBy("bench_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    # pd_ is a per-bench-doc rollup (≤ |benchmark| rows) — broadcast
    return tot.join(F.broadcast(pd_), "bench_id", "left").select(
        "bench_id",
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
            "n_contaminated"
        ),
        F.coalesce("n_train_docs", F.lit(0).cast("long")).alias("n_train_docs"),
        F.expr(
            "CAST((2 * coalesce(n_contaminated, 0) * 10000 + n_shingles) "
            "DIV (2 * n_shingles) AS BIGINT)"
        ).alias("contamination_x1e4"),
    )


@query(
    "tf_resource_reference_graph",
    # golden edges from the dedicated corpus. Pinned behaviors: cross-file
    # edges (compute.tf -> network.tf), a data-source target
    # (data.aws_ami.ubuntu), n_refs counting OCCURRENCES (aws_instance.web
    # names aws_subnet.a twice: subnet_id and a tags interpolation), and
    # the declared-address join dropping look-alike tokens
    # ("docs.example.com" in a string, var.region)
    oracle="""
    SELECT * FROM (VALUES
      ('aws_instance.web',      'aws_security_group.sg', 1::BIGINT),
      ('aws_instance.web',      'aws_subnet.a',          2::BIGINT),
      ('aws_instance.web',      'data.aws_ami.ubuntu',   1::BIGINT),
      ('aws_security_group.sg', 'aws_vpc.main',          1::BIGINT),
      ('aws_subnet.a',          'aws_vpc.main',          1::BIGINT),
      ('aws_subnet.b',          'aws_vpc.main',          1::BIGINT)
    ) t(src_address, dst_address, n_refs)
    """,
)
def tf_resource_reference_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource dependency edges — the ``terraform graph`` workflow over
    the parsed tables (cf. reference docs/tables/terraform_resource.md's
    address/source columns): every ``TYPE.NAME`` / ``data.TYPE.NAME``
    traversal in a resource block's SOURCE, kept only when it resolves to
    a resource or data source DECLARED in the corpus (the inner join
    against declared addresses is the disambiguator — prose like
    ``docs.example.com`` and ``var.*``/``local.*`` traversals match the
    token shape but no declared address, so they drop out without any
    keyword denylist). ``n_refs`` counts occurrences, not distinct
    attributes — a block naming the same target twice depends on it
    twice. Same token-scan approximation as the variable audit: a
    reference inside a string literal or comment counts — conservative
    for a dependency audit. Self-edges are excluded.

    Scale: one projection + regexp over O(config blocks), then a join of
    the token set against the O(blocks) declared-address set — broadcast
    by size at any corpus scale (addresses are config metadata, not
    data). No pair generation; the edge set is output-sized."""
    wide = _tf_corpus_engine(spark, "graph").wide()
    tokens = (
        wide.filter(
            (F.col("file_kind") == "config")
            & (F.col("tf_table") == "terraform_resource")
        )
        .select(
            F.col("address").alias("src_address"),
            F.explode(
                F.expr(
                    "regexp_extract_all(source, "
                    f"'{_TOKEN_LB}(data\\\\.)?"
                    "[a-z][a-z0-9_]*\\\\.[A-Za-z_][A-Za-z0-9_-]*', 0)"
                )
            ).alias("token"),
        )
    )
    declared = (
        wide.filter(F.col("tf_table") == "terraform_resource")
        .select(F.col("address").alias("dst_address"))
        .unionByName(
            wide.filter(F.col("tf_table") == "terraform_data_source").select(
                F.concat(
                    F.lit("data."), F.col("type"), F.lit("."), F.col("name")
                ).alias("dst_address")
            )
        )
    )
    return (
        tokens.join(
            F.broadcast(declared), tokens["token"] == declared["dst_address"]
        )
        .filter(F.col("src_address") != F.col("dst_address"))
        .groupBy("src_address", "dst_address")
        .agg(F.count("*").cast("long").alias("n_refs"))
    )


@query(
    "tf_sensitive_output_audit",
    # golden rows: a leaking interpolation (connection_string embeds
    # var.db_password with no sensitive mark), two properly-marked
    # outputs (one direct ref, one wrapped in a function call), and a
    # clean output referencing only a non-sensitive variable
    oracle="""
    SELECT * FROM (VALUES
      ('connection_string',   'db_password', 1::BIGINT, false, 'leak'),
      ('deploy_region',       '',            0::BIGINT, false, 'clean'),
      ('masked_password_len', 'db_password', 1::BIGINT, true,  'ok_marked'),
      ('token_echo',          'api_token',   1::BIGINT, true,  'ok_marked')
    ) t(output_name, sensitive_vars, n_sensitive_refs, sensitive_marked,
        status)
    """,
)
def tf_sensitive_output_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-value flow audit — flags outputs whose value references
    a variable declared ``sensitive = true`` while the output itself is
    not marked sensitive (the misconfiguration ``terraform plan`` would
    redact at the variable but print at the output). Sensitive variables
    are detected from the variable block's SOURCE because the engine —
    faithful to the reference row builder (table_terraform_variable.go:
    sensitive is type-checked but never assigned, mirrored at
    tfcore/rows.py:377) — leaves terraform_variable.sensitive NULL by
    design; the outputs' own ``sensitive`` column IS populated and is
    the mark side of the audit. ``var.<name>`` traversals are token-
    scanned from each output's source (interpolations included),
    deduplicated per output, and inner-joined against the sensitive-
    variable set. Statuses: ``leak`` (refs a sensitive var, unmarked),
    ``ok_marked`` (refs one, marked), ``clean`` (no sensitive refs).
    The sensitivity detector is the same token-scan approximation as
    the sibling audits, anchored to attribute position: only a line
    BEGINNING (after whitespace) with ``sensitive = true`` counts, so a
    commented ``# sensitive = true`` does not mark the variable — but
    the phrase at line start inside a heredoc string still would
    (full HCL evaluation is out of scope, same as grep-based audits).

    Scale: O(output blocks) tokens joined against the O(variables)
    sensitive set — broadcast metadata join, output-sized result."""
    wide = _tf_corpus_engine(spark, "sensitive").wide()
    sens = wide.filter(
        (F.col("tf_table") == "terraform_variable")
        # (?m)^\s* anchors to attribute position: a commented-out
        # '# sensitive = true' line no longer marks the variable
        & F.col("source").rlike("(?m)^\\s*sensitive\\s*=\\s*true")
    ).select(F.col("name").alias("var_name"))
    refs = wide.filter(F.col("tf_table") == "terraform_output").select(
        F.col("name").alias("output_name"),
        F.coalesce(F.col("sensitive"), F.lit(False)).alias("sensitive_marked"),
        F.explode_outer(
            F.expr(
                "array_distinct(regexp_extract_all("
                f"source, '{_VAR_TOKEN_RE}', 1))"
            )
        ).alias("ref_name"),
    )
    hits = refs.join(
        F.broadcast(sens), refs["ref_name"] == sens["var_name"], "left"
    )
    return hits.groupBy("output_name", "sensitive_marked").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("var_name"))
        ).alias("sensitive_vars"),
        F.count("var_name").cast("long").alias("n_sensitive_refs"),
    ).select(
        "output_name",
        "sensitive_vars",
        "n_sensitive_refs",
        "sensitive_marked",
        F.when(
            (F.col("n_sensitive_refs") > 0) & ~F.col("sensitive_marked"),
            F.lit("leak"),
        )
        .when(F.col("n_sensitive_refs") > 0, F.lit("ok_marked"))
        .otherwise(F.lit("clean"))
        .alias("status"),
    )


@query(
    "q_orders_incremental_rollup",
    # the oracle IS the full recompute — the maintenance identity, like
    # the SCD2 merge / IVF incremental / logsketch merge entries: the
    # merged incremental state must answer exactly what a from-scratch
    # rollup answers, including the non-trivially-mergeable exact
    # distinct
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY 1
    """,
)
def q_orders_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance identity — the fourth member of
    the maintenance-identity family (SCD2 CDC merge, IVF incremental
    assignment, log-sketch merge): a late-arriving batch (the
    ``o_orderkey % 7 = 0`` slice stands in for it) is merged into the
    monthly revenue rollup via PARTIAL STATE, and the result must equal
    the from-scratch rollup over all orders — which is exactly what the
    oracle computes. The interesting column is ``n_customers``:
    COUNT(DISTINCT) is not mergeable from per-slice finals (a customer
    ordering in both slices would double-count), so the carried state is
    the (month, customer) grain — sums re-add at that grain on merge, and
    the distinct falls out as the post-merge group size. This is the
    standard decomposition every incremental-materialized-view engine
    uses for exact distincts.

    Scale: the merge shuffles only STATE rows (≤ |months × active
    customers|, orders-of-magnitude under the fact count; at 100 TB the
    base state comes from the stored rollup, not a rescan) plus the
    batch's partials; both groupings share the (order_month, o_custkey)
    key so AQE coalesces them into one exchange chain."""
    orders = _t(spark, sf_dir, "orders")
    return _incremental_rollup_frame(orders, F.col("o_orderkey") % 7 == 0)


def _incremental_rollup_frame(orders: DataFrame, batch_pred) -> DataFrame:
    """The merge path of `q_orders_incremental_rollup`, parameterized by
    the batch predicate so tests can pin the maintenance identity
    (merge ≡ from-scratch rollup) at MULTIPLE splits, not just the
    entry's ``% 7`` slice — the same several-horizons hardening the SCD2
    merge entry carries (tests/test_incremental_rollup.py)."""
    keyed = orders.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        F.expr(f"CAST({rounding.units_sql('o_totalprice', 2)} AS BIGINT)").alias(
            "cents"
        ),
        batch_pred.alias("is_batch"),
    )

    def partial_state(df: DataFrame) -> DataFrame:
        return df.groupBy("order_month", "o_custkey").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )

    base = partial_state(keyed.filter(~F.col("is_batch")))
    batch = partial_state(keyed.filter(F.col("is_batch")))
    merged = (
        base.unionByName(batch)
        .groupBy("order_month", "o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    return merged.groupBy("order_month").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.count("*").cast("long").alias("n_customers"),
    )


@query(
    "emb_matryoshka_prefix_recall",
    # both rankings replayed with the emb_cosine_topk device (_cos_sql
    # rounded score, id tiebreak); the prefix ranking scores DuckDB list
    # slices v[1:16] exactly as Spark scores F.slice(embedding, 1, 16)
    oracle=f"""
    WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id nid, embedding::DOUBLE[] v FROM embeddings
          WHERE vec_id >= 10),
    fr AS (SELECT qid, nid FROM (
             SELECT q.qid, c.nid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY {_cos_sql('q.v', 'c.v')} DESC, c.nid) rn
             FROM q, c) WHERE rn <= 10),
    pr AS (SELECT qid, nid FROM (
             SELECT q.qid, c.nid, row_number() OVER (PARTITION BY q.qid
                    ORDER BY {_cos_sql('q.v[1:16]', 'c.v[1:16]')} DESC,
                             c.nid) rn
             FROM q, c) WHERE rn <= 10),
    ov AS (SELECT fr.qid, CAST(count(*) AS BIGINT) n FROM fr
           JOIN pr ON fr.qid = pr.qid AND fr.nid = pr.nid GROUP BY fr.qid)
    SELECT qs.qid AS query_id,
           CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(ov.n, 0) * 1000 AS BIGINT) AS recall_x1e4
    FROM (SELECT DISTINCT qid FROM q) qs LEFT JOIN ov ON ov.qid = qs.qid
    """,
)
def emb_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) prefix-dimension recall self-evaluation — the
    third member of the measured-quality family (`emb_ivf_recall`,
    `dedup_lsh_recall`): rank the corpus by cosine on the FIRST 16 of 64
    dimensions (the cheap truncated-embedding pass MRL-trained models
    serve first) and report, per query, how many of the full-dimension
    top-10 the prefix top-10 recovers. recall@10 in basis points is
    ``n_overlap · 1000`` — integer-exact, no division. Both rankings are
    the `emb_cosine_topk` device (blocked numpy matmul, rounded score +
    id tiebreak), so the oracle replays them as two window CTEs over
    sliced and full lists. On non-MRL synthetic embeddings the prefix
    recall is expected to be LOW — the entry pins the measurement, and
    doubles as the coarse-pass calibration a prefix-then-rerank pipeline
    needs.

    Scale: two blocked brute-force passes — the prefix pass moves 4× less
    vector data (16 of 64 dims); the overlap join is top-k-sized
    (|Q|·10 rows both sides, broadcast); at serving scale the prefix pass
    is the candidate generator and the full pass reranks only candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    q, c = emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)

    return _mrl_prefix_recall_frame(q, c, prefix_dims=16)


def _mrl_prefix_recall_frame(
    q: DataFrame, c: DataFrame, prefix_dims: int
) -> DataFrame:
    """The comparison of `emb_matryoshka_prefix_recall`, parameterized by
    the prefix length so tests can pin the degenerate identity — a
    prefix of ALL dimensions reproduces the exact ranking, so every
    query's recall is 10000 (the full-probe ≡ exact analog the IVF and
    two-level entries also carry; tests/test_incremental_rollup.py)."""

    def prefix(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id", F.slice("embedding", 1, prefix_dims).alias("embedding")
        )

    full = similarity.cosine_topk(q, c, k=10).select("query_id", "neighbor_id")
    pref = similarity.cosine_topk(prefix(q), prefix(c), k=10).select(
        "query_id", "neighbor_id"
    )
    # both sides are top-k-sized (|Q|·10 rows) — broadcast the overlap
    # join so neither ranking re-shuffles
    ov = (
        full.join(F.broadcast(pref), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(F.broadcast(ov), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0).cast("long")) * 1000)
            .cast("long")
            .alias("recall_x1e4"),
        )
    )


@query(
    "tf_tags_inheritance_audit",
    # golden rows: inherited-only compliance (r2 has no tags argument at
    # all but the unaliased provider's default_tags cover it), merge of
    # inherited + own keys (r1), an aliased provider WITHOUT default_tags
    # (r3 — explicit ${aws.legacy} routes AWAY from the defaults), and a
    # provider with no block at all (r4)
    oracle="""
    SELECT * FROM (VALUES
      ('aws_instance.r1',          'aws',    NULL,
       'Env,Name,Owner', '',          'compliant'),
      ('aws_instance.r3',          'aws',    'legacy',
       'Name',           'Env,Owner', 'violation'),
      ('aws_s3_bucket.r2',         'aws',    NULL,
       'Env,Owner',      '',          'compliant'),
      ('google_storage_bucket.r4', 'google', NULL,
       '',               'Env,Owner', 'violation')
    ) t(address, provider_name, provider_alias, effective_tag_keys,
        missing_tags, status)
    """,
)
def tf_tags_inheritance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-compliance audit under provider ``default_tags`` inheritance —
    the governance query `tf_untagged_resources` approximates: a resource
    with no ``tags`` argument is NOT untagged if its resolved provider
    block declares ``default_tags`` (and conversely, explicit
    ``provider = name.alias`` routing can steer a resource AWAY from the
    defaults — the r3 case). Each config resource is resolved to its
    provider block by the `tf_resource_provider_join` rule (explicit
    ``${name.alias}`` wins, else the type prefix selects the unaliased
    block), its effective tag keys are the union of the provider's
    ``default_tags.tags`` keys and its own ``tags`` keys (both read with
    the documented JSON-member operators over ``arguments``), and the
    audit reports the sorted effective set, the required tags still
    missing (required = {Env, Owner}), and compliant/violation status.

    Scale: provider blocks are O(files) — the resolution join broadcasts;
    everything else is per-row JSON projection. Output is resource-sized."""
    eng = _tf_corpus_engine(spark, "tags")
    res = eng.table("terraform_resource").select(
        "address",
        "type",
        F.coalesce(
            F.json_object_keys(F.get_json_object("arguments", "$.tags")),
            F.expr("array()"),
        ).alias("own_keys"),
        F.coalesce(
            F.regexp_extract(
                "provider", r"^\$\{([A-Za-z0-9_-]+)(\.[A-Za-z0-9_-]+)?\}$", 1
            ),
            F.lit(""),
        ).alias("p_raw"),
        F.regexp_extract(
            "provider", r"^\$\{[A-Za-z0-9_-]+\.([A-Za-z0-9_-]+)\}$", 1
        ).alias("a_raw"),
    ).select(
        "address",
        "own_keys",
        F.when(F.col("p_raw") != "", F.col("p_raw"))
        .otherwise(F.split("type", "_")[0])
        .alias("provider_name"),
        F.when(F.col("a_raw") != "", F.col("a_raw")).alias("provider_alias"),
    )
    prov = eng.table("terraform_provider").select(
        F.col("name").alias("provider_name"),
        F.col("alias").alias("provider_alias"),
        F.coalesce(
            F.json_object_keys(
                F.get_json_object("arguments", "$.default_tags.tags")
            ),
            F.expr("array()"),
        ).alias("default_keys"),
    )
    joined = res.join(
        F.broadcast(prov),
        on=[
            res["provider_name"] == prov["provider_name"],
            res["provider_alias"].eqNullSafe(prov["provider_alias"]),
        ],
        how="left",
    )
    effective = F.array_sort(
        F.array_distinct(
            F.concat(
                F.col("own_keys"),
                F.coalesce(F.col("default_keys"), F.expr("array()")),
            )
        )
    )
    missing = F.array_sort(
        F.array_except(F.expr("array('Env', 'Owner')"), effective)
    )
    return joined.select(
        "address",
        res["provider_name"],
        res["provider_alias"],
        F.concat_ws(",", effective).alias("effective_tag_keys"),
        F.concat_ws(",", missing).alias("missing_tags"),
        F.when(F.size(missing) == 0, F.lit("compliant"))
        .otherwise(F.lit("violation"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# r12 candidate wave (drafted in r9, behind both the r10 budget and the
# five r11-wave entries above): same ⧖O contract — full Spark + oracle,
# parity-run at both SFs, plan-pinned, promoted only when a future
# round's budget opens.
# ---------------------------------------------------------------------------


@query(
    "q_events_bitmap_distinct_users",
    # the oracle computes n_users as a PLAIN COUNT(DISTINCT ...) — the
    # check is that the mergeable-bitmap device equals TRUE distinct,
    # not that DuckDB can replay the same packing. n_words (the bitmap's
    # occupied-word count, i.e. its state size) replays as the distinct
    # word-index count; // on non-negative ids ≡ Spark's DIV.
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id // 62) AS BIGINT) AS n_words
    FROM events GROUP BY event_type
    """,
)
def q_events_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via MERGEABLE BITMAP partial
    state — the roaring-bitmap exact-distinct device (ClickHouse
    groupBitmap / Druid 'Bitmap aggregation' / Kylin's exact count
    distinct), here in pure JVM expressions: user ids pack into 62-bit
    words (word_idx = id DIV 62, bit = id % 62 — 62 keeps every shift
    strictly below the sign bit on both engines), the first aggregation
    ORs words with a map-side combine, and the per-type answer is
    SUM(bit_count(word)). Complements the APPROXIMATE distinct family
    (q_kmv_distinct, q_approx_distinct, the logsketch entries) with the
    exact-but-still-mergeable point in the design space.

    Scale: the only exchange after the partial agg carries at most
    #types × ceil(max_id/62) 8-byte words REGARDLESS of event count —
    exact COUNT DISTINCT whose shuffled state is |users|/62 words
    instead of |users| raw ids, and whose partials merge by OR (the
    same mergeability contract the sketch entries pin, without the
    approximation). Needs dense non-negative int ids — true of
    dictionary-encoded user dims in training pipelines; sparse id
    spaces would swap the word for a roaring container, same algebra.
    Both aggregations are keyed (no single-partition stage anywhere);
    the scan prunes to (event_type, user_id)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return sketch.bitmap_distinct(
        ev, ["event_type"], "user_id"
    ).withColumnRenamed("n_distinct", "n_users")


@query(
    "q_lineitem_flag_status_chi2",
    # HUGEINT products on the DuckDB side (BIGINT overflow raises there);
    # // and DIV both truncate toward zero, and every numerator is a
    # square (≥ 0), so truncation ≡ floor on both engines — the
    # integer-division-parity device, no float anywhere.
    oracle="""
    WITH cells AS (SELECT l_returnflag, l_linestatus,
                          CAST(count(*) AS BIGINT) observed
                   FROM lineitem GROUP BY 1, 2),
    m AS (SELECT l_returnflag, l_linestatus, observed,
                 CAST(sum(observed) OVER (PARTITION BY l_returnflag) AS BIGINT) r_tot,
                 CAST(sum(observed) OVER (PARTITION BY l_linestatus) AS BIGINT) c_tot,
                 CAST(sum(observed) OVER () AS BIGINT) n_tot
          FROM cells)
    SELECT l_returnflag, l_linestatus, observed,
           CAST((r_tot::HUGEINT * c_tot * 100) // n_tot AS BIGINT)
             AS expected_e2,
           CAST(((observed::HUGEINT * n_tot - r_tot::HUGEINT * c_tot)
                 * (observed::HUGEINT * n_tot - r_tot::HUGEINT * c_tot)
                 * 1000000)
                // (r_tot::HUGEINT * c_tot * n_tot) AS BIGINT) AS contrib_e6
    FROM m
    """,
)
def q_lineitem_flag_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between return flag and line
    status — the categorical-association member of the integer-exact
    statistics family (3σ, MAD, A/B z-test, CUSUM, weighted median):
    one grouped count builds the contingency cells, the marginals come
    from windows OVER THE CELL FRAME (never a re-scan), and each cell
    reports its observed count, the expected count under independence
    in hundredths (R·C·100 DIV N), and its χ² contribution in
    millionths — ((O·N − R·C)² · 10⁶) DIV (R·C·N), the (O−E)²/E term
    multiplied out to integers so there is NO floating-point step at
    all: both engines do one integer floor-division per column.
    Σ contrib_e6 / 10⁶ is the χ² statistic (df = (R−1)(C−1)).

    Scale: one scan pruned to the two categorical columns, one keyed
    partial-agg shuffle carrying ≤ #flag×#status cell rows; the windows
    (including the deliberate single-partition grand-total) run over the
    agg-sized cell frame — same post-agg-tiny-frame exemption as the
    weighted-median/histogram entries. DECIMAL(38) headroom: the
    NUMERATOR (O·N − R·C)²·10⁶ binds first — |O·N − R·C| can reach
    ~N²/4, so the product crosses 10³⁸ near N ≈ 10⁸ rows, where
    non-ANSI Spark yields NULL while the HUGEINT replay raises (the
    docs/ORACLE_DEVICES.md failure-mode asymmetry). Past that, drop the
    10⁶ scale to 10² and/or mirror a two-stage division (diff² DIV
    (R·C), then ·10^d DIV N) on BOTH sides — floor-of-floor is a
    different (still deterministic) snap, so the sides must switch
    together."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("observed")
    )
    m = cells.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        F.sum("observed").over(Window.partitionBy("l_returnflag")).alias("r_tot"),
        F.sum("observed").over(Window.partitionBy("l_linestatus")).alias("c_tot"),
        F.sum("observed").over(Window.partitionBy()).alias("n_tot"),
    )
    diff = (
        "(CAST(observed AS DECIMAL(19,0)) * n_tot"
        " - CAST(r_tot AS DECIMAL(19,0)) * c_tot)"
    )
    return m.select(
        "l_returnflag",
        "l_linestatus",
        "observed",
        F.expr(
            "CAST(CAST(r_tot AS DECIMAL(19,0)) * c_tot * 100 DIV n_tot"
            " AS BIGINT)"
        ).alias("expected_e2"),
        F.expr(
            f"CAST({diff} * {diff} * 1000000"
            " DIV (CAST(r_tot AS DECIMAL(19,0)) * c_tot * n_tot) AS BIGINT)"
        ).alias("contrib_e6"),
    )


@query(
    "tf_unused_locals",
    # golden rows from the dedicated corpus, one local per usage class:
    # referenced from a resource + an output (owner, 2 blocks), a
    # resource only (az), a module argument in ANOTHER file (name_prefix
    # — the cross-file case), never referenced (budget), referenced ONLY
    # from inside locals blocks (chain_base — local-to-local chains that
    # never escape are dead weight transitively), and a local declared
    # in a SECOND locals block (helper — whose row carries the FIRST
    # block's position per the reference's getBlock first-match quirk,
    # pinned here as declared-and-unused). Values keep the engine's
    # byte-stable JSON encoding (strings quoted, numbers bare).
    oracle="""
    SELECT * FROM (VALUES
      ('az',          '"us-west-2a"',            1::BIGINT, 'used'),
      ('budget',      '100',                     0::BIGINT, 'unused'),
      ('chain_base',  '"x"',                     0::BIGINT, 'unused'),
      ('helper',      '"${local.chain_base}-h"', 0::BIGINT, 'unused'),
      ('name_prefix', '"acme"',                  1::BIGINT, 'used'),
      ('owner',       '"platform-team"',         2::BIGINT, 'used')
    ) t(name, value, n_ref_blocks, status)
    """,
)
def tf_unused_locals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unused-local hygiene audit — the usage-count question the
    reference's terraform_local doc poses directly ("If overused, they
    can also make configuration hard to read… uncover information about
    local values, such as those that are used multiple times",
    docs/tables/terraform_local.md): every declared local joined against
    the set of ``local.<name>`` traversals appearing in the SOURCE of
    any NON-locals config block, with ``n_ref_blocks`` counting distinct
    referencing blocks ((path, start_line) identity) — the
    `tf_unused_variables` device pointed at the locals table. References
    from INSIDE locals blocks do not count: row granularity cannot
    separate self-reference from sibling-reference there (every local in
    a file shares the first locals block's source per the reference's
    getBlock first-match quirk), and a local consumed only by other
    locals that never escape the block is dead weight transitively —
    the audit measures escape points. Same token-scan approximation as
    the variables audit (a ``local.x`` inside a string literal counts —
    the conservative direction for a deletion audit).

    Scale: one projection + regexp_extract_all over O(config blocks),
    one small distinct-and-count, one broadcast-sized join against the
    locals table — the reference set is bounded by #distinct local
    names actually referenced, never by corpus size."""
    wide = _tf_corpus_engine(spark, "locals_usage").wide()
    return _unused_decls_frame(
        wide,
        "terraform_local",
        _LOCAL_TOKEN_RE,
        ["name", "value"],
    )


def _cos_e6_sql(a: str, b: str) -> str:
    """Integer 1e-6-grid cosine (the BIGINT form of ``_cos_sql`` — the
    MMR replay compares scores in integer space, so the snap goes
    straight to BIGINT instead of back onto a double grid)."""
    return (
        f"CAST(floor(list_dot_product({a},{b}) / "
        f"(sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})))"
        f" * 1000000 + 0.5) AS BIGINT)"
    )


def _mmr_oracle() -> str:
    """Replay of ``similarity.mmr_select`` (k_candidates=8, k_select=4,
    λ=7/10): cosine_topk's rounded-rank candidate CTE, integer pairwise
    sims, then the four greedy steps UNROLLED as plain CTEs (each = one
    window argmax over the not-yet-selected candidates, penalty =
    greatest() over sims to the already-picked ids) — every comparison
    integer, so the replay is exact, not approximate."""
    parts = [
        "q AS (SELECT vec_id qid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10)",
        "c AS (SELECT vec_id nid, embedding::DOUBLE[] v FROM embeddings WHERE vec_id >= 10)",
        f"s AS (SELECT qid, nid, {_cos_sql('q.v', 'c.v')} cosine FROM q, c)",
        "cand AS (SELECT qid, nid,"
        " CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) rel_e6"
        " FROM (SELECT qid, nid, cosine, row_number() OVER"
        " (PARTITION BY qid ORDER BY cosine DESC, nid) rn FROM s)"
        " WHERE rn <= 8)",
        "pr AS (SELECT a.qid, a.nid i, b.nid j,"
        f" {_cos_e6_sql('ca.v', 'cb.v')} sim_e6"
        " FROM cand a JOIN cand b ON a.qid = b.qid"
        " JOIN c ca ON ca.nid = a.nid JOIN c cb ON cb.nid = b.nid)",
        "s1 AS (SELECT qid, nid AS p1, 7 * rel_e6 AS sc1 FROM"
        " (SELECT qid, nid, rel_e6, row_number() OVER"
        " (PARTITION BY qid ORDER BY rel_e6 DESC, nid) rn FROM cand)"
        " WHERE rn = 1)",
        "e2 AS (SELECT cd.qid, cd.nid, 7 * cd.rel_e6 - 3 * pa.sim_e6 AS sc"
        " FROM cand cd JOIN s1 ON s1.qid = cd.qid AND cd.nid <> s1.p1"
        " JOIN pr pa ON pa.qid = cd.qid AND pa.i = cd.nid AND pa.j = s1.p1)",
        "s2 AS (SELECT qid, nid AS p2, sc AS sc2 FROM"
        " (SELECT qid, nid, sc, row_number() OVER"
        " (PARTITION BY qid ORDER BY sc DESC, nid) rn FROM e2) WHERE rn = 1)",
        "e3 AS (SELECT cd.qid, cd.nid,"
        " 7 * cd.rel_e6 - 3 * greatest(pa.sim_e6, pb.sim_e6) AS sc"
        " FROM cand cd JOIN s1 ON s1.qid = cd.qid AND cd.nid <> s1.p1"
        " JOIN s2 ON s2.qid = cd.qid AND cd.nid <> s2.p2"
        " JOIN pr pa ON pa.qid = cd.qid AND pa.i = cd.nid AND pa.j = s1.p1"
        " JOIN pr pb ON pb.qid = cd.qid AND pb.i = cd.nid AND pb.j = s2.p2)",
        "s3 AS (SELECT qid, nid AS p3, sc AS sc3 FROM"
        " (SELECT qid, nid, sc, row_number() OVER"
        " (PARTITION BY qid ORDER BY sc DESC, nid) rn FROM e3) WHERE rn = 1)",
        "e4 AS (SELECT cd.qid, cd.nid,"
        " 7 * cd.rel_e6 - 3 * greatest(pa.sim_e6, pb.sim_e6, pc.sim_e6) AS sc"
        " FROM cand cd JOIN s1 ON s1.qid = cd.qid AND cd.nid <> s1.p1"
        " JOIN s2 ON s2.qid = cd.qid AND cd.nid <> s2.p2"
        " JOIN s3 ON s3.qid = cd.qid AND cd.nid <> s3.p3"
        " JOIN pr pa ON pa.qid = cd.qid AND pa.i = cd.nid AND pa.j = s1.p1"
        " JOIN pr pb ON pb.qid = cd.qid AND pb.i = cd.nid AND pb.j = s2.p2"
        " JOIN pr pc ON pc.qid = cd.qid AND pc.i = cd.nid AND pc.j = s3.p3)",
        "s4 AS (SELECT qid, nid AS p4, sc AS sc4 FROM"
        " (SELECT qid, nid, sc, row_number() OVER"
        " (PARTITION BY qid ORDER BY sc DESC, nid) rn FROM e4) WHERE rn = 1)",
    ]
    sel = " UNION ALL ".join(
        f"SELECT qid AS query_id, CAST({i} AS BIGINT) AS select_order,"
        f" p{i} AS neighbor_id, sc{i} AS mmr_score_x1e7 FROM s{i}"
        for i in (1, 2, 3, 4)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + sel


@query("emb_mmr_rerank", oracle=_mmr_oracle())
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (Carbonell & Goldstein 1998) — the
    relevance-vs-redundancy greedy that production retrieval and
    training-data curation run on top of a similarity top-k: for each of
    the 10 query vectors, pick 4 of its 8 nearest neighbors, each step
    maximizing λ·rel − (1−λ)·max-sim-to-already-picked (λ = 7/10).
    Complements the ANN family (which ranks by pure relevance) with the
    de-redundancy step; `docs_semantic_dedup` removes near-dups corpus-
    wide, MMR does it per-query at serving time.

    Determinism/oracle: relevance and pairwise sims snap to the 1e-6
    cosine grid, λ is rational, and the greedy argmax runs entirely in
    integer space with id tiebreaks — the DuckDB replay unrolls the four
    greedy steps as plain CTEs over the SAME snapped integers, so this
    is a full value check of an inherently sequential algorithm, not a
    rows-only pass (the same unroll discipline as the SCD2-merge /
    packing recursions).

    Scale: candidate generation is the blocked-matmul `cosine_topk`
    (corpus never shuffles into the greedy); candidates re-acquire
    vectors via a broadcast join (|Q|·8 rows build side); the greedy is
    an Arrow-batched grouped map over 8 rows per query — k×k integer
    work, independent of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mmr_select(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        k_candidates=8,
        k_select=4,
        lam10=7,
    )


@query(
    "stream_hourly_topk_types",
    # watermark-closure replay (the append-mode oracle device): closed
    # hours are those whose end <= final watermark = max(ts) - 2h; the
    # rank replays the batch tail's (n DESC, event_type) row_number.
    oracle="""
    WITH m AS (SELECT max(ts) mx FROM events),
    closed AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                      CAST(count(*) AS BIGINT) n
               FROM events
               WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                     <= (SELECT mx FROM m) - INTERVAL 2 HOUR
               GROUP BY 1, 2)
    SELECT hour, event_type, n, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT hour, event_type, n,
             row_number() OVER (PARTITION BY hour
                                ORDER BY n DESC, event_type) rnk
      FROM closed) WHERE rnk <= 3
    """,
)
def stream_hourly_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-closed-hour top-3 event types — the streaming-leaderboard
    shape, pinned the way production actually builds it: ranking is not
    expressible INSIDE an append stream (non-time windows are
    unsupported over streaming aggregates), so the stream emits
    watermark-closed (hour, type) count cells exactly once and the rank
    is a keyed window over the drained sink — the serving-layer split,
    with no lambda-architecture second pipeline because the closed cells
    are already exact. Reuses `hourly_counts_stream` and the
    append-closure oracle device (final watermark = max(ts) − 2h; a
    window is emitted iff its end ≤ watermark; corpus-tail hours stay
    open forever and never rank).

    Scale: stream state is bounded by open windows × types (watermark
    eviction); the rank input is the CLOSED-CELL set — hours × types,
    agg-sized — partitioned by hour, so the serving rank is a bounded
    keyed window, never a re-scan of events."""
    from .streaming.events import hourly_counts_stream, read_events_stream

    sink = _drain_memory_sink(
        spark,
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "__stream_hourly_topk",
        "append",
        source_path=f"{sf_dir}/events.parquet",
    )
    w = Window.partitionBy("hour").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        sink
        .select("hour", "event_type", F.col("n").cast("long").alias("n"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "docs_bpe_merge_pairs",
    # byte/char parity: words filtered to pure-ASCII alpha (the
    # edit-distance entry's normalization device), so substring(w,i,2)
    # is identical in both engines; DuckDB range(1, n) is end-exclusive
    # = Spark sequence(1, n-1). Top-20 under the (cnt DESC, pair) total
    # order so the LIMIT boundary cannot differ.
    oracle="""
    WITH w AS (SELECT w, CAST(count(*) AS BIGINT) wcnt
               FROM (SELECT unnest(string_split(text, ' ')) w
                     FROM documents) t
               WHERE regexp_matches(w, '^[A-Za-z]+$') AND length(w) >= 2
               GROUP BY w),
    p AS (SELECT substring(w.w, i, 2) AS pair, wcnt
          FROM w, unnest(range(1, length(w.w))) r(i))
    SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
    FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def docs_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING statistics — the first merge-selection
    round of byte-pair encoding (Sennrich et al. 2016): the most
    frequent adjacent symbol pair across the corpus, weighted by word
    frequency, is the pair the next merge rule would fuse.
    `docs_bpe_tokens` applies a tokenizer; this entry is the statistic
    the TRAINER iterates on. Returns the top-20 (pair, corpus count)
    under a deterministic total order.

    Scale — the classic BPE-training trick, stated as a plan property:
    pair counting runs over the DISTINCT-WORD table (one corpus scan →
    word-count agg), so the explode is vocabulary-sized (|V| × avg word
    length), not corpus-sized — at 100 TB the corpus contributes one
    scan + one keyed count, and everything after is bounded by the
    vocabulary. The top-20 is a TakeOrderedAndProject (no global sort).
    Words are filtered to pure-ASCII alpha so char ≡ byte in both
    engines (the edit-distance normalization device)."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[A-Za-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wcnt"))
    )
    pairs = words.select(
        "wcnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wcnt").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


_MODULE_TOKEN_RE = _TOKEN_LB + "module\\\\.([A-Za-z_][A-Za-z0-9_-]*)"


@staged_query(
    "tf_undeclared_references",
    # golden rows from the dedicated corpus: one dangling token per kind
    # (a typo'd variable, a never-declared local, a ghost module) while
    # the valid refs (var.region, local.prefix, module.net) prove the
    # anti-join keeps silent about declared names
    oracle="""
    SELECT * FROM (VALUES
      ('local',  'zone_missing',  1::BIGINT),
      ('module', 'ghost',         1::BIGINT),
      ('var',    'instance_typo', 1::BIGINT)
    ) t(kind, ref_name, n_ref_blocks)
    """,
)
def tf_undeclared_references(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dangling-reference audit — the inverse of the unused audits and
    the `terraform validate`-lite every review bot runs: every
    ``var.X`` / ``local.X`` / ``module.X`` traversal in config-block
    source that matches NO declaration of its kind (a typo, a deleted
    variable still referenced, a module removed but still wired into an
    output). Same token-scan approximation and same
    declaring-table-excluded / escape-point semantics as
    `tf_unused_variables` / `tf_unused_locals` (shared
    _VAR_TOKEN_RE/_LOCAL_TOKEN_RE constants; `module.X.attr` captures X
    because the token regex stops at the first dot).

    Scale: three token scans over ONE parsed wide frame, the dangling
    set computed by an anti-join against the broadcast-sized declared
    names (metadata, never corpus-scale) — one parse pass regardless of
    corpus size, output bounded by #distinct dangling names."""
    wide = _tf_corpus_engine(spark, "dangling").wide()
    kinds = [
        ("var", _VAR_TOKEN_RE, "terraform_variable"),
        ("local", _LOCAL_TOKEN_RE, "terraform_local"),
        ("module", _MODULE_TOKEN_RE, "terraform_module"),
    ]
    refs = None
    decls = None
    for kind, rex, table in kinds:
        r = (
            wide.filter(
                (F.col("file_kind") == "config")
                & (F.col("tf_table") != table)
            )
            .select(
                "path",
                "start_line",
                F.explode(
                    F.expr(
                        "array_distinct(regexp_extract_all("
                        f"source, '{rex}', 1))"
                    )
                ).alias("ref_name"),
            )
            .distinct()
            .withColumn("kind", F.lit(kind))
        )
        d = wide.filter(F.col("tf_table") == table).select(
            F.lit(kind).alias("kind"), F.col("name").alias("ref_name")
        )
        refs = r if refs is None else refs.unionByName(r)
        decls = d if decls is None else decls.unionByName(d)
    dangling = refs.join(F.broadcast(decls), ["kind", "ref_name"], "left_anti")
    return dangling.groupBy("kind", "ref_name").agg(
        F.count("*").cast("long").alias("n_ref_blocks")
    )


def _settings_frame(spark: SparkSession, corpus: str) -> DataFrame:
    """The engine-internal ``terraform_settings`` rows of a fixture
    corpus, projected to (file, arguments-JSON extractions used by the
    settings audits). Shared by the r14 settings-surface wave."""
    return _settings_wide(_tf_corpus_engine(spark, corpus).wide())


def _settings_wide(wide: DataFrame) -> DataFrame:
    """``_settings_frame`` over an ALREADY-BUILT wide frame — for
    entries that also read other row kinds from the same corpus and
    must not parse it through a second engine."""
    return wide.filter(F.col("tf_table") == "terraform_settings").select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("file"),
        F.get_json_object("arguments", "$.required_version").alias("req_ver"),
        F.get_json_object("arguments", "$.required_providers").alias("rp"),
        F.get_json_object("arguments", "$.backend").alias("backend"),
        F.get_json_object("arguments", "$.cloud").alias("cloud"),
    )


def _required_provider_entries(st: DataFrame) -> DataFrame:
    """(file, name, source_addr, version_constraint) rows from a
    settings frame's ``required_providers`` JSON. Spark's ``from_json``
    to ``map<string,string>`` keeps nested objects as raw JSON text, so
    one extraction handles both the modern block form (source +
    optional version) and the legacy single-string constraint form."""
    return (
        st.filter(F.col("rp").isNotNull())
        .select("file", F.explode(F.from_json("rp", "map<string,string>")))
        .select(
            "file",
            F.col("key").alias("name"),
            # block form carries the entry as raw JSON text; the legacy
            # form is the bare constraint string
            F.when(
                F.col("value").startswith("{"),
                F.get_json_object("value", "$.source"),
            ).alias("source_addr"),
            F.when(
                F.col("value").startswith("{"),
                F.get_json_object("value", "$.version"),
            )
            .otherwise(F.col("value"))
            .alias("version_constraint"),
        )
    )


@query(
    "tf_required_providers_audit",
    # golden rows from the dedicated corpus: a fully-pinned block-form
    # provider, the legacy single-string constraint form, a block-form
    # provider with source but no version, a terraform block with a CLI
    # constraint, and one (backend-only) without — plus main.tf proving
    # files with no terraform block contribute nothing
    oracle="""
    SELECT * FROM (VALUES
      ('backend.tf',  'core',     'terraform', CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), 'unpinned'),
      ('versions.tf', 'core',     'terraform', CAST(NULL AS VARCHAR),
       '>= 1.3.0, < 2.0.0',   'pinned'),
      ('versions.tf', 'provider', 'aws',      'hashicorp/aws',
       '~> 5.0',              'pinned'),
      ('versions.tf', 'provider', 'external', 'hashicorp/external',
       CAST(NULL AS VARCHAR), 'unpinned'),
      ('versions.tf', 'provider', 'random',   CAST(NULL AS VARCHAR),
       '>= 2.7.0',            'pinned')
    ) t(file, kind, name, source_addr, version_constraint, status)
    """,
)
def tf_required_providers_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-constraint audit over ``terraform`` settings blocks — the
    one documented config construct the seven public tables don't carry
    (the reference's HCL schema recognizes the block, utils.go:316-325,
    including a decoy top-level ``required_providers`` entry that exists
    purely to emit a "nest it inside terraform" hint; its docs' example
    corpus opens with one). The engine parses settings blocks into
    engine-internal ``terraform_settings`` wide-frame rows (tfcore/
    rows.py — carried like ``file_kind``, never projected into the
    public tables), and this audit reports one row per version
    constraint surface: ``kind='core'`` for each block's
    ``required_version`` CLI constraint (NULL → unpinned) and
    ``kind='provider'`` for every ``required_providers`` entry — both
    the modern block form (source + optional version; Spark's
    ``from_json`` to ``map<string,string>`` keeps nested objects as raw
    JSON text, so one extraction handles both) and the legacy
    single-string constraint form. ``status`` is pinned/unpinned on the
    version constraint alone; an unpinned provider is the drift
    time-bomb this governance query exists to find.

    Scale: settings blocks are config metadata — O(files) rows, one
    projection + JSON extraction + a narrow explode and union, no
    shuffle anywhere (the plan pin): at 100 TB of config this stays an
    embarrassingly parallel scan."""
    st = _settings_frame(spark, "settings")
    core = st.select(
        "file",
        F.lit("core").alias("kind"),
        F.lit("terraform").alias("name"),
        F.lit(None).cast("string").alias("source_addr"),
        F.col("req_ver").alias("version_constraint"),
    )
    prov = _required_provider_entries(st).select(
        "file",
        F.lit("provider").alias("kind"),
        "name",
        "source_addr",
        "version_constraint",
    )
    return core.unionByName(prov).withColumn(
        "status",
        F.when(F.col("version_constraint").isNotNull(), F.lit("pinned"))
        .otherwise(F.lit("unpinned")),
    )


@query(
    "tf_state_lineage_audit",
    # golden rows from the dedicated corpus: two files sharing a lineage
    # (serial 7 current vs serial 4 stale backup — the left-behind copy
    # this audit exists to flag), a single-file lineage, and an empty
    # state (0 resources still reports, status current)
    oracle="""
    SELECT * FROM (VALUES
      ('dev_empty.tfstate',   'c001d00d-dev',   1::BIGINT, '1.6.2',
       0::BIGINT, 'current'),
      ('prod.tfstate',        '3f8a1c2e-prod',  7::BIGINT, '1.5.7',
       2::BIGINT, 'current'),
      ('prod_backup.tfstate', '3f8a1c2e-prod',  4::BIGINT, '1.4.6',
       1::BIGINT, 'stale'),
      ('staging.tfstate',     '9b4d77aa-stag', 12::BIGINT, '1.6.2',
       1::BIGINT, 'current')
    ) t(file, lineage, serial, terraform_version, n_resources, status)
    """,
)
def tf_state_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State lineage/serial freshness audit — the `.tfstate` header
    fields the reference's state parser reads past without surfacing
    (its row builder keys on ``resources`` only; ``lineage``/``serial``/
    ``terraform_version`` are the sibling top-level fields): every state
    file reports its lineage (workspace identity minted at ``terraform
    init``), serial (monotone write counter — two files sharing a
    lineage are THE SAME workspace at different times), CLI version, and
    managed-resource count; within each lineage the max-serial file is
    ``current`` and every other copy is a ``stale`` backup/leftover
    whose apply would fork state. Pairs with tf_plan_state_drift: that
    audit asks "does this state match the plan", this one asks "is this
    even the state file to trust". Read Spark-natively
    (``spark.read.json`` with an EXPLICIT schema — header fields only,
    so column pruning never deserializes resource bodies; ties to the
    multiLine JSON source surface) rather than through the HCL engine:
    state headers are plain JSON, no position/quirk machinery applies.

    Scale: O(state files) rows of header metadata; one scan + one
    lineage-keyed window over a files-sized frame — the single exchange
    is the audit's grouping semantics, not a data shuffle."""
    df = (
        spark.read.option("multiLine", "true")
        .schema(
            "lineage string, serial long, terraform_version string, "
            "resources array<struct<mode string, type string, name string>>"
        )
        .json(f"{_TF_FIXTURES}/statelineage/*.tfstate")
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), "([^/]+)$", 1
            ).alias("file"),
            "lineage",
            "serial",
            "terraform_version",
            F.coalesce(F.size("resources"), F.lit(0))
            .cast("long")
            .alias("n_resources"),
        )
    )
    w = Window.partitionBy("lineage")
    return df.withColumn(
        "status",
        F.when(
            F.col("serial") == F.max("serial").over(w), F.lit("current")
        ).otherwise(F.lit("stale")),
    )


@query(
    "tf_backend_audit",
    # golden rows from the dedicated corpus: an encrypted s3 backend, an
    # s3 backend WITHOUT the encrypt flag (the unencrypted-at-rest
    # finding), a terraform block with no backend (implicit local), a
    # Terraform Cloud block — plus main.tf proving files without a
    # terraform block contribute nothing
    oracle="""
    SELECT * FROM (VALUES
      ('cloud.tf',  'cloud', true,  CAST(NULL AS BOOLEAN),
       'acme'),
      ('legacy.tf', 's3',    true,  false,
       'acme-tf-state'),
      ('local.tf',  'local', false, CAST(NULL AS BOOLEAN),
       CAST(NULL AS VARCHAR)),
      ('prod.tf',   's3',    true,  true,
       'acme-tf-state-prod')
    ) t(file, backend_type, remote, encrypted, location)
    """,
)
def tf_backend_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-storage audit over ``terraform`` settings blocks: where
    does each configuration keep its state, and is it protected? One
    row per terraform block — ``backend_type`` is the labeled backend
    block's label (the parser folds ``backend "s3" { ... }`` into
    ``{"backend": {"s3": {...}}}``), ``cloud`` when only a Terraform
    Cloud block is present, else the implicit ``local`` default (state
    on disk, unlocked, unversioned — the governance finding).
    ``encrypted`` is the s3 backend's ``encrypt`` flag with absent →
    false (Terraform's own default: omitting the flag stores state
    plaintext at rest), NULL for backend types where the flag doesn't
    apply; ``location`` is the s3 bucket / cloud organization. The
    reference recognizes the terraform block but surfaces no table for
    it (utils.go:316-325) — this pairs with tf_required_providers_audit
    on the same engine-internal ``terraform_settings`` rows.

    Scale: same shape as the providers audit — O(config files) settings
    rows, per-row JSON extraction only (the one-backend-per-block rule
    lets ``element_at`` replace a generator), no exchange, no join: an
    embarrassingly parallel scan at any corpus size."""
    st = _settings_frame(spark, "backend").select(
        "file",
        F.from_json("backend", "map<string,string>").alias("bk"),
        "cloud",
    )
    typed = st.select(
        "file",
        F.when(
            F.col("bk").isNotNull(), F.element_at(F.map_keys("bk"), 1)
        )
        .when(F.col("cloud").isNotNull(), F.lit("cloud"))
        .otherwise(F.lit("local"))
        .alias("backend_type"),
        F.element_at(F.map_values("bk"), 1).alias("_cfg"),
        "cloud",
    )
    return typed.select(
        "file",
        "backend_type",
        (F.col("backend_type") != "local").alias("remote"),
        F.when(
            F.col("backend_type") == "s3",
            F.coalesce(
                F.get_json_object("_cfg", "$.encrypt").cast("boolean"),
                F.lit(False),
            ),
        ).alias("encrypted"),
        F.when(
            F.col("backend_type") == "cloud",
            F.get_json_object("cloud", "$.organization"),
        )
        .when(
            F.col("backend_type") == "s3",
            F.get_json_object("_cfg", "$.bucket"),
        )
        .alias("location"),
    )


@query(
    "tf_provider_version_matrix",
    # golden rows from the dedicated corpus: aws constrained+configured+
    # used, random constrained via the legacy string form and used but
    # never configured, google configured+used with NO constraint (the
    # drift time-bomb), archive constrained but absent everywhere else
    oracle="""
    SELECT * FROM (VALUES
      ('archive', '~> 2.4',               false, 0::BIGINT,
       'unused_constraint'),
      ('aws',     '~> 5.0',               true,  2::BIGINT,
       'constrained_in_use'),
      ('google',  CAST(NULL AS VARCHAR),  true,  1::BIGINT,
       'unconstrained_in_use'),
      ('random',  '>= 3.0,>= 3.5',        false, 1::BIGINT,
       'constrained_in_use')
    ) t(name, version_constraint, configured, n_resources, status)
    """,
)
def tf_provider_version_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provider governance matrix — the cross-surface reconciliation the
    settings audit alone can't see: for every provider name appearing
    ANYWHERE in the corpus, its ``required_providers`` version
    constraint (settings rows, shared ``_required_provider_entries``
    device), whether a ``provider`` block configures it, and how many
    resources use it (provider inferred from the resource type's
    leading segment — ``aws_instance`` → ``aws``, the registry's own
    naming contract). A provider declared in MORE THAN ONE terraform
    block aggregates to one row: version_constraint is the sorted
    comma-join of the distinct declared constraints (Terraform itself
    intersects them; the audit surfaces all of them), NULL when no
    declaration carries a version. All three surfaces read ONE wide
    frame — one corpus parse, not one engine per surface. Status: ``constrained_in_use`` (constraint +
    configured-or-used), ``unconstrained_in_use`` (in use with no
    version constraint — the upgrade time-bomb ``terraform init
    -upgrade`` detonates), ``unused_constraint`` (constraint pinning a
    provider nothing references — dead governance).

    Scale: all three surfaces are O(config files) frames off ONE corpus
    scan; the name roll-up is a union+distinct, then three BROADCAST
    left joins (plan-pinned: no SortMergeJoin — a full-outer would
    force one, which is why the spine is built by union instead). At
    100 TB of config the spine is still provider-name-sized."""
    wide = _tf_corpus_engine(spark, "providermatrix").wide()
    st = _settings_wide(wide)
    declared = (
        _required_provider_entries(st)
        .groupBy("name")
        .agg(
            F.expr(
                "NULLIF(concat_ws(',', array_sort("
                "collect_set(version_constraint))), '')"
            ).alias("version_constraint")
        )
    )
    configured = (
        wide.filter(F.col("tf_table") == "terraform_provider")
        .select("name")
        .distinct()
        .withColumn("is_conf", F.lit(True))
    )
    used = (
        wide.filter(F.col("tf_table") == "terraform_resource")
        .select(F.regexp_extract("type", "^([a-z0-9]+)_", 1).alias("name"))
        .filter(F.col("name") != "")
        .groupBy("name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_res"))
    )
    spine = (
        declared.select("name")
        .unionByName(configured.select("name"))
        .unionByName(used.select("name"))
        .distinct()
    )
    m = (
        spine.join(F.broadcast(declared), "name", "left")
        .join(F.broadcast(configured), "name", "left")
        .join(F.broadcast(used), "name", "left")
        .select(
            "name",
            "version_constraint",
            F.coalesce("is_conf", F.lit(False)).alias("configured"),
            F.coalesce("n_res", F.lit(0)).cast("long").alias("n_resources"),
        )
    )
    return m.withColumn(
        "status",
        F.when(
            F.col("version_constraint").isNotNull()
            & (F.col("configured") | (F.col("n_resources") > 0)),
            F.lit("constrained_in_use"),
        )
        .when(
            F.col("version_constraint").isNotNull(), F.lit("unused_constraint")
        )
        .otherwise(F.lit("unconstrained_in_use")),
    )


@query(
    "stream_state_serial_watch",
    # final-answer closure: a complete-mode aggregation with an
    # availableNow drain converges to the batch answer over the corpus —
    # per lineage, the highest serial seen and how many copies exist
    oracle="""
    SELECT * FROM (VALUES
      ('3f8a1c2e-prod',  7::BIGINT, 2::BIGINT),
      ('9b4d77aa-stag', 12::BIGINT, 1::BIGINT),
      ('c001d00d-dev',   1::BIGINT, 1::BIGINT)
    ) t(lineage, latest_serial, n_copies)
    """,
)
def stream_state_serial_watch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming companion to tf_state_lineage_audit: state files ARRIVE
    (CI uploads, backup syncs, `terraform apply` rewrites), and the
    watch keeps, per lineage, the highest serial seen so far plus the
    copy count — the live "which state file is current" board. Running
    state is one (lineage → max-serial, count) pair per workspace:
    max/count are order-insensitive monotone merges, so micro-batches
    fold in like batch partials — no watermark needed, state bounded by
    the number of workspaces, complete-mode output. Reads `.tfstate`
    headers Spark-natively through the streaming JSON source (multiLine,
    explicit header-only schema — the streaming read never deserializes
    resource bodies, same pruning argument as the batch audit).

    Scale: per-lineage state is two longs; a fleet of a million
    workspaces holds a million rows of state — the exchange carries
    partial (lineage, max, count) triples, independent of how many
    state-file versions ever streamed through."""
    src = (
        spark.readStream.schema(
            "lineage string, serial long, terraform_version string"
        )
        .option("multiLine", "true")
        .option("pathGlobFilter", "*.tfstate")
        .json(f"{_TF_FIXTURES}/statelineage/")
    )
    agg = src.groupBy("lineage").agg(
        F.max("serial").alias("latest_serial"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )
    return _drain_memory_sink(
        spark, agg, "stream_state_serial_watch", "complete",
        source_path=f"{_TF_FIXTURES}/statelineage/",
    )


_CLUSTER_QUALITY_SQL = f"""
    WITH {_LLOYD_FULL},
    d AS (SELECT af.bucket,
                 CAST(floor((list_dot_product(af.v, af.v)
                             - 2 * list_dot_product(af.v, c.cv)
                             + list_dot_product(c.cv, c.cv)) * 10000 + 0.5)
                      AS BIGINT) d2
          FROM af JOIN c3 c ON af.bucket = c.cid),
    agg AS (SELECT bucket, CAST(count(*) AS BIGINT) n,
                   CAST(sum(d2) AS BIGINT) sd, max(d2) mx
            FROM d GROUP BY bucket),
    sep AS (SELECT a.cid AS bucket,
                   min(CAST(floor((list_dot_product(a.cv, a.cv)
                                   - 2 * list_dot_product(a.cv, b.cv)
                                   + list_dot_product(b.cv, b.cv))
                                  * 10000 + 0.5) AS BIGINT)) ms
            FROM c3 a JOIN c3 b ON a.cid <> b.cid GROUP BY a.cid)
    SELECT agg.bucket AS cluster_id, agg.n,
           CAST(agg.sd // agg.n AS BIGINT) AS mean_d2_e4,
           agg.mx AS max_d2_e4,
           sep.ms AS min_sep_e4,
           CAST((agg.sd // agg.n) * 10000 // NULLIF(sep.ms, 0) AS BIGINT)
               AS crowding_bp
    FROM agg JOIN sep ON sep.bucket = agg.bucket
"""


@query("emb_cluster_quality", oracle=_CLUSTER_QUALITY_SQL)
def emb_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster QA over the shared corpus k-means — the audit a
    curation pipeline runs before trusting its clusters (SemDeDup prunes
    WITHIN clusters, balanced sampling weights BY cluster: a crowded or
    diffuse cluster silently corrupts both). Per non-empty cluster:
    population, mean/max snapped squared distance to the own centroid
    (cohesion / radius), squared distance to the nearest other centroid
    (separation), and crowding = mean-intra over separation in basis
    points. Integer-exact end to end: 1e-4-grid BIGINT distances (the
    same |v|²−2vc+|c|² + grid device as the Lloyd assignment itself, so
    the ulp-absorption argument carries over), integer sums, and the two
    all-positive integer divisions where Spark DIV == DuckDB //. Reuses
    the session k-means (``_kmeans16``) — the oracle replays the full
    Lloyd CTE chain and recomputes the report in SQL.

    Scale: one broadcast join (k×dim centroids) + one bucket-keyed agg
    whose exchange carries k partial rows; the centroid pairwise is a
    k-row broadcast self-join (k² ≤ N under the √N cap), never
    driver-side. See ``operators/similarity.py:cluster_quality``."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cluster_quality(
        emb, assignment=_kmeans16(spark, sf_dir, "full")
    )


# the metrics CTE below carries the same quality/lang expressions as
# docs_curation_pipeline's `m` (promoted — left untouched there) MINUS
# its n_tokens column, which the funnel does not need; if the curation
# entry ever rotates through a validation window, unify the shared
# expressions into one constant then
_PIPELINE_FUNNEL_SQL = (
    "WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + """,
    """ + _MINHASH_CAND_CTE + """,
    pairs AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
              JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    edges AS (SELECT id_a u, id_b v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    m AS (
      SELECT doc_id,
             floor((0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                   + 0.5 * least(floor(len(list_filter(string_split(text, ' '),
                                       w -> w IN ('the','a','of','and','to'))) * 1.0
                                 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 * 5.0,
                                 1.0)) * 10000 + 0.5) / 10000 AS quality,
             CASE WHEN len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to'))) = 0
                       AND len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que'))) = 0
                       AND len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu'))) = 0
                       AND len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) = 0 THEN 'und'
                  WHEN len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))
                       AND len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu')))
                       AND len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) THEN 'en'
                  WHEN len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu')))
                       AND len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) THEN 'es'
                  WHEN len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','zu')))
                       >= len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','les'))) THEN 'de'
                  ELSE 'fr' END AS pred_lang
      FROM documents),
    gates AS (SELECT m.doc_id,
                 (m.pred_lang = 'en') AS g1,
                 (m.pred_lang = 'en' AND m.quality >= 0.5) AS g2,
                 (m.pred_lang = 'en' AND m.quality >= 0.5
                  AND coalesce(c.cluster_id, m.doc_id) = m.doc_id) AS g3
          FROM m LEFT JOIN comp c ON m.doc_id = c.doc_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) n0,
                 CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) n1,
                 CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) n2,
                 CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) n3
          FROM gates),
    stages AS (SELECT 'lang_en' AS stage, n0 AS n_in, n1 AS n_out FROM tot
          UNION ALL SELECT 'quality_ge_05', n1, n2 FROM tot
          UNION ALL SELECT 'dedup_canonical', n2, n3 FROM tot)
    SELECT stage, n_in, n_out, n_in - n_out AS n_dropped,
           CAST(COALESCE((n_in - n_out) * 10000 // NULLIF(n_in, 0), 0)
                AS BIGINT) AS drop_bp
    FROM stages
    """
)


def _funnel_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-canonical id sliver of the shared cluster map (broadcast
    side of the funnel's dedup gate) — one rendering for the batch and
    streaming funnels."""
    return (
        _dedup_cluster_map(spark, sf_dir)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
        .withColumn("is_dup", F.lit(True))
    )


def _funnel_counts(docs: DataFrame, dups: DataFrame) -> DataFrame:
    """Gate flags fused into one projection + the 4-counter aggregate —
    THE funnel semantics, defined once so the batch entry, the
    streaming entry, and the shared oracle cannot fork: g1 = lang==en,
    g2 = g1 ∧ quality≥0.5, g3 = g2 ∧ not-a-duplicate."""
    flags = docs.select(
        "doc_id",
        text.lang_pred_expr("text").alias("pl"),
        text.quality_expr("text").alias("q"),
    ).join(F.broadcast(dups), "doc_id", "left")
    g1 = F.col("pl") == "en"
    g2 = g1 & (F.col("q") >= 0.5)
    g3 = g2 & F.col("is_dup").isNull()
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(g1.cast("long")).cast("long").alias("n1"),
        F.sum(g2.cast("long")).cast("long").alias("n2"),
        F.sum(g3.cast("long")).cast("long").alias("n3"),
    )


def _funnel_report(t: DataFrame) -> DataFrame:
    """3-row stage stack + drop rates from a (n0..n3) counter row."""
    s = t.selectExpr(
        "stack(3, 'lang_en', n0, n1, 'quality_ge_05', n1, n2, "
        "'dedup_canonical', n2, n3) AS (stage, n_in, n_out)"
    )
    return s.select(
        "stage",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        F.expr(
            "CAST(COALESCE((n_in - n_out) * 10000 DIV NULLIF(n_in, 0), 0) "
            "AS BIGINT)"
        ).alias("drop_bp"),
    )


@query("docs_pipeline_funnel", oracle=_PIPELINE_FUNNEL_SQL)
def docs_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-pipeline FUNNEL report: how many documents each gate
    of the docs_curation_pipeline chain admits — language gate first
    (cheapest), quality second, near-dup canonicality last — with
    per-stage drop counts and basis-point drop rates (all-positive
    integer division; 0 when a stage sees an empty input). This is the
    run-report a 100 TB curation job emits alongside its output: the
    number every data-mixture decision is made from, computed in the
    same pass the pipeline already does.

    Spark shape: the metric flags fuse into ONE projection over the
    parquet scan; the canonicality flag joins only the NON-canonical id
    set (the dup fraction — typically a sliver of the corpus, broadcast)
    rather than the full cluster map; then one global counter roll-up
    (map-side partials, the exchange carries one counter row per
    partition) and a 3-row stack. Gate semantics are identical to
    docs_curation_pipeline — stage 3's survivor count IS that entry's
    row count, by construction."""
    docs = _t(spark, sf_dir, "documents")
    return _funnel_report(
        _funnel_counts(docs, _funnel_dups(spark, sf_dir))
    )


@query(
    "tf_variable_hygiene",
    # golden rows from the dedicated corpus: a fully-documented variable,
    # a sensitive one (source-anchored detection; extra.tf's commented
    # '# sensitive = true' must NOT mark api_token), and three lint cases
    # missing type and/or description
    oracle="""
    SELECT * FROM (VALUES
      ('extra.tf',     'api_token',      true,  false, true,  false,
       0::BIGINT, 'clean'),
      ('extra.tf',     'legacy_ami',     false, true,  false, false,
       2::BIGINT, 'needs_attention'),
      ('variables.tf', 'db_password',    true,  false, true,  true,
       0::BIGINT, 'clean'),
      ('variables.tf', 'instance_count', false, true,  false, false,
       2::BIGINT, 'needs_attention'),
      ('variables.tf', 'region',         true,  true,  true,  false,
       0::BIGINT, 'clean'),
      ('variables.tf', 'tags',           false, true,  true,  false,
       1::BIGINT, 'needs_attention')
    ) t(file, name, has_type, has_default, has_description, is_sensitive,
        n_gaps, status)
    """,
)
def tf_variable_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable lint report — the module-interface hygiene audit
    (Terraform's own style guide: every variable documents a type and a
    description; a variable with neither is an undocumented required
    input): per variable, whether type / default / description are
    present, whether it is marked sensitive (the same source-anchored
    ``(?m)^\\s*sensitive\\s*=\\s*true`` token-scan as
    tf_sensitive_output_audit, so a commented-out flag does not count;
    the table's own ``sensitive`` column is always NULL by reference
    quirk, table_terraform_variable.go:226-233), a gap count (missing
    type + missing description), and clean / needs_attention. A missing
    default is reported but NOT a gap — required inputs are legitimate
    interface design.

    Scale: O(variable blocks) metadata, one projection over the wide
    frame, no exchange, no join — embarrassingly parallel like the
    settings audits."""
    wide = _tf_corpus_engine(spark, "varhygiene").wide()
    v = wide.filter(F.col("tf_table") == "terraform_variable").select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("file"),
        "name",
        F.col("type").isNotNull().alias("has_type"),
        F.col("default_value").isNotNull().alias("has_default"),
        F.col("description").isNotNull().alias("has_description"),
        F.col("source")
        .rlike("(?m)^\\s*sensitive\\s*=\\s*true")
        .alias("is_sensitive"),
    )
    gaps = (~F.col("has_type")).cast("long") + (
        ~F.col("has_description")
    ).cast("long")
    return v.withColumn("n_gaps", gaps).withColumn(
        "status",
        F.when(F.col("n_gaps") == 0, F.lit("clean")).otherwise(
            F.lit("needs_attention")
        ),
    )


def _ppl_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc NLL scores, read twice by the perplexity-buckets entry
    (sketch feed, then bucket assignment): the bigram-LM chain runs once."""

    def build() -> DataFrame:
        lp = text.bigram_logprob(_t(spark, sf_dir, "documents"))
        return lp.select(
            "doc_id",
            F.expr(f"CAST({rounding.units_sql('-mean_logprob', 4)} AS BIGINT)").alias("nll_e4"),
        ).localCheckpoint(eager=True)

    return state.get(spark, "ppl_scores", state.corpus_digest(sf_dir), build)


# the threshold CTE wraps the PROMOTED docs_bigram_logprob oracle verbatim
# (composed from ORACLES at module load — zero text duplication, so the
# two entries cannot drift), then replays the log-bucket sketch with the
# verbatim-shared sketch.logbucket_expr text
_PPL_BUCKETS_SQL = f"""
    WITH lp AS ({{inner}}),
    sc AS (SELECT doc_id,
                  CAST(floor(-mean_logprob * 10000 + 0.5) AS BIGINT) v
           FROM lp),
    b AS (SELECT {sketch.logbucket_expr('v', 8)} AS lb,
                 CAST(count(*) AS BIGINT) cnt
          FROM sc GROUP BY 1),
    cu AS (SELECT lb, CAST(sum(cnt) OVER (ORDER BY lb) AS BIGINT) cum,
                  CAST(sum(cnt) OVER () AS BIGINT) n FROM b),
    qe AS (SELECT q_pct, min(lb) AS est
           FROM cu, (VALUES (33), (66)) qs(q_pct)
           WHERE cum * 100 >= q_pct * n GROUP BY q_pct),
    th AS (SELECT max(CASE WHEN q_pct = 33 THEN est END) t33,
                  max(CASE WHEN q_pct = 66 THEN est END) t66 FROM qe)
    SELECT sc.doc_id, sc.v AS nll_e4,
           CASE WHEN sc.v <= th.t33 THEN 'head'
                WHEN sc.v <= th.t66 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM sc CROSS JOIN th
""".replace("{inner}", ORACLES["docs_bigram_logprob"])


@query("docs_perplexity_buckets", oracle=_PPL_BUCKETS_SQL)
def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split by language-model score
    (Wenzek et al. 2020: bucket a corpus by LM perplexity tertiles, then
    sample by bucket): per document, the integer negative mean bigram
    logprob (1e-4 grid, so -mean·10⁴ is exactly representable and the
    snap recovers the integer) and its tertile bucket. The tertile
    THRESHOLDS come from the mergeable log-bucket sketch — NOT a global
    rank: ranking N documents needs a global sort, while the sketch's
    exchange carries ≤ ~1.9k bucket rows regardless of N and the bucket
    assignment is then a per-row comparison against a broadcast 1-row
    threshold frame. Head = most fluent (lowest NLL). Oracle composes
    the PROMOTED bigram-logprob oracle verbatim inside a CTE (zero
    duplication) with the verbatim-shared logbucket expression text.
    m=8 (top 9 significant bits) because NLL scores cluster tightly —
    at m=5 a narrow score distribution collapses the tertiles onto a
    couple of bucket edges; 2⁻⁸ = 0.39 % value error keeps the split
    near 33/33/33 while the sketch stays ≤ ~14k rows, N-independent.

    Scale: the score pass is docs_bigram_logprob's vocab-sized joins;
    the sketch feed and the assignment both read it, so the entry
    CHECKPOINTS the per-doc score frame per (session, corpus) — one
    execution of the LM chain serves both passes (the production
    analog: checkpoint the score table between them); everything after
    is sketch-sized — the bounded-error escape from rank-tertiles'
    global sort."""
    sc = _ppl_scores(spark, sf_dir)
    sk = sketch.logsketch(sc, "nll_e4", m=8)
    th = sketch.logsketch_quantiles(sk, [33, 66]).agg(
        F.max(F.when(F.col("q_pct") == 33, F.col("est"))).alias("t33"),
        F.max(F.when(F.col("q_pct") == 66, F.col("est"))).alias("t66"),
    )
    return sc.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "nll_e4",
        F.when(F.col("nll_e4") <= F.col("t33"), F.lit("head"))
        .when(F.col("nll_e4") <= F.col("t66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# the oracle IS the batch funnel SQL, shared verbatim — the driver then
# checks the stream≡batch identity itself (the strongest oracle form for
# a streaming leg, same device as scd2_merge)
@query("stream_docs_pipeline_funnel", oracle=_PIPELINE_FUNNEL_SQL)
def stream_docs_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leg of docs_pipeline_funnel: documents ARRIVE (crawl
    shards landing in object storage) and the funnel counters update as
    they stream through — the live curation dashboard. The gate flags
    are stateless per-document expressions fused into the streaming
    projection; the canonicality gate is a stream-static broadcast join
    against the batch dup-id set (the production pattern: dedup state
    is maintained batch-side, the stream consults it); running state is
    ONE row of four counters (global streaming aggregate, complete
    mode — counts are monotone merges, no watermark needed). The 3-row
    stage stack and drop rates are computed batch-side from the drained
    counters. Oracle = the batch funnel SQL verbatim, so the driver
    checks the stream≡batch identity itself.

    Scale: state is four longs regardless of stream volume; each
    micro-batch contributes map-side partial counters — the same
    counter roll-up shape as the batch entry, incrementalized."""
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    agg = _funnel_counts(src, _funnel_dups(spark, sf_dir))
    t = _drain_memory_sink(
        spark, agg, "stream_docs_pipeline_funnel", "complete",
        source_path=f"{sf_dir}/documents.parquet",
    )
    return _funnel_report(t)


def _ivf_probe_parts(nprobe: int, tag: str) -> str:
    """One (probe → score → rank → hits) CTE triplet at the given
    nprobe, namespaced by ``tag`` — the probe/score pair is the SAME
    ``_probe_score_parts`` rendering ``_ivf_cte`` embeds, so the recall
    curve replays exactly the probe the IVF entries replay."""
    return ",\n    ".join(
        _probe_score_parts(nprobe, 3, tag)
        + [
            f"r{tag} AS (SELECT qid, nid FROM (SELECT qid, nid, row_number() "
            "OVER (PARTITION BY qid ORDER BY cosine DESC, nid) rank "
            f"FROM s{tag}) WHERE rank <= 5)",
            f"h{tag} AS (SELECT CAST(count(*) AS BIGINT) c "
            f"FROM bf JOIN r{tag} ON r{tag}.qid = bf.qid AND r{tag}.nid = bf.nid)",
        ]
    )


_RECALL_CURVE_SQL = f"""
    WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] v
               FROM embeddings WHERE vec_id < 10),
    {_COARSE_PARTS},
    bf AS (SELECT qid, nid FROM (
        SELECT q.qid, e.nid, row_number() OVER (PARTITION BY q.qid ORDER BY
            {_cos_sql('q.v', 'e.v')} DESC, e.nid) rnk
        FROM q, e) WHERE rnk <= 5),
    n AS (SELECT CAST(count(*) AS BIGINT) t FROM bf),
    {_ivf_probe_parts(1, "p1")},
    {_ivf_probe_parts(2, "p2")},
    {_ivf_probe_parts(4, "p4")}
    SELECT 1::BIGINT AS nprobe, hp1.c AS n_hits,
           CAST(hp1.c * 10000 // n.t AS BIGINT) AS recall_bp FROM hp1, n
    UNION ALL
    SELECT 2::BIGINT, hp2.c, CAST(hp2.c * 10000 // n.t AS BIGINT) FROM hp2, n
    UNION ALL
    SELECT 4::BIGINT, hp4.c, CAST(hp4.c * 10000 // n.t AS BIGINT) FROM hp4, n
"""


@query("emb_ann_recall_curve", oracle=_RECALL_CURVE_SQL)
def emb_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning report: recall@5 vs brute force at nprobe ∈
    {1, 2, 4} in one entry — the curve an IVF deployment reads to pick
    its latency/recall operating point (emb_ivf_recall gives one point;
    tuning needs the shape). All three probe depths share ONE session
    k-means and ONE brute-force ground truth; recall is hits·10⁴ DIV
    |exact| (all-positive integer division). The oracle replays the
    Lloyd chain once and chains three namespaced probe→score→rank CTE
    triplets behind it.

    Scale: ground truth is |Q|·N scored once (the documented
    brute-force baseline shape); each curve point adds only a probe
    ranking (|Q|·k) and a candidate scan of the probed buckets — the
    curve costs little more than its deepest point, and nothing
    recomputes the quantizer."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    # ground truth is ≤ |Q|·k rows by contract (vec_id < 10 queries, k=5)
    # — the documented bounded-collect class: materialize it ONCE
    # driver-side and re-emit as a local frame, so the |Q|·N brute-force
    # matmul runs once for all three curve points. Not cached in Spark's
    # cache manager: it would plan-match the identical cosine_topk subtree
    # inside emb_ivf_recall (the state.py rule).
    exact_rows = (
        similarity.cosine_topk(queries, corpus, k=5)
        .select("query_id", "neighbor_id")
        .collect()
    )
    exact = spark.createDataFrame(
        exact_rows, "query_id long, neighbor_id long"
    )
    n_exact = len(exact_rows)
    assigned, centroids = _kmeans16(spark, sf_dir, "ge10")
    # r15: the three probe pipelines are FUSED — one probe pass at
    # nprobe=4 with probe-position tags; each point's candidate set is a
    # ppos-prefix subset, recovered with running-count ranks in ONE
    # window pass (similarity.ivf_topk_curve has the exactness argument).
    # Plan diff: 3 corpus-assignment scans + 3 bucket joins + 3 window
    # sorts → 1 each; per-point rows are bit-identical to the unfused
    # ivf_topk loop (pinned by test_ivf_topk_curve_matches_pointwise).
    approx = similarity.ivf_topk_curve(
        queries, assigned, centroids, k=5, nprobes=(1, 2, 4)
    ).select("nprobe", "query_id", "neighbor_id")
    counts = (
        approx.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    # 3-row point spine so a zero-hit depth still emits its row (the
    # unfused loop's global agg emitted 0-rows; groupBy alone would drop them)
    spine = spark.createDataFrame([(1,), (2,), (4,)], "nprobe long")
    return (
        spine.join(F.broadcast(counts), "nprobe", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("long"))
        .select(
            "nprobe",
            "n_hits",
            F.expr(f"CAST(n_hits * 10000 DIV {n_exact} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )


# the chain below reuses the dedup_clusters minhash→CC CTEs (same shared
# _SHINGLE_CTE/_MINHASH_CAND_CTE constants); `csz` avoids the chain's own
# `sz` (shingle sizes) CTE name
# the full minhash→LSH→verify→CC chain down to the per-cluster size frame
# `csz` (and the doc-level map `alln`), then the one-row rate report
_DEDUP_RATE_SQL = (
    "WITH RECURSIVE "
    + _SHINGLE_CTE.split("WITH", 1)[1]
    + """,
    """ + _MINHASH_CAND_CTE + """,
    pairs AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
              JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
              WHERE s.c * 1.0 / (x.n + y.n - s.c) >= 0.8),
    edges AS (SELECT id_a u, id_b v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v <> r.a
    ),
    comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
    alln AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) cid
             FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    csz AS (SELECT cid, CAST(count(*) AS BIGINT) n FROM alln GROUP BY cid),
    tot AS (SELECT CAST(count(*) AS BIGINT) nd FROM alln),
    agg AS (SELECT CAST(count(*) AS BIGINT) nc, CAST(max(n) AS BIGINT) mx FROM csz)
    SELECT tot.nd AS n_docs, agg.nc AS n_clusters,
           tot.nd - agg.nc AS n_dup_docs,
           CAST((tot.nd - agg.nc) * 10000 // tot.nd AS BIGINT) AS dup_rate_bp,
           agg.mx AS max_cluster_size
    FROM tot, agg
    """
)


@query("docs_dedup_rate_report", oracle=_DEDUP_RATE_SQL)
def docs_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup run-report — the one-row summary a dedup pass
    publishes next to its output (the sibling of docs_pipeline_funnel's
    per-gate report): document count, near-dup cluster count, duplicate
    document count (docs minus canonical — one canonical per cluster by
    the least-id rule), the duplicate rate in basis points
    (all-positive integer division), and the largest cluster (the
    boilerplate-explosion smoke alarm). Reads the SHARED session
    cluster map (`_dedup_cluster_map` — dedup_clusters / curation /
    golden-record reuse the same build); the oracle replays the full
    minhash→LSH→verify→CC chain and aggregates it.

    Scale: one pass over the checkpointed map — a cluster-keyed count then
    a one-row counter roll-up; nothing touches document text."""
    m = _dedup_cluster_map(spark, sf_dir)
    cs = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return cs.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.max("n").alias("max_cluster_size"),
    ).select(
        "n_docs",
        "n_clusters",
        (F.col("n_docs") - F.col("n_clusters")).alias("n_dup_docs"),
        F.expr(
            "CAST((n_docs - n_clusters) * 10000 DIV n_docs AS BIGINT)"
        ).alias("dup_rate_bp"),
        "max_cluster_size",
    )


@staged_query(
    "tf_moved_blocks_audit",
    # golden rows from the dedicated corpus: a plain rename, a
    # same-name retype, a module rename, and a resource pulled into a
    # module — plus main.tf proving files without moved blocks
    # contribute nothing
    oracle="""
    SELECT * FROM (VALUES
      ('refactor.tf', 'aws_instance.a',    'aws_instance.b',
       'rename'),
      ('refactor.tf', 'aws_instance.web',  'aws_spot_instance.web',
       'retype'),
      ('refactor.tf', 'aws_s3_bucket.logs',
       'module.storage.aws_s3_bucket.logs', 'into_module'),
      ('refactor.tf', 'module.old_net',    'module.net',
       'module_rename')
    ) t(file, from_addr, to_addr, kind)
    """,
)
def tf_moved_blocks_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refactoring audit over ``moved`` blocks — pending state-address
    migrations `terraform apply` will perform without destroying
    anything. The reference's HCL schema recognizes the block
    (utils.go:354-356) but declares no table for it, the same gap class
    as the terraform settings block; the engine parses it into
    engine-internal ``terraform_moved`` wide-frame rows (tfcore/
    rows.py). One row per moved block: from/to addresses (traversals
    render as ``${...}`` interpolations — stripped here) and a kind
    classification — ``module_rename`` (both sides module addresses),
    ``into_module`` (destination moved under a module), ``rename``
    (same resource type), ``retype`` (type changed in place, the
    provider-deprecation pattern). Pairs with tf_state_lineage_audit
    and tf_plan_state_drift: those ask which state to trust and what
    apply will change; this one explains address diffs that are
    refactors, not drift.

    Scale: O(moved blocks) metadata, per-row JSON extraction, no
    exchange, no join — the settings-audit shape."""
    wide = _tf_corpus_engine(spark, "moved").wide()
    mv = wide.filter(F.col("tf_table") == "terraform_moved").select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("file"),
        F.regexp_extract(
            F.get_json_object("arguments", "$.from"), r"^\$\{(.*)\}$", 1
        ).alias("from_addr"),
        F.regexp_extract(
            F.get_json_object("arguments", "$.to"), r"^\$\{(.*)\}$", 1
        ).alias("to_addr"),
    )
    from_mod = F.col("from_addr").startswith("module.")
    to_mod = F.col("to_addr").startswith("module.")
    same_type = F.split("from_addr", "\\.")[0] == F.split("to_addr", "\\.")[0]
    return mv.withColumn(
        "kind",
        F.when(from_mod & to_mod, F.lit("module_rename"))
        .when(~from_mod & to_mod, F.lit("into_module"))
        .when(same_type, F.lit("rename"))
        .otherwise(F.lit("retype")),
    )


@staged_query(
    "tf_provider_alias_orphans",
    # golden rows from the dedicated corpus, one resource per routing
    # class: explicit alias that resolves (a), explicit alias with no
    # matching block (b — the orphan terraform init/plan rejects),
    # implicit default with an unaliased block (c), implicit default
    # with NO blocks of that name at all (d — terraform synthesizes an
    # empty config; normal), and implicit default where ONLY aliased
    # blocks exist (e — legal but suspicious: every declared azurerm
    # config is aliased, so the resource silently uses an empty default)
    oracle="""
    SELECT * FROM (VALUES
      ('aws_instance.a',           'aws',     'west', 'ok_aliased'),
      ('aws_instance.b',           'aws',     'east', 'orphan_alias'),
      ('aws_s3_bucket.c',          'aws',     NULL,   'ok_default'),
      ('azurerm_storage_account.e','azurerm', NULL,   'default_missing'),
      ('google_storage_bucket.d',  'google',  NULL,   'implicit_default')
    ) t(address, provider_name, provider_alias, status)
    """,
)
def tf_provider_alias_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provider-routing audit — the config-hygiene question behind
    `terraform providers`: which resources route to a provider
    configuration that doesn't exist? Each config resource resolves by
    the `tf_resource_provider_join` rule (explicit ``provider =
    name.alias`` wins, else the type prefix implies the unaliased
    default), then classifies: ``ok_aliased`` (explicit alias, block
    exists), ``orphan_alias`` (explicit alias, NO matching block — the
    reference your plan fails on), ``ok_default`` (implicit, unaliased
    block declared), ``default_missing`` (implicit, but every declared
    block of that name is aliased — legal, yet the resource silently
    uses an empty default config while configured ones sit unused),
    ``implicit_default`` (no blocks of that name at all — terraform
    synthesizes an empty config; normal for zero-config providers).

    Scale: provider blocks are O(files) — both the alias-resolution
    join and the has-unaliased/has-any lookups broadcast; everything
    else is per-row projection. Output is resource-sized."""
    eng = _tf_corpus_engine(spark, "provideralias")
    res = eng.table("terraform_resource").select(
        "address",
        F.coalesce(
            F.regexp_extract(
                "provider", r"^\$\{([A-Za-z0-9_-]+)(\.[A-Za-z0-9_-]+)?\}$", 1
            ),
            F.lit(""),
        ).alias("p_raw"),
        F.regexp_extract(
            "provider", r"^\$\{[A-Za-z0-9_-]+\.([A-Za-z0-9_-]+)\}$", 1
        ).alias("a_raw"),
        F.split("type", "_")[0].alias("type_prefix"),
    ).select(
        "address",
        F.when(F.col("p_raw") != "", F.col("p_raw"))
        .otherwise(F.col("type_prefix"))
        .alias("provider_name"),
        F.when(F.col("a_raw") != "", F.col("a_raw")).alias("provider_alias"),
    )
    prov = (
        eng.table("terraform_provider")
        .groupBy(F.col("name").alias("provider_name"))
        .agg(
            F.max(F.col("alias").isNull().cast("int")).alias("has_unaliased"),
            F.collect_set("alias").alias("aliases"),
        )
    )
    joined = res.join(F.broadcast(prov), "provider_name", "left")
    has_alias_block = F.array_contains(
        F.coalesce(F.col("aliases"), F.expr("array()")),
        F.col("provider_alias"),
    )
    return joined.select(
        "address",
        "provider_name",
        "provider_alias",
        F.when(
            F.col("provider_alias").isNotNull(),
            F.when(has_alias_block, F.lit("ok_aliased")).otherwise(
                F.lit("orphan_alias")
            ),
        )
        .when(F.col("has_unaliased") == 1, F.lit("ok_default"))
        .when(F.col("has_unaliased").isNotNull(), F.lit("default_missing"))
        .otherwise(F.lit("implicit_default"))
        .alias("status"),
    )


@staged_query(
    "tf_count_foreach_expansion",
    # golden rows from the dedicated corpus, one resource per expansion
    # class: literal count (3), var-driven count (the NullIfZero quirk
    # means a literal `count = 0` ALSO lands here — documented), literal
    # for_each map (3 keys) and list (2 items), var-driven for_each,
    # and a plain single-instance resource
    oracle="""
    SELECT * FROM (VALUES
      ('aws_instance.c3',     'static_count',    CAST(3 AS BIGINT)),
      ('aws_instance.cv',     'dynamic_count',   CAST(NULL AS BIGINT)),
      ('aws_instance.fe_var', 'dynamic_foreach', CAST(NULL AS BIGINT)),
      ('aws_s3_bucket.single','single',          CAST(1 AS BIGINT)),
      ('aws_subnet.fe_list',  'static_foreach',  CAST(2 AS BIGINT)),
      ('aws_subnet.fe_map',   'static_foreach',  CAST(3 AS BIGINT))
    ) t(address, expansion, n_instances)
    """,
)
def tf_count_foreach_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-size estimation from meta-arguments — "how many instances
    will this config create?": each config resource classifies by its
    count/for_each shape (the reference parses both —
    table_terraform_resource.go:327-335 for the gocty count coercion;
    the engine's count/count_src/for_each columns carry them) into
    ``static_count`` (literal count → n = count), ``dynamic_count``
    (count is an expression — or a literal 0, which the NullIfZero
    quirk makes indistinguishable from unset; both audits document it),
    ``static_foreach`` (literal map/list, or ``toset([...])`` over a
    literal list — the form real terraform REQUIRES for lists, since
    for_each takes only maps/sets → n = key/element count via the JSON
    operators), ``dynamic_foreach`` (expression), ``single`` (no
    meta-arg → n = 1). Σ n_instances over the static rows is the
    statically-knowable floor of the plan size. Note the static-parse
    leniency: a bare literal list (which terraform itself rejects at
    plan time) still classifies static_foreach — this engine measures
    config text, it does not validate it.

    Scale: O(config resources) metadata, per-row JSON projection, no
    exchange, no join — the settings-audit plan contract."""
    res = _tf_corpus_engine(spark, "expansion").table("terraform_resource")
    first = F.substring("for_each", 1, 1)
    # toset(<literal list>) arrives JSON-encoded as the interpolation
    # string "${toset([...])}" — unescape \" and pull the inner array;
    # json_array_length is NULL unless it parses as literal JSON (a
    # var/expr inside makes it invalid → falls through to dynamic)
    toset_n = F.expr(
        r"""json_array_length(nullif(regexp_extract(
            regexp_replace(for_each, '\\\\"', '"'),
            '^"\\$\\{toset\\((\\[.*\\])\\)\\}"$', 1), ''))"""
    ).cast("long")
    return res.select(
        "address",
        F.when(F.col("count").isNotNull(), F.lit("static_count"))
        .when(F.col("count_src").isNotNull(), F.lit("dynamic_count"))
        .when(
            F.col("for_each").isNotNull()
            & (first.isin("[", "{") | toset_n.isNotNull()),
            F.lit("static_foreach"),
        )
        .when(F.col("for_each").isNotNull(), F.lit("dynamic_foreach"))
        .otherwise(F.lit("single"))
        .alias("expansion"),
        F.when(F.col("count").isNotNull(), F.col("count").cast("long"))
        .when(
            F.col("for_each").isNotNull() & (first == "["),
            F.expr("CAST(json_array_length(for_each) AS BIGINT)"),
        )
        .when(
            F.col("for_each").isNotNull() & (first == "{"),
            F.expr("CAST(size(json_object_keys(for_each)) AS BIGINT)"),
        )
        .when(F.col("for_each").isNotNull() & toset_n.isNotNull(), toset_n)
        .when(
            F.col("count_src").isNull() & F.col("for_each").isNull(),
            F.lit(1).cast("long"),
        )
        .alias("n_instances"),
    )


@query(
    "tf_lifecycle_audit",
    # golden rows from the dedicated corpus, one resource per lifecycle
    # class: prevent_destroy=true (protected), create_before_destroy
    # (zero_downtime), ignore_changes list (drift_blind, n_ignored=2),
    # ignore_changes=all (drift_blind_all), explicit prevent_destroy=
    # false (default — absent and explicit-false are the SAME terraform
    # behavior, pinned), no lifecycle at all (default), and a combined
    # block (protected wins the precedence: a resource that cannot be
    # destroyed is the strongest statement regardless of what else is
    # set). n_ignored is NULL when ignore_changes is absent OR `all`
    # (there is no list to count).
    oracle="""
    SELECT * FROM (VALUES
      ('aws_autoscaling_group.asg',      false, false, false,
       2::BIGINT,           'drift_blind'),
      ('aws_db_instance.prod_db',        true,  false, false,
       CAST(NULL AS BIGINT), 'protected'),
      ('aws_db_instance.replica',        true,  true,  false,
       1::BIGINT,           'protected'),
      ('aws_elasticache_cluster.cache',  false, false, false,
       CAST(NULL AS BIGINT), 'default'),
      ('aws_instance.web',               false, true,  false,
       CAST(NULL AS BIGINT), 'zero_downtime'),
      ('aws_s3_bucket.legacy',           false, false, true,
       CAST(NULL AS BIGINT), 'drift_blind_all'),
      ('aws_sqs_queue.plain',            false, false, false,
       CAST(NULL AS BIGINT), 'default')
    ) t(address, prevent_destroy, create_before_destroy, ignores_all,
        n_ignored, status)
    """,
)
def tf_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle meta-argument governance audit — "which resources are
    deletion-protected, which are drift-blind?": every config resource
    classified by its `lifecycle` block (the reference parses lifecycle
    into the resource row wholesale — table_terraform_resource.go:70
    `Lifecycle map[string]interface{}`; this engine's `lifecycle`
    column carries the same JSON). ``prevent_destroy`` /
    ``create_before_destroy`` default to FALSE when absent (terraform's
    own defaults, so explicit-false and unset classify identically);
    ``ignore_changes`` is either a traversal list (n_ignored counts the
    entries a plan will silently skip — the drift-blindness surface) or
    the keyword ``all`` (flagged separately: the resource ignores every
    argument change). Status precedence: protected > drift_blind_all >
    drift_blind > zero_downtime > default — deletion protection is the
    strongest statement a block can make.

    Scale: O(config resources) metadata, per-row JSON extraction, no
    exchange, no join — the settings-audit plan contract."""
    res = _tf_corpus_engine(spark, "lifecycle").table("terraform_resource")
    pd_ = F.coalesce(
        F.get_json_object("lifecycle", "$.prevent_destroy") == "true",
        F.lit(False),
    )
    cbd = F.coalesce(
        F.get_json_object("lifecycle", "$.create_before_destroy") == "true",
        F.lit(False),
    )
    ic = F.get_json_object("lifecycle", "$.ignore_changes")
    # ENCODING CONTRACT: `ignore_changes = all` is the bare keyword
    # `all` in HCL; the parser encodes every bare traversal as the
    # interpolation string "${<traversal>}" (hcl/parser.py, the kics
    # output contract — same encoding tf_count_foreach_expansion keys
    # on for `count = var.x`). A list value encodes as a JSON array
    # instead, so the string compare below cannot collide with it; if
    # the parser's traversal encoding ever changes, the golden-corpus
    # oracle row for aws_s3_bucket.legacy (drift_blind_all) fails
    # loudly rather than silently reclassifying to drift_blind/default.
    ignores_all = F.coalesce(ic == "${all}", F.lit(False))
    n_ignored = F.expr(
        "json_array_length(get_json_object(lifecycle, '$.ignore_changes'))"
    ).cast("long")
    return res.select(
        "address",
        pd_.alias("prevent_destroy"),
        cbd.alias("create_before_destroy"),
        ignores_all.alias("ignores_all"),
        n_ignored.alias("n_ignored"),
        F.when(pd_, F.lit("protected"))
        .when(ignores_all, F.lit("drift_blind_all"))
        .when(n_ignored > 0, F.lit("drift_blind"))
        .when(cbd, F.lit("zero_downtime"))
        .otherwise(F.lit("default"))
        .alias("status"),
    )


# Attribute line whose value is a PURE quoted interpolation "${...}" —
# the terraform-0.12 "interpolation-only expression" deprecation (a
# composite "${a}-${b}" or "${x}-suffix" legitimately needs the quotes
# and is NOT flagged; [^"{}$] forbids nesting so the wrap must close at
# the end of the string). Kept as a module constant with a literal-dot
# regression test (tests/test_staged_independent.py) per the
# regex-in-SQL escaping gotcha — though this one deliberately goes
# through F.regexp_extract_all's Column API, which has ONE escaping
# layer (Python), not two.
_LEGACY_INTERP_RE = (
    r'(?m)^\s*([A-Za-z_][A-Za-z0-9_-]*)\s*=\s*"\$\{[^"{}$]+\}"\s*$'
)


@query(
    "tf_legacy_interpolation_audit",
    # golden rows from the dedicated corpus: a resource with TWO pure
    # legacy wraps (ami + availability_zone), one with one (bucket;
    # its sibling `acl` is a plain string), an output whose value is a
    # pure wrap, and — pinned by ABSENCE — the modern bare-traversal
    # forms, the composite "${var.env}-alerts" (interpolation the
    # quotes genuinely need), and plain string literals
    oracle="""
    SELECT * FROM (VALUES
      ('terraform_output',   'legacy_out',
       1::BIGINT, 'value'),
      ('terraform_resource', 'aws_instance.legacy_both',
       2::BIGINT, 'ami,availability_zone'),
      ('terraform_resource', 'aws_s3_bucket.legacy_one',
       1::BIGINT, 'bucket')
    ) t(tf_table, block, n_legacy, legacy_attrs)
    """,
)
def tf_legacy_interpolation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Legacy-interpolation lint (`terraform fmt`'s TF-0.12 rewrite /
    tflint's interpolation-only rule): attribute lines whose value is a
    PURE quoted interpolation ``"${expr}"`` — redundant quoting that
    predates first-class expressions and defeats type checking (the
    wrap forces string conversion). Scans the SOURCE text of every
    1-row-per-block config table (resources, data sources, providers,
    modules, outputs, variables — locals excluded: every local in a
    file shares one block source, so a per-row scan would multiply-
    count); composite interpolations like ``"${var.env}-alerts"`` are
    legitimate and not flagged. Reports offenders only: distinct
    offending attribute names (sorted, comma-joined) + their count.

    Scale: one regexp projection over O(config blocks) source text +
    one block-keyed dedup/agg of the extracted attr names — no join,
    no corpus-sized shuffle (the frame is offender-sized after the
    explode/agg)."""
    wide = _tf_corpus_engine(spark, "legacyinterp").wide()
    blocks = wide.filter(
        (F.col("file_kind") == "config")
        & (F.col("tf_table") != "terraform_local")
    ).select(
        "tf_table",
        F.coalesce("address", "name").alias("block"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(
                    "source", F.lit(_LEGACY_INTERP_RE), 1
                )
            )
        ).alias("attr"),
    )
    return (
        blocks.groupBy("tf_table", "block")
        .agg(
            F.count("*").cast("long").alias("n_legacy"),
            F.array_join(F.array_sort(F.collect_set("attr")), ",").alias(
                "legacy_attrs"
            ),
        )
    )


@query(
    "q_lineitem_mannwhitney_u",
    # the rank-sum test stated as contingency-grid algebra: U needs no
    # ranks at all — 2U = 2·Σ[qa>qb] nA·nB + Σ[qa=qb] nA·nB over group
    # count cells (the ½-tie convention integerized by carrying 2U).
    # Variance keeps the standard tie correction, every factor
    # multiplied out; z² lands on the thousandths grid via the
    # documented TWO-STAGE positive floor division (dev²·10³ DIV nAnB,
    # then ·3N(N−1) DIV (N+1)N(N−1)−Σ(t³−t)) — both engines replay the
    # same stage order, so the snap is bit-identical by construction
    oracle="""
    WITH grid AS (
      SELECT l_linestatus g, CAST(l_quantity AS BIGINT) q,
             CAST(count(*) AS BIGINT) n
      FROM lineitem GROUP BY 1, 2),
    a AS (SELECT q, n FROM grid WHERE g = 'F'),
    b AS (SELECT q, n FROM grid WHERE g = 'O'),
    tot AS (SELECT (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM a) n_a,
                   (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM b) n_b),
    c AS (SELECT CAST(coalesce(sum(CASE WHEN a.q > b.q
                        THEN a.n::HUGEINT * b.n END), 0) AS HUGEINT) conc,
                 CAST(coalesce(sum(CASE WHEN a.q = b.q
                        THEN a.n::HUGEINT * b.n END), 0) AS HUGEINT) tie_n
          FROM a JOIN b ON TRUE),
    t3 AS (SELECT CAST(sum(t*t*t - t) AS HUGEINT) ties_sum FROM
            (SELECT CAST(sum(n) AS HUGEINT) t FROM grid GROUP BY q)),
    f AS (SELECT n_a, n_b, 2*conc + tie_n AS u2,
                 n_a::HUGEINT * n_b AS mean2, n_a + n_b AS nn, ties_sum
          FROM tot, c, t3)
    SELECT CAST(n_a AS BIGINT) n_a, CAST(n_b AS BIGINT) n_b,
           CAST(u2 AS BIGINT) u2,
           CAST(CASE WHEN mean2 > 0
                      AND (nn + 1)::HUGEINT * nn * (nn - 1) - ties_sum > 0
                THEN (((u2 - mean2) * (u2 - mean2) * 1000)
                      // (n_a::HUGEINT * n_b))
                     * 3 * nn * (nn - 1)
                     // ((nn + 1)::HUGEINT * nn * (nn - 1) - ties_sum)
                END AS BIGINT) z2_e3
    FROM f
    """,
)
def q_lineitem_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the two linestatus
    populations' quantities — the NONPARAMETRIC two-sample location
    test completing the A/B family (`q_events_ab_significance` is the
    parametric z-test; this one assumes nothing about the quantity
    distribution). Stated via the CONTINGENCY-GRID device: U never
    needs per-row ranks —
    2U = 2·Σ nA(q)·nB(q') over q>q' plus the tie cells once — so after
    ONE keyed agg to the (group × quantity) grid (≤ 2·|quantity
    levels| cells) the pair algebra is grid-sized. The normal
    approximation keeps the full tie correction (Σ(t³−t) from pooled
    cell counts); z² reaches the thousandths grid through a DOCUMENTED
    two-stage positive floor division replayed in the same order by
    both engines — deterministic by construction, snapped, never a
    float.

    Scale: one scan pruned to two columns, one keyed partial-agg
    shuffle to the grid, then the bounded-collect device (grid ≤
    2×50 cells, corpus-independent) re-emitted as local frames — the
    non-equi pair join is grid-sized and the final row folds from
    scalars. Pair products: DECIMAL(38,0)/HUGEINT carry nA·nB² to
    ~10¹² rows per group; past that, evaluate on a sampled slice (the
    statistic is sample-based anyway)."""
    grid = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_linestatus").alias("g"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("g", "q")
        .agg(F.count("*").cast("long").alias("n"))
    )
    rows = grid.collect()  # bounded: grid-sized, corpus-independent
    n_a = sum(r["n"] for r in rows if r["g"] == "F")
    n_b = sum(r["n"] for r in rows if r["g"] == "O")
    pooled: dict = {}
    for r in rows:
        pooled[r["q"]] = pooled.get(r["q"], 0) + r["n"]
    ties_sum = sum(t * t * t - t for t in pooled.values())
    nn = n_a + n_b
    local = spark.createDataFrame(rows, grid.schema)
    a = local.filter(F.col("g") == "F").select("q", "n").alias("a")
    b = local.filter(F.col("g") == "O").select("q", "n").alias("b")
    prod = "CAST(a.n AS DECIMAL(38,0)) * b.n"
    pairs = a.join(F.broadcast(b), F.col("a.q") >= F.col("b.q")).agg(
        F.expr(
            f"coalesce(sum(CASE WHEN a.q > b.q THEN {prod} END), 0)"
        ).alias("conc"),
        F.expr(
            f"coalesce(sum(CASE WHEN a.q = b.q THEN {prod} END), 0)"
        ).alias("tie_n"),
    )
    mean2 = n_a * n_b
    denom = (nn + 1) * nn * (nn - 1) - ties_sum
    # degenerate guard (mirrored by the oracle's CASE): a missing group
    # (mean2 = 0) or an all-tied pool (denom = 0) leaves z undefined —
    # both sides emit NULL instead of leaning on engine-specific
    # divide-by-zero behavior (Spark non-ANSI DIV → NULL, DuckDB // →
    # error); the scalars are plan-time Python ints, so the branch costs
    # nothing on healthy inputs
    if mean2 > 0 and denom > 0:
        z2 = F.expr(
            f"CAST(((2 * conc + tie_n - {mean2}) "
            f"* (2 * conc + tie_n - {mean2}) * 1000 DIV {mean2}) "
            f"* {3 * nn * (nn - 1)} DIV {denom} AS BIGINT)"
        )
    else:
        z2 = F.lit(None).cast("long")
    return pairs.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.expr("CAST(2 * conc + tie_n AS BIGINT)").alias("u2"),
        z2.alias("z2_e3"),
    )


# Dispersion index over the CLOSED hour spine [min, max] — zero hours
# contribute nothing to Σn and Σn², so including them needs only the
# spine LENGTH, never a gap-fill: D·10³ = (H·Σn² − (Σn)²)·10³ DIV
# (H·Σn), positive-integer floor both sides. Hour index = epoch-µs DIV
# 3600000000 (integer floor; never epoch/3.6e9 CAST, which ROUNDS in
# DuckDB and truncates in Spark — the int-CAST parity trap).
_OVERDISPERSION_SQL = """
    WITH hc AS (SELECT event_type,
                       epoch_us(ts) // 3600000000 AS h,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
    sp AS (SELECT max(h) - min(h) + 1 AS n_hours FROM hc),
    ag AS (SELECT event_type, CAST(sum(n) AS BIGINT) n_events,
                  CAST(sum(n*n) AS HUGEINT) sum_sq
           FROM hc GROUP BY 1)
    SELECT event_type, n_events, CAST(n_hours AS BIGINT) n_hours,
           CAST((n_hours::HUGEINT * sum_sq
                 - n_events::HUGEINT * n_events) * 1000
                // (n_hours::HUGEINT * n_events) AS BIGINT)
             AS dispersion_e3,
           CASE WHEN (n_hours::HUGEINT * sum_sq
                      - n_events::HUGEINT * n_events) * 1000
                     // (n_hours::HUGEINT * n_events) > 1200
                THEN 'overdispersed'
                WHEN (n_hours::HUGEINT * sum_sq
                      - n_events::HUGEINT * n_events) * 1000
                     // (n_hours::HUGEINT * n_events) < 800
                THEN 'underdispersed'
                ELSE 'poisson_like' END AS label
    FROM ag, sp ORDER BY event_type
    """


def _overdispersion_report(hc: DataFrame) -> DataFrame:
    """Roll-up of `q_events_overdispersion`: (type, hour, n) cells →
    spine length → per-type integer dispersion + label bands.

    r16 (guide §2.4): the spine length was a second aggregation of the
    hc cells crossJoined back on — two evaluations of the cell subtree
    (for the batch entry, two events scans+aggs). The global hour
    extremes now fold into the per-type aggregate (per-type max/min of
    h) and surface via whole-frame windows over the ≤|types|-row report
    (every cell belongs to some type, so the max of per-type maxes IS
    the global max) — one evaluation, no crossJoin, same integers."""
    ag = hc.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.expr("CAST(sum(n * n) AS DECIMAL(38,0))").alias("sum_sq"),
        F.max("h").alias("__mxh"),
        F.min("h").alias("__mnh"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ag = ag.withColumn(
        "n_hours", F.max("__mxh").over(wall) - F.min("__mnh").over(wall) + 1
    )
    d_expr = (
        "(CAST(n_hours AS DECIMAL(38,0)) * sum_sq"
        " - CAST(n_events AS DECIMAL(38,0)) * n_events) * 1000"
        " DIV (CAST(n_hours AS DECIMAL(38,0)) * n_events)"
    )
    return ag.select(
        "event_type",
        "n_events",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.expr(f"CAST({d_expr} AS BIGINT)").alias("dispersion_e3"),
        F.expr(
            f"CASE WHEN {d_expr} > 1200 THEN 'overdispersed' "
            f"WHEN {d_expr} < 800 THEN 'underdispersed' "
            f"ELSE 'poisson_like' END"
        ).alias("label"),
    )


@query("q_events_overdispersion", oracle=_OVERDISPERSION_SQL)
def q_events_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion screen per event type — variance-to-mean
    ratio (Fisher's dispersion index) of hourly arrival counts, the
    burstiness/DQ question behind rate-limiting and anomaly thresholds
    (D ≈ 1 ⇒ Poisson arrivals; D ≫ 1 ⇒ bursty; D ≪ 1 ⇒ paced).
    Computed over the CLOSED hour spine [global min hour, max hour]
    WITHOUT gap-filling: empty hours add nothing to Σn or Σn², so the
    population variance over H spine hours is (H·Σn² − (Σn)²)/H² and
    D·10³ = (H·Σn² − (Σn)²)·10³ DIV (H·Σn) — integer-exact statistics
    on the thousandths grid, one positive floor division. The ±20 %
    label band (1200/800) is a reporting convention, documented, not a
    significance test.

    Scale: one scan pruned to two columns, one (type, hour) partial-agg
    shuffle, one type-keyed roll-up of the hour-grain frame; the spine
    bounds attach as a broadcast 1-row scalar (the documented class).
    State is hour-grain per type — bounded by the time range, never by
    event volume."""
    hc = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return _overdispersion_report(hc)


@query(
    "q_events_markov_stationary",
    # three power-iteration steps UNROLLED as CTEs over the transition
    # grid (the pagerank device pointed at the row-normalized chain):
    # π in millionths, each term's mass transfer floored independently
    # ((π·n) DIV row_total) so both engines replay the identical
    # integer walk — flooring loses ≤1 µunit per (state, edge) per
    # step, deterministic by construction, never renormalized
    oracle="""
    WITH s AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                        AS prev_type
               FROM events),
    c AS (SELECT prev_type i, event_type j, CAST(count(*) AS BIGINT) n
          FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT i, CAST(sum(n) AS BIGINT) tot FROM c GROUP BY 1),
    st AS (SELECT DISTINCT i t FROM c UNION SELECT DISTINCT j FROM c),
    p0 AS (SELECT t, CAST(1000000 // (SELECT count(*) FROM st)
                          AS BIGINT) pi FROM st),
    p1 AS (SELECT c.j t, CAST(sum((p0.pi * c.n) // r.tot) AS BIGINT) pi
           FROM p0 JOIN c ON c.i = p0.t JOIN r ON r.i = c.i GROUP BY 1),
    p2 AS (SELECT c.j t, CAST(sum((p1.pi * c.n) // r.tot) AS BIGINT) pi
           FROM p1 JOIN c ON c.i = p1.t JOIN r ON r.i = c.i GROUP BY 1),
    p3 AS (SELECT c.j t, CAST(sum((p2.pi * c.n) // r.tot) AS BIGINT) pi
           FROM p2 JOIN c ON c.i = p2.t JOIN r ON r.i = c.i GROUP BY 1)
    SELECT t AS event_type, pi AS pi_e6 FROM p3
    """,
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    does a long random session SPEND its time (the steady-state
    companion of `q_events_transitions`' one-step matrix): three
    fixed power-iteration steps from the uniform start, π·P per step,
    in MILLIONTH units with each (state, edge) mass transfer floored
    independently ((π_e6·count) DIV row_total — positive ints, Spark
    DIV ≡ DuckDB //). Three snapped steps are a pinned, replayable
    prefix of the power method (the `q_customer_supplier_pagerank`
    contract), not a convergence claim; total mass decays ≤ S·E µunits
    from flooring and is deliberately never renormalized — the oracle
    replays the identical walk.

    Scale: ONE user-keyed window shuffle extracts successor pairs,
    one keyed agg to the |types|² grid — then the bounded-collect
    device (the grid is corpus-independent): the three iterations run
    on exact Python ints over the collected grid (r15 — the previous
    broadcast-join form paid three chained grid-sized Spark jobs of
    pure scheduling latency per invocation), so the corpus is scanned
    once and the final plan is a local result relation with no
    FileScan and no joins (pinned). The 100 TB cost is exactly the
    transitions entry's cost plus O(S²) driver work."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    grid = (
        s.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    cells = grid.collect()  # bounded: |types|² grid, corpus-independent
    tots: dict = {}
    for r in cells:
        tots[r["i"]] = tots.get(r["i"], 0) + r["n"]
    states = sorted({r["i"] for r in cells} | {r["j"] for r in cells})
    # exact-int power iteration on the driver (Python ints never
    # overflow; (pi*n) // tot on positive ints ≡ Spark DIV ≡ DuckDB //);
    # states without outgoing edges drop out of pi exactly like the
    # former inner join on i = t did
    pi = {t: 1000000 // len(states) for t in states}
    for _ in range(3):
        nxt: dict = {}
        for r in cells:
            p = pi.get(r["i"])
            if p is not None:
                nxt[r["j"]] = nxt.get(r["j"], 0) + (p * r["n"]) // tots[r["i"]]
        pi = nxt
    return spark.createDataFrame(
        sorted(pi.items()), "event_type string, pi_e6 long"
    )


_DATA_TOKEN_RE = (
    _TOKEN_LB
    + "data\\\\.([A-Za-z_][A-Za-z0-9_]*\\\\.[A-Za-z_][A-Za-z0-9_-]*)"
)


@query(
    "tf_unused_data_sources",
    # golden rows from the dedicated corpus, one data source per usage
    # class: referenced from a resource (aws_ami.ubuntu), from an
    # output (aws_vpc.main — its reference from ANOTHER data source is
    # deliberately not counted, see escape-points rule), from a
    # resource in ANOTHER file (aws_route53_zone.zone — the cross-file
    # case), never referenced (aws_ami.stale), and a data source that
    # only CONSUMES others (aws_subnet.private — unused itself)
    oracle="""
    SELECT * FROM (VALUES
      ('aws_ami',          'stale',   0::BIGINT, 'unused'),
      ('aws_ami',          'ubuntu',  1::BIGINT, 'used'),
      ('aws_route53_zone', 'zone',    1::BIGINT, 'used'),
      ('aws_subnet',       'private', 0::BIGINT, 'unused'),
      ('aws_vpc',          'main',    1::BIGINT, 'used')
    ) t(type, name, n_ref_blocks, status)
    """,
)
def tf_unused_data_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unused-data-source hygiene audit — the third member of the
    declarations-∖-references family (`tf_unused_variables`,
    `tf_unused_locals`): every declared data source joined against the
    ``data.<type>.<name>`` traversals in non-data config blocks.
    Unlike resources, a data source is a PURE READ — unreferenced means
    genuinely dead weight (a plan-time API call paid for nothing), so
    this is the one block kind where 'unused' directly means
    'removable'. References from OTHER data blocks don't count (the
    locals audit's escape-points rule: a data source consumed only by
    data sources that never escape is dead transitively); the traversal
    names two segments, so the shared device joins on the computed
    ``type.name`` key via its ``decl_key`` parameter.

    Scale: the `_unused_decls_frame` contract — one regexp projection
    over O(config blocks), one small distinct-and-count, one
    broadcast-sized join."""
    wide = _tf_corpus_engine(spark, "datasources").wide()
    return _unused_decls_frame(
        wide,
        "terraform_data_source",
        _DATA_TOKEN_RE,
        ["type", "name"],
        decl_key="concat(type, '.', name)",
    )


@query(
    "q_lineitem_kruskal_wallis",
    # tie correction comes FREE from the variance-form denominator:
    # with doubled mid-ranks (rank2 = 2·cum_before + t + 1, integer by
    # construction), H = (N−1)·Σ_i (R2_i − n_i(N+1))²/n_i over
    # Σ_q n_q(rank2_q − (N+1))² equals the classic tie-corrected
    # H/(1−Σ(t³−t)/(N³−N)) exactly (verified against the textbook form
    # to 6 decimals); the per-group /n_i is the only inexact division —
    # floored identically on both sides (positive numerator), then one
    # final ·(N−1)·10⁶ floor division
    oracle="""
    WITH grid AS (
      SELECT CAST(l_quantity AS BIGINT) q, l_returnflag g,
             CAST(count(*) AS BIGINT) n
      FROM lineitem GROUP BY 1, 2),
    lvl AS (SELECT q, CAST(sum(n) AS BIGINT) t FROM grid GROUP BY 1),
    rk AS (SELECT q, t,
                  2*(CAST(sum(t) OVER (ORDER BY q) AS BIGINT) - t) + t + 1
                    AS rank2
           FROM lvl),
    tot AS (SELECT CAST(sum(t) AS BIGINT) nn FROM lvl),
    gr AS (SELECT g, CAST(sum(n) AS BIGINT) n_i,
                  CAST(sum(n::HUGEINT * rk.rank2) AS HUGEINT) r2
           FROM grid JOIN rk ON rk.q = grid.q GROUP BY g),
    num AS (SELECT CAST(sum((r2 - n_i::HUGEINT*(nn+1))
                            * (r2 - n_i::HUGEINT*(nn+1)) // n_i)
                   AS HUGEINT) s_num
            FROM gr, tot),
    den AS (SELECT CAST(sum(t::HUGEINT * (rank2 - (nn+1))
                            * (rank2 - (nn+1))) AS HUGEINT) s_den
            FROM rk, tot)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM gr) AS n_groups,
           nn AS n_rows,
           CAST(CASE WHEN s_den > 0
                THEN s_num * (nn - 1) * 1000000 // s_den END
                AS BIGINT) AS h_e6,
           CASE WHEN s_den > 0
                THEN s_num * (nn - 1) * 1000000 // s_den > 5991464
                END AS reject_05
    FROM num, den, tot
    """,
)
def q_lineitem_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test of quantity across the THREE returnflag
    populations — the k-sample member completing the nonparametric
    battery (`q_lineitem_mannwhitney_u` = 2-sample location, this =
    k-sample location),
    and like them rank-free in execution: doubled mid-ranks come from a
    cumulative window over the pooled quantity grid (rank2 =
    2·cum_before + t + 1 — integer by construction, no interpolation),
    and the variance-form identity H = (N−1)·Σ(R2ᵢ − nᵢ(N+1))²/nᵢ ÷
    Σn_q(rank2_q − (N+1))² carries the tie correction for free in its
    denominator. The α=0.05 decision against df=2 (three flags) uses
    the literal 5991464 = ⌊−2·ln(0.05)·10⁶⌋, re-derived from math.log
    by the independent test (the re-derived-constants device).

    Scale: one scan pruned to two columns, one keyed agg to the
    ≤3×|quantity levels| grid, windows over the level frame (the
    post-agg-tiny-frame exemption), a 1-row answer. HUGEINT/DECIMAL(38)
    headroom: r2² ≈ 4N⁴ crosses 10³⁸ near N ≈ 10⁹ rows — past that,
    evaluate on a sampled slice (sample-based test) or drop the 10⁶
    snap to 10³ on both sides."""
    grid = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            F.col("l_returnflag").alias("g"),
        )
        .groupBy("q", "g")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # r16 (guide §2.4, the mood-median window device): the level frame
    # and its rank window were a separate grid aggregation joined back
    # on — plus a THIRD evaluation under the denominator aggregate
    # (three lineitem scans+aggs per invocation). The doubled mid-ranks
    # now ride the grid rows directly via RANGE-framed sums ordered by q
    # (cb = pooled count strictly below q, ca = at-or-below; t = ca−cb,
    # rank2 = 2·cb + t + 1 = ca + cb + 1), and the denominator folds
    # into the per-group aggregate — Σ_q t·(rank2−(nn+1))² ≡
    # Σ_{q,g} n·(rank2−(nn+1))² since t = Σ_g n at each q; exact-integer
    # addition is order-free, so the value is bit-identical. One scan,
    # no join, no crossJoin; windows run on the ≤3×50-row grid
    # (post-agg-tiny-frame exemption).
    wq_at = Window.orderBy("q").rangeBetween(Window.unboundedPreceding, 0)
    wq_below = Window.orderBy("q").rangeBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g2 = grid.select(
        "g",
        "n",
        F.sum("n").over(wq_at).cast("long").alias("ca"),
        F.coalesce(F.sum("n").over(wq_below), F.lit(0)).cast("long").alias("cb"),
        F.sum("n").over(wall).cast("long").alias("nn"),
    ).select(
        "g",
        "n",
        "nn",
        (F.col("ca") + F.col("cb") + 1).cast("long").alias("rank2"),
    )
    gr = g2.groupBy("g").agg(
        F.sum("n").cast("long").alias("n_i"),
        F.expr(
            "CAST(sum(CAST(n AS DECIMAL(38,0)) * rank2) AS DECIMAL(38,0))"
        ).alias("r2"),
        F.max("nn").alias("nn"),
        F.expr(
            "CAST(sum(CAST(n AS DECIMAL(38,0)) * (rank2 - (nn + 1))"
            " * (rank2 - (nn + 1))) AS DECIMAL(38,0))"
        ).alias("sden_g"),
    )
    dev = "(r2 - CAST(n_i AS DECIMAL(38,0)) * (nn + 1))"
    st = gr.agg(
        F.expr(f"CAST(sum({dev} * {dev} DIV n_i) AS DECIMAL(38,0))").alias(
            "s_num"
        ),
        F.count("*").cast("long").alias("n_groups"),
        F.max("nn").alias("nn"),
        F.expr("CAST(sum(sden_g) AS DECIMAL(38,0))").alias("s_den"),
    )
    # degenerate guard (mirrored by the oracle's CASE): a single pooled
    # quantity level makes every rank2 = nn+1, so s_den = 0 and H is
    # undefined — emit NULL on both sides rather than leaning on
    # engine-specific divide-by-zero (Spark DIV → NULL, DuckDB // →
    # error); same device as q_lineitem_mannwhitney_u's z guard
    h = "CASE WHEN s_den > 0 THEN s_num * (nn - 1) * 1000000 DIV s_den END"
    return st.select(
        "n_groups",
        F.col("nn").alias("n_rows"),
        F.expr(f"CAST({h} AS BIGINT)").alias("h_e6"),
        F.expr(f"{h} > 5991464").alias("reject_05"),
    )


@query(
    "q_supplier_abc_classes",
    # class rule pinned: a supplier is A while its INCLUSIVE cumulative
    # revenue stays ≤ 80 % of total (crev·100 ≤ tot·80 — integer
    # cross-multiplication, no percent division), B to 95 %, C past;
    # (rev DESC, suppkey) is the deterministic cumulative order
    oracle="""
    WITH s AS (SELECT l_suppkey,
                      CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                                    AS BIGINT)) AS BIGINT) rev
               FROM lineitem GROUP BY 1),
    c AS (SELECT l_suppkey, rev,
                 CAST(sum(rev) OVER (ORDER BY rev DESC, l_suppkey)
                      AS HUGEINT) crev,
                 CAST(sum(rev) OVER () AS HUGEINT) tot
          FROM s),
    k AS (SELECT rev, tot,
                 CASE WHEN crev * 100 <= tot * 80 THEN 'A'
                      WHEN crev * 100 <= tot * 95 THEN 'B'
                      ELSE 'C' END cls
          FROM c)
    SELECT cls, CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           CAST(CAST(sum(rev) AS HUGEINT) * 10000 // max(tot) AS BIGINT)
             AS share_bp
    FROM k GROUP BY 1
    """,
)
def q_supplier_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory/vendor analysis — the three-class generalization of
    `q_customer_pareto`'s 80 % cut (A ≈ the vital few, B the middle, C
    the long tail): suppliers ordered by revenue (desc, suppkey
    tiebreak), classified by INCLUSIVE cumulative share via integer
    cross-multiplication (crev·100 ≤ tot·80 / tot·95 — no percent
    division anywhere), rolled up to class grain with exact cents and
    basis-point shares. The crossing supplier falls OUT of the class it
    crosses (pinned boundary semantics).

    Scale: one fact scan + supplier-grain partial agg; the cumulative
    window runs over the SUPPLIER-grain frame (dimension-sized — the
    post-agg exemption `q_customer_pareto` documents; at a truly
    dimension-heavy scale the same two-pass range-partitioned prefix
    sum applies), then a 3-row roll-up."""
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.expr(
                f"CAST(sum(CAST({rounding.units_sql('l_extendedprice', 2)} AS BIGINT)) AS BIGINT)"
            ).alias("rev")
        )
    )
    wc = Window.orderBy(F.col("rev").desc(), "l_suppkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = s.select(
        "rev",
        F.sum("rev").over(wc).cast("decimal(38,0)").alias("crev"),
        F.sum("rev").over(wall).cast("decimal(38,0)").alias("tot"),
    )
    k = c.select(
        "rev",
        "tot",
        F.expr(
            "CASE WHEN crev * 100 <= tot * 80 THEN 'A'"
            " WHEN crev * 100 <= tot * 95 THEN 'B' ELSE 'C' END"
        ).alias("cls"),
    )
    return k.groupBy("cls").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("rev").cast("long").alias("revenue_cents"),
        F.expr(
            "CAST(CAST(sum(rev) AS DECIMAL(38,0)) * 10000 DIV max(tot)"
            " AS BIGINT)"
        ).alias("share_bp"),
    )


def _lsh_store_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(band buckets path, shingle sets path) of the OLD corpus: the
    signature store an ingest pipeline maintains so arriving batches never
    re-tokenize the existing corpus."""

    def build() -> tuple[str, str]:
        old = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 7
        )
        root = state.temp_root("lsh_store_")
        bpath, spath = root + "/buckets", root + "/sets"
        dedup.minhash_band_buckets(
            old, n=5, num_hashes=8, bands=4
        ).write.mode("overwrite").parquet(bpath)
        dedup.shingle_sets(old, n=5, df_max=None).write.mode(
            "overwrite"
        ).parquet(spath)
        return bpath, spath

    return state.get(spark, "lsh_store", state.corpus_digest(sf_dir), build)


# The incremental-ingest oracle replays the CORPUS-WIDE banding (the
# verbatim-shared _MINHASH_CAND_CTE) restricted to cross pairs — exactly
# one side in the arriving batch — then the snapped-rank best match per
# new doc: incremental(store, batch) must equal the full recompute's
# cross slice (the maintenance-identity device, dedup edition). Jaccard
# in basis points by positive-integer floor division; the ≥ 0.8 gate is
# the integer cross-multiplication c·10⁴ ≥ 8000·union — EXACTLY
# equivalent to the float compare, with no division before the gate.
_INCR_DEDUP_ORACLE = (
    _SHINGLE_CTE
    + """,
    """
    + _MINHASH_CAND_CTE
    + """,
    cross_pairs AS (
      SELECT CASE WHEN c.id_a % 10 = 7 THEN c.id_a ELSE c.id_b END new_id,
             CASE WHEN c.id_a % 10 = 7 THEN c.id_b ELSE c.id_a END old_id,
             CAST((s.c * 10000) // (x.n + y.n - s.c) AS BIGINT) jacc_bp
      FROM cand c JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
      JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
      WHERE (c.id_a % 10 = 7) <> (c.id_b % 10 = 7)
        AND s.c * 10000 >= 8000 * (x.n + y.n - s.c)),
    best AS (SELECT new_id, old_id, jacc_bp,
                    row_number() OVER (PARTITION BY new_id
                        ORDER BY jacc_bp DESC, old_id) rn
             FROM cross_pairs)
    SELECT d.doc_id AS new_id, b.old_id AS matched_id, b.jacc_bp,
           CASE WHEN b.old_id IS NULL THEN 'unique'
                ELSE 'duplicate' END AS status
    FROM documents d LEFT JOIN best b
      ON b.new_id = d.doc_id AND b.rn = 1
    WHERE d.doc_id % 10 = 7
    """
)


def _incremental_probe(
    new: DataFrame, old_buckets: DataFrame, old_sets: DataFrame
) -> DataFrame:
    """The ingest-gate probe of `dedup_incremental_batch`: band-sign
    the NEW docs only, one (band, bh) equi-join against the frozen
    bucket store for candidates, one id-keyed join against the frozen
    sets store for exact-Jaccard verification (integer cross-multiplied
    ≥ 0.8 gate, basis-point floor-division score), snapped-rank best
    match per new doc or `unique`."""
    nb = dedup.minhash_band_buckets(new, n=5, num_hashes=8, bands=4)
    cand = (
        nb.alias("x")
        .join(old_buckets.alias("y").hint("merge"), ["band", "bh"])
        .select(
            F.col("x.id").alias("new_id"), F.col("y.id").alias("old_id")
        )
        .distinct()
    )
    ns = dedup.shingle_sets(new, n=5, df_max=None)
    verified = (
        cand.join(ns.withColumnRenamed("id", "new_id"), "new_id")
        .select(
            "new_id",
            "old_id",
            F.col("hs").alias("hs_n"),
            F.col("n_sh").alias("n_n"),
        )
        .join(
            old_sets.withColumnRenamed("id", "old_id").hint("merge"),
            "old_id",
        )
        .select(
            "new_id",
            "old_id",
            F.size(F.array_intersect("hs_n", "hs")).cast("long").alias("c"),
            "n_n",
            F.col("n_sh").alias("n_o"),
        )
        .withColumn("un", F.col("n_n") + F.col("n_o") - F.col("c"))
        .filter(F.col("c") * 10000 >= 8000 * F.col("un"))
        .select(
            "new_id",
            "old_id",
            F.expr("CAST(c * 10000 DIV un AS BIGINT)").alias("jacc_bp"),
        )
    )
    wb = Window.partitionBy("new_id").orderBy(
        F.col("jacc_bp").desc(), "old_id"
    )
    best = verified.withColumn("rn", F.row_number().over(wb)).filter(
        F.col("rn") == 1
    )
    return (
        new.select(F.col("doc_id").alias("new_id"))
        .join(best.select("new_id", "old_id", "jacc_bp"), "new_id", "left")
        .select(
            "new_id",
            F.col("old_id").alias("matched_id"),
            "jacc_bp",
            F.when(F.col("old_id").isNull(), F.lit("unique"))
            .otherwise(F.lit("duplicate"))
            .alias("status"),
        )
    )


@query("dedup_incremental_batch", oracle=_INCR_DEDUP_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup ingest — the dedup family's missing day-2
    operation (the ANN analog is `emb_ivf_incremental_topk`): an
    arriving batch (the doc_id%10==7 tenth) is checked against the
    SESSION-PERSISTED corpus LSH store (band buckets + shingle-hash
    sets, written once — the existing corpus is never re-tokenized),
    each new doc reporting its best corpus match at exact Jaccard ≥ 0.8
    (snapped-rank: basis-point floor-division score, old-id tiebreak) or
    `unique`. This is the production ingest gate: tokenize/shingle/sign
    the batch only, one bucket equi-join against the store, verify only
    banding collisions.

    Store-freshness contract (the frozen-centroid precedent,
    `emb_ivf_incremental_topk`): the store is df-cap-free here (the cap
    is the SELF-join's scale guard; a bipartite probe's candidate count
    is already bounded by the banding) and frozen at build — intra-batch
    duplicates and batch-vs-batch pairs are the NEXT rebuild's problem,
    exactly like an IVF index between retrainings. The oracle replays
    the corpus-wide banding restricted to cross pairs, so the driver
    checks incremental(store, batch) ≡ full-recompute-cross-slice — the
    maintenance identity.

    Scale: the store is the artifact (≈ one 8-byte hash per corpus
    token + 4 band rows per doc); per ingest the corpus-side cost is
    ONE equi-join on uniform (band, bh) keys against the bucket store
    and one id-keyed join against the sets store for verification —
    at 100 TB both stores live bucketed on their join keys so the
    probes are shuffle-free; nothing rescans corpus text."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    bpath, spath = _lsh_store_paths(spark, sf_dir)
    return _incremental_probe(
        new, spark.read.parquet(bpath), spark.read.parquet(spath)
    )


@staged_query(
    "tf_resource_naming_convention",
    # golden rows from the dedicated corpus: a clean snake_case name, an
    # UpperCamel name, a dash name that ALSO echoes its type (2
    # violations), a snake name echoing the type suffix, and two
    # cross-file rows (one clean, one echoing) — pinning both lint
    # axes and their combination
    oracle="""
    SELECT * FROM (VALUES
      ('extra.tf', 'aws_security_group', 'main',          true,  false,
       0::BIGINT, 'clean'),
      ('extra.tf', 'aws_sqs_queue',      'retry_queue_2', true,  true,
       1::BIGINT, 'needs_attention'),
      ('main.tf',  'aws_instance',       'WebServer',     false, false,
       1::BIGINT, 'needs_attention'),
      ('main.tf',  'aws_instance',       'web_server',    true,  false,
       0::BIGINT, 'clean'),
      ('main.tf',  'aws_s3_bucket',      'data-bucket',   false, true,
       2::BIGINT, 'needs_attention'),
      ('main.tf',  'aws_s3_bucket',      'logs_bucket',   true,  true,
       1::BIGINT, 'needs_attention')
    ) t(file, type, name, is_snake_case, echoes_type, n_violations,
        status)
    """,
)
def tf_resource_naming_convention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-naming lint — the style-guide audit the reference's
    delegated-SQL surface invites but never tables (HashiCorp's style
    conventions: resource names are snake_case and do NOT repeat the
    resource type; `aws_instance.web_instance` reads as
    'aws_instance.web_instance' in every address). Per config resource:
    snake_case conformance (``^[a-z][a-z0-9_]*$``), whether the name
    echoes the type's last underscore segment (the redundancy lint —
    `logs_bucket` under `aws_s3_bucket`), a violation count, and
    clean / needs_attention. Both checks run Spark-side only (the
    oracle is golden rows, so no cross-engine regex surface).

    Scale: O(resource blocks) metadata — one projection over the parsed
    wide frame like the other settings audits; no exchange beyond the
    parse itself, no join."""
    wide = _tf_corpus_engine(spark, "naming").wide()
    r = wide.filter(F.col("tf_table") == "terraform_resource").select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("file"),
        "type",
        "name",
        F.col("name").rlike("^[a-z][a-z0-9_]*$").alias("is_snake_case"),
        F.expr(
            "contains(name, element_at(split(type, '_'), -1))"
        ).alias("echoes_type"),
    )
    viol = (~F.col("is_snake_case")).cast("long") + F.col(
        "echoes_type"
    ).cast("long")
    return r.withColumn("n_violations", viol).withColumn(
        "status",
        F.when(F.col("n_violations") == 0, F.lit("clean")).otherwise(
            F.lit("needs_attention")
        ),
    )


@staged_query(
    "tf_variable_type_mismatch",
    # golden rows from the dedicated vartypes corpus — one variable per
    # declared-type × default-shape class: exact matches for every base
    # kind (string/number/bool, list+set→list, map+object→map), the
    # three gocty coercions terraform performs silently (numeric string
    # → number incl. negative decimals, "true"/"false" → bool, bare
    # number → string), genuine mismatches (list default for a map
    # type, number for bool, non-numeric string for number), and the
    # two absent-side classes (untyped, no_default)
    oracle="""
    SELECT * FROM (VALUES
      ('extra.tf',     'names',     'set(string)',
       'set',    'list',   'match'),
      ('extra.tf',     'offset',    'number',
       'number', 'string', 'coercible'),
      ('extra.tf',     'opts',      'object({ mode = string })',
       'object', 'map',    'match'),
      ('extra.tf',     'retries',   'number',
       'number', 'string', 'mismatch'),
      ('variables.tf', 'api_token', 'string',
       'string', NULL,     'no_default'),
      ('variables.tf', 'count_str', 'number',
       'number', 'string', 'coercible'),
      ('variables.tf', 'debug',     'bool',
       'bool',   'string', 'coercible'),
      ('variables.tf', 'flag',      'bool',
       'bool',   'number', 'mismatch'),
      ('variables.tf', 'legacy',    NULL,
       NULL,     'string', 'untyped'),
      ('variables.tf', 'port',      'string',
       'string', 'number', 'coercible'),
      ('variables.tf', 'region',    'string',
       'string', 'string', 'match'),
      ('variables.tf', 'replicas',  'number',
       'number', 'number', 'match'),
      ('variables.tf', 'tags',      'map(string)',
       'map',    'list',   'mismatch'),
      ('variables.tf', 'zones',     'list(string)',
       'list',   'list',   'match')
    ) t(file, name, declared_type, base_type, default_kind, status)
    """,
)
def tf_variable_type_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-vs-declared-type lint over variable blocks — the
    `terraform validate`-lite check the type and default_value columns
    invite (a module whose defaults only work through gocty coercion
    breaks the moment a caller passes the declared type's literal form,
    and a genuinely mismatched default fails at plan time on every
    consumer): per variable, the declared type (unwrapped per the F5
    device), its base constructor (text before the first paren —
    string/number/bool/list/set/tuple/map/object/any), the JSON shape
    of the byte-stable encoded default (leading byte: quote → string,
    bracket → list, brace → map, the bare true/false words → bool,
    else number), and a five-way status: ``match`` (same kind, with
    set/tuple collapsing to list and object to map — the JSON-shape
    equivalences), ``coercible`` (the three conversions terraform
    performs silently: numeric string → number, "true"/"false" → bool,
    bare number/bool → string — flagged because they document intent
    poorly and break under `-var` CLI overrides quoting differently),
    ``mismatch`` (everything else), ``untyped`` / ``no_default`` (the
    absent sides, reported not judged — tf_variable_hygiene owns those
    lints). All checks run Spark-side only (golden-rows oracle, no
    cross-engine regex surface).

    Scale: O(variable blocks) metadata — one projection over the
    parsed wide frame, no exchange beyond the parse, no join (the
    settings-audit plan shape)."""
    wide = _tf_corpus_engine(spark, "vartypes").wide()
    v = wide.filter(F.col("tf_table") == "terraform_variable").select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("file"),
        "name",
        F.col("type").alias("declared_type"),
        F.expr("element_at(split(type, '[(]'), 1)").alias("base_type"),
        F.expr(
            "CASE WHEN default_value IS NULL THEN NULL"
            " WHEN left(default_value, 1) = '\"' THEN 'string'"
            " WHEN left(default_value, 1) = '[' THEN 'list'"
            " WHEN left(default_value, 1) = '{' THEN 'map'"
            " WHEN default_value IN ('true', 'false') THEN 'bool'"
            " ELSE 'number' END"
        ).alias("default_kind"),
        "default_value",
    )
    return v.select(
        "file",
        "name",
        "declared_type",
        "base_type",
        "default_kind",
        F.expr(
            "CASE WHEN declared_type IS NULL THEN 'untyped'"
            " WHEN default_kind IS NULL THEN 'no_default'"
            " WHEN base_type = 'any' OR base_type = default_kind"
            "  OR (base_type IN ('list', 'set', 'tuple')"
            "      AND default_kind = 'list')"
            "  OR (base_type IN ('map', 'object')"
            "      AND default_kind = 'map') THEN 'match'"
            " WHEN base_type = 'number' AND default_kind = 'string'"
            "  AND default_value RLIKE"
            r"  '^\"-?[0-9]+([.][0-9]+)?\"$' THEN 'coercible'"
            " WHEN base_type = 'bool'"
            "  AND default_value IN ('\"true\"', '\"false\"')"
            "  THEN 'coercible'"
            " WHEN base_type = 'string'"
            "  AND default_kind IN ('number', 'bool') THEN 'coercible'"
            " ELSE 'mismatch' END"
        ).alias("status"),
    )
