#!/usr/bin/env python
"""Benchmark headline queries; prints ONE JSON line for the driver.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query materializes fully via the noop sink
(no driver-side collect — measures cluster-shaped execution)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

from steampipe_plugin_terraform_spark.catalog import QUERIES, STAGED_QUERIES
from steampipe_plugin_terraform_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_top3_orders_per_segment",
    "q_rollup_revenue",
    "q_events_sessions",
    "q_events_hourly",
    "dedup_first_event",
    "docs_token_stats",
    "docs_fingerprint",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "emb_cosine_topk",
    "emb_near_dup_pairs",
    "docs_winnow_fingerprint",
    "docs_zscore_by_lang",
    "media_metadata",
    "tf_resources",
    # round-7 promotions (judge: track the current engine in the headline
    # number; these five represent the r6 wave — BM25, record linkage,
    # IVF×PQ serving, partition-pruned join, streaming full-outer drain)
    "docs_bm25_topk",
    "dedup_linkage_clusters",
    "emb_ivf_pq_topk",
    "q_partition_pruned_join",
    # ADOPTED contract change (r13 verdict item 2 approved the r12
    # proposal): this streaming drain is ~6 s of micro-batch harness
    # FIXED COST at toy SF — >20 % of the 25-query headline and growing
    # as the batch queries get faster, so it increasingly set the
    # headline's noise floor. It is still timed every run (same warm +
    # 3-pass protocol) but reported under its own "streaming_drain" key
    # and EXCLUDED from the summed "value". The one-round compatibility
    # field "value_incl_stream_drain" (compare r13 "value" against r14
    # "value_incl_stream_drain") was REMOVED in r15 per the r14
    # advisory — r15+ totals compare "value" to "value" directly.
    "stream_click_error_full_join",
]

# timed with the headline protocol but reported under a dedicated JSON
# key instead of being summed into "value" (r13 verdict item 2)
_DRAIN_KEY = "stream_click_error_full_join"


# extension flagships timed into the BENCH_EXTENDED.json side file
# (never summed into the driver-parsed headline total)
EXTENDED = [
    "docs_semantic_dedup",
    "emb_cluster_balanced_sample",
    "emb_curation_pipeline",
    "docs_temperature_sample",
    "media_byte_histogram",
    "q_incident_click_range_join",
    "q_bucketed_cokey_join",
    "q_events_daily_rollup",
    "dedup_tfidf_cosine_pairs",
    "emb_pq_topk",
    "emb_hard_negatives",
    "q_events_funnel",
    "q_events_retention_cohorts",
    "docs_epoch_shuffle",
    "docs_length_buckets",
    "q_zorder_pruned_scan",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q_events_ohlc",
    "q_events_anomaly",
    "emb_rp_reduce",
    "docs_weighted_sample",
    "q_events_ewma",
    "q_orders_price_histogram",
    "docs_train_val_test_split",
    "q_events_countmin",
    "q_customer_pareto",
    "q_events_trend",
    "q_events_transitions",
    "q_kmv_distinct",
    "q_quantile_bottomk_sketch",
    "q_customer_skyline",
    "q_orders_open_interval_sweep",
    "q_events_cusum",
    "q_events_time_weighted_value",
    "dedup_edit_distance_pairs",
    "q_kmv_set_ops",
    "q_events_mad_outliers",
    "q_user_scd2_segments",
    "q_events_sliding_distinct_users",
    "q_events_top_paths",
    "q_weighted_median_price",
    "q_orders_equidepth_histogram",
    "q_basket_brand_lift",
    "docs_bigram_logprob",
    "q_events_theil_sen",
    "q_events_ab_significance",
    "dedup_lsh_recall",
    "emb_dim_stats",
    "q_events_cep_pattern",
    "q_dq_audit",
    "q_bloom_semi_join",
    "q_orders_interval_merge",
    "q_events_autocorr24",
    "q_user_entropy",
    "q_customer_gini",
    "q_customer_rfm",
    "q_nation_share_of_region",
    "q_events_lateness_profile",
    "media_ahash_pairs",
    "q_fulfillment_latency",
    "q_events_duplicate_payments",
    "q_customer_activity_reconciliation",
    "docs_chunk_overlap",
    "q_part_triangles",
    "q_part_kcore",
    "q_session_incident_overlap",
    "q_orders_checksum",
    "emb_nearest_centroid_label",
    "q_events_seasonal_anomaly",
    "docs_novelty",
    "q_join_size_cms_estimate",
    "dedup_golden_record",
    "emb_two_level_topk",
    "tf_config_state_drift",
    "q_user_scd2_merge",
    "q_quantile_logsketch",
    "tf_module_pinning_audit",
    "tf_plan_state_drift",
    "emb_ivf_incremental_topk",
    "q_logsketch_merge",
    "q_events_type_quantiles",
    "stream_quantile_logsketch",
    "tf_unused_variables",
    "docs_benchmark_contamination",
    "tf_resource_reference_graph",
    "tf_sensitive_output_audit",
    "q_orders_incremental_rollup",
    "emb_matryoshka_prefix_recall",
    "tf_tags_inheritance_audit",
    "q_events_bitmap_distinct_users",
    "q_lineitem_flag_status_chi2",
    "tf_unused_locals",
    "emb_mmr_rerank",
    "stream_hourly_topk_types",
    "docs_bpe_merge_pairs",
    "tf_undeclared_references",
    "tf_unused_data_sources",
    "q_lineitem_kruskal_wallis",
    "q_supplier_abc_classes",
    "dedup_incremental_batch",
    "tf_required_providers_audit",
    "tf_state_lineage_audit",
    "tf_backend_audit",
    "tf_provider_version_matrix",
    "stream_state_serial_watch",
    "emb_cluster_quality",
    "docs_pipeline_funnel",
    "tf_variable_hygiene",
    "docs_perplexity_buckets",
    "stream_docs_pipeline_funnel",
    "emb_ann_recall_curve",
    "docs_dedup_rate_report",
    "tf_moved_blocks_audit",
    "tf_provider_alias_orphans",
    "tf_count_foreach_expansion",
    "tf_lifecycle_audit",
    "tf_legacy_interpolation_audit",
    "q_lineitem_mannwhitney_u",
    "q_events_overdispersion",
    "q_events_markov_stationary",
    "tf_resource_naming_convention",
    "tf_variable_type_mismatch",
]

# heavy flagships get 2 timed passes (spread = the round-5 variance
# protocol's signal); the wide tail runs 1 warm + 1 timed pass
_EXT_HEAVY = {
    "docs_semantic_dedup",
    "q_bucketed_cokey_join",
    "dedup_tfidf_cosine_pairs",
    "dedup_edit_distance_pairs",
    "q_kmv_distinct",
    "emb_curation_pipeline",
    "q_basket_brand_lift",
}

# r14 verdict item 3 (the single-sample extended-bench blind spot): the
# box's noise is one-sided — a hypervisor-steal window can only ADD
# seconds — so a 1-sample extended entry occasionally commits a spike
# (r14 shipped q2_min_cost_supplier at 4.40 s vs 1.72 s settled) while
# the headline's zero-spread re-run criterion never sees it. Any
# extended entry whose single timed sample exceeds this threshold gets
# ONE extra sample and reports the min — bounded cost (~the slow tail
# only), spike-proof by the min-of-warm-runs argument.
_EXT_RESAMPLE_THRESHOLD = 2.0


# r15 verdict item 1: two 10x phantom regressions (dedup_linkage_clusters,
# dedup_minhash_lsh) cost a full adjudication because the bench JSON
# carried no evidence of the hypervisor-steal window the run sat in.
# Every timed sample now records the cumulative-steal delta around it
# (/proc/stat cpu line, field 8 — the verify SKILL's green-light counter)
# so a judge can separate steal contamination from plan regressions from
# the artifact alone. Additions-only: the timing protocol is unchanged.
def _read_steal_ticks() -> int:
    """Cumulative hypervisor-steal ticks for the whole box; -1 when
    /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return -1


# reported-sample steal above this rate marks the entry (and the run)
# contaminated: the SKILL.md calibration saw clean runs at <=~0.5 tick/s
# and +40% runs from 4-7 ticks/s; 3 ticks/s splits those regimes with
# margin, and the absolute floor ignores 1-2 stray ticks on fast entries
_STEAL_FLAG_TICKS_PER_SEC = 3.0
_STEAL_FLAG_MIN_TICKS = 3


def _timed_samples(run, n: int, resample_over: float | None = None) -> list[tuple[float, int]]:
    """n timed passes of run(); if a single-sample measurement lands
    above resample_over seconds, take one extra sample (see
    _EXT_RESAMPLE_THRESHOLD). Each sample is (seconds, steal_ticks
    accrued during the sample; -1 unknown). Reported value is the min
    by seconds."""
    out = []

    def one() -> None:
        s0 = _read_steal_ticks()
        start = time.perf_counter()
        run()
        sec = time.perf_counter() - start
        s1 = _read_steal_ticks()
        out.append((sec, s1 - s0 if s0 >= 0 and s1 >= 0 else -1))

    for _ in range(n):
        one()
    if resample_over is not None and len(out) == 1 and out[0][0] > resample_over:
        one()
    return out


def _tf_corpus(n_files: int) -> str:
    """Deterministic synthetic .tf corpus (~n_files files, 3 resources +
    1 variable + 1 output each) for the parse-throughput benchmark."""
    import tempfile

    d = tempfile.mkdtemp(prefix="tf_bench_")
    for i in range(n_files):
        with open(f"{d}/mod_{i:04d}.tf", "w") as f:
            f.write(
                f'''variable "env_{i}" {{
  type    = string
  default = "dev-{i}"
}}

resource "aws_instance" "app_{i}" {{
  ami           = "ami-{i:08x}"
  instance_type = var.env_{i} == "prod" ? "m5.large" : "t3.micro"
  count         = {i % 5}
  tags = {{ Name = "app-{i}", Index = {i} }}
}}

resource "aws_s3_bucket" "b_{i}" {{
  bucket = "bucket-{i}"
  lifecycle {{ prevent_destroy = true }}
}}

resource "aws_security_group" "sg_{i}" {{
  name = "sg-{i}"
  ingress {{
    from_port = 443
    to_port   = 443
  }}
  ingress {{
    from_port = 80
    to_port   = 80
  }}
}}

output "app_id_{i}" {{
  value = aws_instance.app_{i}[0].id
}}
'''
            )
    return d


def bench_tf_parse(spark, n_files: int = 500) -> float:
    """Full 7-table materialization over n_files HCL files (one parse pass,
    executor-parallel — the reference serializes this behind a mutex)."""
    from steampipe_plugin_terraform_spark import TerraformEngine

    import shutil

    d = _tf_corpus(n_files)
    try:
        start = time.perf_counter()
        eng = TerraformEngine(spark, config_paths=[f"{d}/*.tf"], cache=False)
        eng.wide().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warmup so the first measured query isn't paying JIT cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Python-worker/Arrow warmup so the first pandas-path query isn't paying
    # worker spin-up (mapInPandas and cogrouped applyInPandas lanes)
    wdf = spark.range(64).selectExpr("id", "id % 4 AS k")
    wdf.mapInPandas(lambda it: it, "id long, k long").write.format("noop").mode("overwrite").save()
    (
        wdf.groupby("k")
        .cogroup(wdf.groupby("k"))
        .applyInPandas(lambda l, r: l, "id long, k long")
        .write.format("noop").mode("overwrite").save()
    )
    # page-cache prewarm: pull the input bytes once so per-query timings
    # measure compute, not which query happens to pay the cold disk read
    import glob as _glob

    for p in _glob.glob(os.path.join(sf_dir, "*.parquet")):
        with open(p, "rb") as f:
            while f.read(1 << 22):
                pass

    # Round-6 variance protocol (the round-5 dedup_minhash_lsh "regression"
    # adjudicated to first-execution codegen + hypervisor CPU-steal, not a
    # plan change): each headline query gets one UNTIMED warm pass (absorbs
    # whole-stage-codegen compilation and any one-time session caches) then
    # THREE timed passes; the reported number is the BEST of the three.
    # The box's noise is one-sided — hypervisor steal ADDS seconds, nothing
    # subtracts them — so min-of-warm-runs estimates the query's actual
    # compute cost while median/mean would fold a steal window into the
    # number (observed: warm samples [1.7, 5.4, 1.7] for the same plan).
    # "spread" = (max - min) / min of the timed samples goes into the JSON
    # so the next judge can separate noise from regression from the
    # artifact alone; all raw samples stay under "samples".
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    steal_samples: dict[str, list[int]] = {}
    steal_of_min: dict[str, int] = {}

    def record(name: str, run, n_timed: int, resample_over: float | None = None) -> None:
        run()  # warm pass: codegen JIT + session caches, untimed
        samples = _timed_samples(run, n_timed, resample_over)
        secs = [s for s, _ in samples]
        best = min(secs)
        timings[name] = round(best, 3)
        spreads[name] = round((max(secs) - best) / max(best, 1e-9), 3)
        all_samples[name] = [round(s, 3) for s in secs]
        steal_samples[name] = [st for _, st in samples]
        steal_of_min[name] = samples[secs.index(best)][1]
        print(
            f"# {name}: {timings[name]}s (spread {spreads[name]}, samples {all_samples[name]},"
            f" steal {steal_samples[name]})",
            file=sys.stderr,
        )

    for name in HEADLINE:
        fn = QUERIES[name]
        record(
            name,
            lambda fn=fn: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
            3,
        )

    # extension flagships: reported under "extended", NOT summed into
    # "value". NOTE on cross-round comparability: round 7 promoted five
    # entries into HEADLINE (adding ~14s to "value" by construction) —
    # compare totals across that boundary on the shared query subset via
    # the per-query dict, not the headline sum. The warm
    # pass here also absorbs the entries' one-time builds (kmeans session
    # cache, IVF store write, bucketed-table write), so the timed passes
    # measure the SERVING cost — the write-once/probe-many framing those
    # entries exist to demonstrate.
    # heavy flagships keep 2 timed passes (their spread is the signal the
    # round-5 variance protocol exists for); the wide tail runs 1 warm +
    # 1 timed pass so bench wall time grows ~2s per new entry, not ~6s
    extended: dict[str, float] = {}
    for name in EXTENDED:
        fn = QUERIES.get(name) or STAGED_QUERIES[name]
        record(
            name,
            lambda fn=fn: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
            2 if name in _EXT_HEAVY else 1,
            resample_over=None if name in _EXT_HEAVY else _EXT_RESAMPLE_THRESHOLD,
        )
        extended[name] = timings.pop(name)

    record("tf_parse_500_files", lambda: bench_tf_parse(spark, 500), 2)

    # r13 verdict item 2: the stream-stream full-outer drain is reported
    # under its own key and dropped from the summed headline; the
    # compatibility field below keeps r13<->r14 totals comparable for
    # exactly the transition round.
    streaming_drain = timings.pop(_DRAIN_KEY)
    # Round-7 contract fix: round 6's single JSON line grew to ~9.3 KB
    # (samples + spread + 77-entry extended) and overflowed the driver's
    # tail capture (BENCH_r06.json "parsed": null). The driver-parsed line
    # is now the LAST stdout line and stays compact (metric/value/unit/
    # per-headline-query/sf — ~1.2 KB); the full diagnostics (raw samples,
    # spread, extended per-entry timings) go to BENCH_EXTENDED.json next to
    # this script, which the judge reads directly and the driver ignores.
    # Git policy (CLAUDE.md): the committed copy is refreshed only by a
    # deliberate SOLO run when a bench-relevant change lands; checkout the
    # file after ad-hoc runs instead of committing contended numbers.
    side = {
        "samples": all_samples,
        "spread": spreads,
        "steal_samples": steal_samples,
        "extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        "sf": sf,
    }
    side_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_EXTENDED.json")
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1, sort_keys=True)
    print(f"# extended diagnostics -> {side_path}", file=sys.stderr)
    headline_steal = {
        name: steal_of_min[name]
        for name in list(timings) + ["tf_parse_500_files", _DRAIN_KEY]
        if name in steal_of_min
    }
    print(_driver_line(timings, streaming_drain, sf, headline_steal))


def _steal_contaminated(sec: float, ticks: int) -> bool:
    """True when a reported sample's steal rate says the number is
    inflated (calibration in _STEAL_FLAG_TICKS_PER_SEC's comment)."""
    return ticks >= _STEAL_FLAG_MIN_TICKS and ticks > _STEAL_FLAG_TICKS_PER_SEC * sec


def _driver_line(
    timings: dict[str, float],
    streaming_drain: float,
    sf: float | None,
    steal_of_min: dict[str, int],
) -> str:
    """The single driver-parsed stdout line. r15 verdict item 1
    (additions-only): per-entry steal ticks of the REPORTED sample plus
    a run-level contamination flag ride the line so phantom regressions
    self-adjudicate; unknown steal (-1 samples) is reported but never
    flags."""
    flagged = sorted(
        name
        for name, ticks in steal_of_min.items()
        if _steal_contaminated(timings.get(name, streaming_drain), ticks)
    )
    return json.dumps({
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "streaming_drain": streaming_drain,
        "steal_ticks": steal_of_min,
        "steal_flagged": flagged,
        "sf": sf,
    })


if __name__ == "__main__":
    main()
