#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: each query runs cold once (plan + JIT + shuffle warmup)
then 5 warm runs, reporting the warm minimum; execution is forced
through the `noop` sink so every output column is computed (a bare
count() would let Catalyst prune the very expressions being measured).

The quadratic ngram_jaccard_pairs tier is deliberately NOT a headline
query: its role is ground-truth for MinHash-LSH, which IS measured.

COMPARE protocol (r12, VERDICT r11 #7): this host's wall-clock drifts
in multi-second weather windows — r11 measured the SAME 122-123-query
tree at 0.96x and 1.18x DuckDB in two same-day windows (documented
spread 0.96-1.25x, DuckDB itself swinging 37.0-43.8 s). So: run ONE
head-to-head COMPARE per round, both engines in the SAME window with
nothing else on the box (check loadavg_start), and commit it ONCE.
Never chase a <25% aggregate delta without a same-window re-measure.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries import (  # noqa: E402
    GATE_PRIORITY,
)

# Not benchable under the registry's plan cache:
# - dedup_clusters_lsh: the iterative CC loop executes during DataFrame
#   construction (per-round actions + localCheckpoint), so warm runs
#   would replay a materialized checkpoint — timing nothing.
# - streaming_daily_counts: the availableNow drain happens at
#   construction; the returned frame is a static batch result.
# Both stay in the correctness registry.
# - streaming_watermark_dedup: same availableNow-at-construction shape.
_UNBENCHABLE = {
    "dedup_clusters_lsh",
    # Round 5: BPE training's per-round argmax + localCheckpoint run at
    # construction, same shape as dedup_clusters_lsh.
    "bpe_train_merges",
    "streaming_daily_counts",
    "streaming_watermark_dedup",
    # Round 6: txtable streaming-source pipeline — drain at
    # construction, same shape.
    "txstream_events_pipeline",
    # Round 4: the gated streaming family has the same
    # drain-at-construction shape as its members.
    "streaming_suite",
    # r13 (VERDICT r12 #8): CDC-APPLY materialization — the
    # apply_changes stream drains at construction (its docstring says
    # so); a warm run would time a static read of table B, not the
    # feed->reduce->MERGE loop. The loop's costs are pinned by
    # tests/test_txstream.py instead.
    "txstream_apply_changes",
}

# _CONSTRUCTION_EAGER (r10, VERDICT r9 #8): benchable queries whose
# DataFrame CONSTRUCTION runs eager Spark work that warm runs then
# reuse — pagerank_customer_supplier localCheckpoints its edge/outdeg
# inputs (GC-scoped; the 3 unrolled iterations stay lazy and ARE
# timed), and the trained-index ANN tiers (ann_ivf_topk,
# ann_pq_topk, ann_ivf_pq_topk, semdedup_clusters, the persistent-
# index probes) train their model artifact once per (session, sf_dir)
# via the registry cache / index LRU. Warm numbers for these measure
# the PROBE/ITERATION tail, not index build — the right cost model
# for a train-once-probe-many deployment, but don't read their
# round-over-round deltas as covering training. (The fully
# construction-drained set is _UNBENCHABLE above.)
_CONSTRUCTION_EAGER = {
    "pagerank_customer_supplier",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivf_pq_topk",
    # r14: shares ann_ivf_full_probe's session-cached static index
    # build; warm runs time the FILTERED probe (zone-map-pruned id
    # range + residual predicate + exhaustive-list rerank)
    "ann_ivf_filtered_topk",
    # r14: scratch (text, embedding) corpus + DML + BOTH index folds
    # run at construction; warm runs time hybrid serving from the
    # maintained states (no corpus access — plan-audited)
    "hybrid_rrf_maintained",
    "semdedup_clusters",
    # r11 (VERDICT r10 #6): the scratch-table build + DML history run
    # once at construction; warm runs measure the VIEW READ + FOLD
    # (base-state scan -> CDC feed delta aggregate -> state merge ->
    # finalize), not the table DML.
    "ivm_maintained_view_events",
    # r11: same shape for the join view (two scratch tables + DML at
    # construction; warm runs time the snapshot join + Δ(A⋈B) fold)
    "ivm_join_view_orders_lineitem",
    # r11: scratch source table + index init (train/assign) + DML
    # script + the one-MERGE CDC fold all run at construction; warm
    # runs time the exhaustive PROBE of the maintained index — probe
    # cost is the steady-state metric, maintenance cost is
    # O(changed rows) by construction (tests pin the fold).
    "ann_ivf_index_maintained",
    # r12: same builder family — the maintained-IVF-PQ probe and the
    # drift aggregate share ann_ivf_index_maintained's cached scratch
    # dir (plus the PQ codes init+fold); warm runs time the ADC probe
    # / the per-list drift aggregate. retrieval_suite inherits the
    # construction via its new ANN segs.
    "ann_ivf_pq_maintained",
    "ann_ivf_maintained_drift",
    "retrieval_suite",
    # r13: the clone lifecycle's scratch DML runs at construction;
    # warm runs time the clone READ (external parquet + external DV
    # sidecar + local divergence in one plan) — the steady-state cost
    # of serving a zero-copy clone.
    "txtable_clone_events",
    # r13: maintained MinHash-LSH index — scratch DML + init + fold at
    # construction; warm runs time pairs/probe serving from stored
    # signatures. dedup2_suite inherits the construction via its segs.
    "dedup_lsh_maintained",
    "dedup_lsh_maintained_probe",
    "dedup2_suite",
    # r14: maintained hyperplane-LSH embedding near-dup index — same
    # builder family (scratch DML + init + fold at construction); warm
    # runs time pairs/probe serving from stored (bucket, vector)
    # state. embedding_dedup_suite inherits the construction via its
    # new segs.
    "dedup_embedding_maintained",
    "dedup_embedding_maintained_probe",
    "embedding_dedup_suite",
}

# Round-over-round continuity: granular queries benched since r1/r2
# whose timings anchor regression tracking even though their gate
# moved into a consolidated suite.
_CONTINUITY = [
    "dedup_latest_per_key",
    "event_lag_minutes",
    "window_rank_orders",
    "month_window_counts",
    "json_extract_props",
    "text_stats",
    "text_quality_lang",
    "ann_ivf_topk",
    "embedding_norms",
    "asof_purchase_last_click",
    "sessionize_user_events",
    "cube_orders_status_priority",
    "percentiles_price_by_status",
    "string_funcs_docs",
    "dedup_embedding_cosine_lsh",
    "stratified_sample_docs",
    "hash_split_stats",
    "rolling_7day_revenue",
]

# Round-3 additions (tail-registered, still headline-benched).
_NEW_R3 = [
    "gopher_repetition_docs",
    "pii_redact_docs",
    "winnow_fingerprint_docs",
    "mixture_upsample_docs",
]

# Round-5 additions: granular curation2 spellings (the suite itself is
# gate-benched via GATE_PRIORITY) + SemDeDup tiers.
_NEW_R5 = [
    "paragraph_dedup_docs",
    "quality_classifier_docs",
    "bloom_decontaminate_docs",
    "weighted_sample_docs",
    "semdedup_exact",
    "semdedup_clusters",
    "sql_pricing_summary_q1",
    "chunk_documents_docs",
    "validate_constraints_orders",
    "bpe_pair_counts_docs",
    "check_foreign_keys",
    # r5: NULL-text robustness tier (augmented-corpus suite).
    "nulltext_robustness_suite",
    # r5: real container codecs — ISO-BMFF demux fan-out and RIFF/WAVE
    # PCM decode (their per-doc metadata segs are gate-benched inside
    # multimodal_decode_real).
    "multimodal_video_frames",
    "audio_decode_wav",
    "multimodal_decode_jpeg_color",
    "bm25_topk_docs",
    # r5: exact substring-span dedup (Lee et al. 2022 semantics).
    "substring_span_dedup_docs",
    # r5: CCNet-style bigram-LM perplexity filter (broadcast LM,
    # hash-sampled exact tercile thresholds).
    "lm_perplexity_filter_docs",
    # r5: int8-quantized two-stage retrieval (SQ8 memory scale path).
    "ann_int8_rerank_topk",
    # r5: corpus composition — per-domain caps + deterministic
    # source-interleaved read order.
    "domain_cap_docs",
    "interleave_sources_docs",
    # r5: Count-Min heavy hitters — the oracle-gated frequency sketch.
    "cms_top_tokens_docs",
    # r5: daily resample + linear interpolation (temporal family).
    "interpolate_daily_values",
    # r5: incremental dedup of a batch vs the historical fp index.
    "incremental_dedup_docs",
]

# Round-4 continuity: granular queries whose gate slot merged into a
# round-4 suite (tokenization/checks/sql_tpch/embedding_dedup) — keep
# their standalone timings comparable across rounds.
_CONTINUITY_R4 = [
    "token_count_bpe",
    "top_tokens_docs",
    "sql_forecast_revenue_q6",
    "dedup_embedding_cosine",
    # r5: gate and continuity swapped — event_gaps_native is now the
    # gated D1 spelling (in GATE_PRIORITY); the deliberate Arrow
    # group-map twin stays benched here so its boundary cost remains a
    # visible choice round-over-round.
    "applyinpandas_event_gaps",
    # New r4: learned-weight classifier (train + score in one plan).
    "quality_classifier_trained",
]

# Round-6 continuity: singleton gates absorbed into the round-6
# family suites (timeseries/fingerprint/dedup2/retrieval/curation3/
# media_decode) — standalone timings stay comparable across rounds.
_CONTINUITY_R6 = [
    "month_spine_fill",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash32",
    "jaccard_within_lsh_buckets",
    "dedup_exact_fingerprint",
    "merge_upsert_events",
]

# Round-6 additions: the transactional table format's lifecycle query
# (construction runs CREATE/APPEND/MERGE/DELETE once per session; the
# timed warm runs measure the snapshot READ path).
_NEW_R6 = [
    "txtable_merge_events",
    # zone-map-pruned snapshot range read over a MOR delete
    "txbatch_read_events",
]

_NEW_R7 = [
    # batch table_changes (TxTable.table_changes_native): per-commit
    # CDC events read from writer change files (table build + DELETE
    # run at construction; warm runs time the CDC read itself)
    "txbatch_change_feed_events",
    # H.264 Annex-B demux + Exp-Golomb SPS parse (bitstream tier of
    # lossy-video support; slice pixel decode out of scope)
    "video_h264_metadata",
]

_NEW_R8 = [
    # AAC/ADTS frame-walk metadata (bitstream tier of lossy-audio
    # support; spectral sample decode out of scope)
    "audio_aac_metadata",
    # deterministic corpus shuffle + shard assignment (one hash-window
    # shuffle, no global sort)
    "shuffle_shards_docs",
    # column-mapping lifecycle (rename/drop are metadata-only; warm
    # runs time the mapped snapshot READ path)
    "txtable_column_mapping_events",
    # PQ tier: integer-ADC shortlist + exact rerank (codebooks train
    # once per session via the index cache; warm runs time the scan)
    "ann_pq_topk",
    # distributed PCA fit + whitened projection (fit per execution:
    # the one-pass partial-XtX allreduce IS the measured operator)
    "embedding_pca_whiten",
    # 3-iteration integer PageRank over the customer-supplier graph
    "pagerank_customer_supplier",
    # IVF-PQ composition (coarse restriction + integer-ADC + rerank)
    "ann_ivf_pq_topk",
]

_NEW_R10 = [
    # incrementally maintained aggregate view: the table build + DML
    # history run at construction; warm runs time the REFRESH read
    # path (feed scan -> delta aggregate -> state merge -> finalize)
    "ivm_maintained_view_events",
]

_NEW_R11 = [
    # IVM over a JOIN: scratch tables + DML at construction; warm runs
    # time the snapshot-join state + Δ(A⋈B) fold (join_delta)
    "ivm_join_view_orders_lineitem",
    # CDC-maintained IVF index: source table + init + DML + fold at
    # construction; warm runs time the exhaustive probe of the
    # maintained postings TxTable
    "ann_ivf_index_maintained",
]

_NEW_R12 = [
    # fully maintained IVF-PQ: maintained postings route candidates,
    # maintained codes feed the integer ADC, exact rerank against the
    # source's current snapshot (construction-eager; see above)
    "ann_ivf_pq_maintained",
    # per-list occupancy + quantized cohesion over the maintained
    # postings — the when-to-rebuild signal for the frozen quantizer
    "ann_ivf_maintained_drift",
    # maintained inverted-index statistics (IVM over tokenized docs:
    # the (term, doc) incidence state folds the CDC feed; DML script
    # at construction, warm runs time the df finalize / the BM25
    # scoring served entirely from the state — no corpus access)
    "ivm_text_df_view",
    "bm25_maintained_topk",
]

_NEW_R13 = [
    # shallow-CLONE read path: mixed external/local/DV-sidecar snapshot
    # scan (scratch DML at construction; see _CONSTRUCTION_EAGER)
    "txtable_clone_events",
    # CDC-maintained MinHash-LSH index (scratch DML + init + fold at
    # construction): warm runs time the SERVING paths — the band
    # self-join over stored signatures, and the probe batch's
    # tokenize+hash + band join against the index projection
    "dedup_lsh_maintained",
    "dedup_lsh_maintained_probe",
]

_NEW_R14 = [
    # CDC-maintained hyperplane-LSH embedding near-dup index (scratch
    # DML + init + fold at construction): warm runs time the SERVING
    # paths — within-bucket BLAS Gram over stored (bucket, vector)
    # state, and the probe batch's hyperplane matmul + bucket join +
    # bounded exact-cosine verify
    "dedup_embedding_maintained",
    "dedup_embedding_maintained_probe",
    # filtered ANN: exhaustive IVF probe with a zone-map-pruned id
    # range + residual predicate on the postings side (index built
    # once per session; warm runs time the filtered probe)
    "ann_ivf_filtered_topk",
    # hybrid RRF: BM25 arm + cosine arm + k-sized fusion — warm runs
    # time both corpus passes plus the bounded fusion join/window
    "hybrid_rrf_topk_docs",
    # maintained hybrid: scratch corpus + both index folds at
    # construction; warm runs time the two STATE-SERVED arms (text
    # state scoring + exhaustive maintained-postings probe) + fusion
    "hybrid_rrf_maintained",
]

HEADLINE = (
    [q for q in GATE_PRIORITY if q not in _UNBENCHABLE]
    + _CONTINUITY
    + _NEW_R3
    + _NEW_R5
    + _CONTINUITY_R4
    + _CONTINUITY_R6
    + _NEW_R6
    + _NEW_R7
    + _NEW_R8
    + _NEW_R10
    + _NEW_R11
    + _NEW_R12
    + _NEW_R13
    + _NEW_R14
)

# Tail queries NOT in HEADLINE, each with its one-line exclusion
# rationale (r13, VERDICT r12 #8). Every registry query must appear in
# HEADLINE, _UNBENCHABLE, or here — bench.py refuses to run otherwise,
# so a future registration can't silently skip the roster. "suite
# member" = a granular spelling whose gated suite IS benched every
# round (the member stays locally oracle-gated by test_oracle_parity).
_UNBENCHED_TWINS = {
    "ann_lsh_topk": "LSH bucket-join + rerank; plan twin of benched "
                    "fingerprint_suite lsh_cand + ann rerank tiers",
    "anti_join_customers_without_orders": "semi_anti_customers suite member",
    "semi_join_customers_with_orders": "semi_anti_customers suite member",
    "setops_custkeys": "setops_union_suite member",
    "intersect_custkeys": "setops_union_suite member",
    "except_custkeys": "setops_union_suite member",
    "union_monthly_slices": "setops_union_suite member",
    "distinct_part_brand_type": "setops_union_suite member (A7 distinct)",
    "approx_profile_events": "approx sketches, rows-only oracle; timing "
                             "twin of benched null_profile_events scan",
    "composite_key_events": "scalar-function micro-query; benched via "
                            "events_enrich (F5)",
    "numeric_coerce": "scalar-function micro-query; benched via "
                      "events_enrich (F6)",
    "timestamp_parse_roundtrip": "scalar micro-query; benched via "
                                 "events_enrich (F1/F8)",
    "first_last_nth_order_price": "window_functions_suite member",
    "ntile_customers_by_balance": "window_functions_suite member",
    "percent_rank_orders": "window_functions_suite member",
    "rolling_revenue_per_customer": "rolling_windows_suite member "
                                    "(also plan-audited standalone)",
    "rollup_region_nation": "partials-not-Expand twin of benched "
                            "cube/grouping_sets queries",
    "topk_orders": "TakeOrderedAndProject micro-twin of benched "
                   "sql_shipping_priority_q3 (also plan-audited)",
    "multimodal_decode_stub": "stub plumbing; real codecs benched via "
                              "multimodal_decode_real + media_decode_suite",
    "multimodal_resize_stub": "stub plumbing; benched via "
                              "multimodal_geometry_suite",
    "multimodal_frame_sample": "benched via multimodal_geometry_suite",
    "ngram_jaccard_pairs": "deliberately unbenched quadratic ground-"
                           "truth tier (see module docstring)",
    "txtable_change_feed_events": "merge_suite cdc_feed member; the "
                                  "per-commit twin "
                                  "txbatch_change_feed_events is benched",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only: list[str] | None = None
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        only = [s for s in sys.argv[2].split(",") if s]
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.session import (
        _DEFAULT_CPUS,
        data_scaled_conf,
        get_spark,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries import (
        spark_queries,
    )

    cpus = _DEFAULT_CPUS

    total_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    # Shuffle partitions AND input splits sized to the data (see
    # session.data_scaled_conf): with the defaults, an 11 MB lineitem
    # scans as 3 map tasks and 29 of 32 cores idle. Measured at sf0.1:
    # scan-bound queries drop 20-30% wall-clock from split sizing.
    sized = data_scaled_conf(total_bytes, int(cpus))

    # Small-input fast path: AQE's per-query re-planning overhead
    # (~40-70 ms constant) outweighs its benefit when total input is
    # sub-GB; its payoff (coalescing, skew splitting, join re-choice)
    # scales with shuffle bytes. Threshold 1 GiB.
    adaptive = total_bytes >= (1 << 30)

    spark = get_spark(
        app_name="cfs_bench",
        master=f"local[{cpus}]",
        adaptive=adaptive,
        extra_conf=sized,
    )
    queries = spark_queries()

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Session warmup: JVM/codegen/parquet-footer caches.
    force(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1000))

    # Min of 5 warm runs per query (VERDICT r2 #8), drawn from TWO
    # time-separated passes over the whole suite (r8, VERDICT r7 #2):
    # JVM noise is strictly additive so the min estimates the plan's
    # true cost, but this host's wall-clock drifts in multi-second
    # weather windows — 5 back-to-back draws all land in the same
    # window, so a whole-suite second pass minutes later gives each
    # query draws from two independent windows and the min survives
    # one bad one. loadavg at start/end is recorded for attribution.
    # Roster completeness (r13): every registered query is benched,
    # documented-unbenchable, or a rationale-carrying twin — nothing
    # silently falls off the measurement roster.
    unrostered = (
        set(queries) - set(HEADLINE) - _UNBENCHABLE - set(_UNBENCHED_TWINS)
    )
    if unrostered:
        raise RuntimeError(
            f"queries missing from the bench roster (add to HEADLINE, "
            f"_UNBENCHABLE, or _UNBENCHED_TWINS): {sorted(unrostered)}"
        )

    names = list(only if only is not None else HEADLINE)
    load_start = os.getloadavg()
    times: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        force(fn(spark, sf_dir))  # cold: planning + JIT
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        times[name] = best
    for name in names:  # second window: 2 more warm draws per query
        fn = queries[name]
        for _ in range(2):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            times[name] = min(times[name], time.perf_counter() - t0)
    times = {k: round(v, 4) for k, v in times.items()}

    total = round(sum(times.values()), 4)
    full = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
    }
    if only is not None:
        # Iteration mode: not the driver contract — full map, done.
        print(json.dumps(full))
        spark.stop()
        return

    # The driver records only the LAST 2000 chars of stdout and parses
    # the final JSON line; the full per-query map (81 queries, ~2.5 KB
    # compact) cannot fit, so BENCH_r03 came back parsed:null. Emit the
    # full map to BENCH_FULL.json + an earlier stdout line, then a
    # compact final line — total plus the most expensive queries, the
    # map trimmed (cheapest first) until the line fits the window.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass

    # stdout carries ONLY the compact line: a second (full-map) line
    # would land truncated inside the tail window and could confuse a
    # parser that scans for the first JSON-looking fragment.
    budget = 1800  # headroom under the 2000-char tail capture
    compact_q = {k: round(v, 2) for k, v in times.items()}
    by_cost = sorted(compact_q, key=lambda k: (compact_q[k], k))
    # queries_file points the driver artifact at the COMPLETE per-query
    # map (VERDICT r5 #7): the stdout line can't carry all ~100 timings
    # inside the 2000-char tail window, so round-over-round diffing
    # should read BENCH_FULL.json; the inline map keeps the most
    # expensive queries for at-a-glance triage.
    headline = dict(
        full,
        queries=compact_q,
        n_queries=len(times),
        queries_file="BENCH_FULL.json",
        # COMPLETE per-query record inline (VERDICT r5 #7 / ADVICE r6):
        # full names don't fit the 2000-char tail window, but a
        # positional float array does — qtimes[i] is the time of the
        # i-th query in sorted(name) order, so the round artifact alone
        # carries every timing (zip(sorted(queries()), qtimes)).
        qtimes=[compact_q[k] for k in sorted(compact_q)],
    )
    while by_cost and len(json.dumps(headline, separators=(",", ":"))) > budget:
        del headline["queries"][by_cost.pop(0)]
    print(json.dumps(headline, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
