#!/usr/bin/env python
"""Physical-plan audit (SURVEY.md §4): verify that every headline query
compiles to the plan you'd WANT at 100 TB — filters pushed to the scan,
columns pruned, small sides broadcast, no redundant shuffles, hot
expressions inside WholeStageCodegen.

Writes PLANS.md: one row per audited property per query, plus the
formatted plan for the flagship. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def count_exchanges(plan: str) -> int:
    # AQE plans repeat operator names in the tree; count unique op ids.
    return len(re.findall(r"\(\d+\) Exchange", plan))


def count_ops(plan: str, op: str) -> int:
    # formatted plans print each node twice (tree + details); count op ids.
    return len(re.findall(rf"\(\d+\) {op}", plan))


# Measured once per round by tools/floor_profile.py under the EXACT
# bench session; kept here so PLANS.md regeneration preserves the note.
CDC_NOTE = """\
## Streaming CDC reader: per-commit distribution + memory bound (r7)

Not plan-derivable (Python DataSource partitions are opaque to
Catalyst), so stated here and pinned by tests
(tests/test_txstream.py::test_cdc_partition_decomposition): a
non-append commit NEVER funnels through one task. Partition taxonomy
in `sources/txstream.py`, most-distributed first — writer change
files (`change_data_feed=True` tables) plan one partition per
`_change_data` file, O(changed rows) total, zero read-time diffing;
pure-MOR masking plans one partition per file with an index take (no
key, no join); one-sided commits plan whole-file partitions; only a
COW rewrite on a non-CDF table needs a keyed diff, and that is
hash-sliced into ceil(rows / cdcSliceRows) Arrow-join partitions
(default 4M rows ≈ 400 MB retained per task, MAX_SLICES=64). The
documented trade: each slice re-scans the commit's changed files
(read amplification = n_slices), which is exactly why tables that
stream CDC at scale should enable writer-side change files. The r6
single-task Python-dict diff is gone; the batch
`readChangeFeed=true` DataFrame read delegates to the same taxonomy.
"""

FLOOR_NOTE = """\
## Sub-second SQL floor, quantified (round 5, VERDICT r4 #5)

Measured with tools/floor_profile.py at sf0.1 under the bench session
(data-scaled conf, AQE off): the EMPTY-JOB floor is **0.05 s** (noop
write of a 1-row range) and the limit-0 scan floor 0.03 s — far below
the 0.2–0.4 s the r4 verdict assumed. The mid-band gap is therefore
real execution, and it decomposes into exactly two causes:

1. **Per-row `Round` on DoubleType allocates a BigDecimal per row.**
   Eliminated in r5 by the `floor(x*100 + 0.5)` money-quantization
   spelling (identical values for 2-decimal money; parity-pinned):
   `sql_pricing_summary_q1` 0.46→0.28 s (2.9×, floor-adj 2.4×),
   `sql_tpch_suite` 0.54→0.38 s (3.9×), `groupby_multi_agg`
   0.93→0.74 s.
2. **Shuffle materialization of high-cardinality intermediates.** The
   residue is the exchange itself: a bare
   `distinct(flag,status,orderkey)` over 600 k rows costs 0.45–0.55 s
   regardless of shuffle-partition count (4→64 sweep: 0.70→0.56 s,
   flat), shuffle compression on or off (±5%), or key shape (packed
   single-long key vs two strings + long: 0.56 vs 0.58 s). DuckDB
   streams the same aggregate through an in-memory hash (0.14 s);
   Spark serializes the 600 k-group partial through its spillable,
   network-ready exchange. That exchange IS the property that lets the
   same plan run on 1000 executors at 100 TB — it is floor, not fat,
   and we accept it: `exists_late_shipments` (semi-join shuffle of
   600 k keys, 0.48 s) and `groupby_multi_agg` (distinct shuffle,
   0.74 s) sit on it; every other mid-band query is ≤2.9× with plans
   verified clean above.

3. **The Arrow crossing floor (round 6).** A bare `mapInPandas` over
   the sf0.1 documents table — identity kernel, any partition count
   from 4 to 32 — costs **~0.20 s** (task dispatch + Python-worker
   Arrow round-trip). After the round-6 codec vectorization (16-bit
   LUT Huffman decode, batched scan encoder, fused 4-seg crossing)
   the media decode queries sit ON this floor:
   `multimodal_decode_real` 0.29 s for four real codecs in one
   crossing, `multimodal_decode_jpeg_color` ~0.44 s (its color kernel
   is the one remaining >floor term — ~50 ms/task at 32-way). Their
   3-4× ratios against 0.08-0.14 s DuckDB oracles are this fixed
   crossing cost, not kernel fat; at corpus scale the same crossing
   amortizes over GB-sized partitions. SCALE.md measures the
   general form of this argument across a 100× data span.

Round-6 note on `gopher_repetition_docs`: the r5-reported 0.73 s was
bench-context noise, not a regression — re-measured at 0.17-0.36 s
(isolated and in the full r6 run) with no code change to
`top_ngram_stats`.
"""


def main() -> None:
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries import (
        spark_queries,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="explain_audit", shuffle_partitions=8)
    qs = spark_queries()

    # Plan-only builders for queries whose construction must re-run
    # under the probe conf: the registry memoizes DataFrames per
    # (session, sf_dir), but pagerank's measured-count broadcast gate
    # reads autoBroadcastJoinThreshold at CONSTRUCTION time — a
    # memoized plan built under the default threshold would carry its
    # hints into the @nobroadcast probe. Direct builders bypass the
    # memoization so each mode constructs fresh.
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries_extra import (
        pagerank_customer_supplier_df,
    )

    plan_builders = {
        "pagerank_customer_supplier": pagerank_customer_supplier_df,
    }

    def build(name):
        return plan_builders.get(name, qs[name])

    # (query, property, predicate over formatted plan, why-it-matters)
    checks = [
        (
            "filter_project",
            "filters pushed to parquet scan",
            lambda p: re.search(r"PushedFilters: \[[^\]]*GreaterThan", p),
            "row-group pruning at the source — scans skip data at 100 TB",
        ),
        (
            "filter_project",
            "column pruning at scan",
            lambda p: "ReadSchema" in p
            and "l_comment" not in p.split("ReadSchema", 1)[1][:400],
            "untouched columns never leave the parquet footer",
        ),
        (
            "multiway_join_agg",
            "small dims broadcast",
            lambda p: "BroadcastHashJoin" in p,
            "no shuffle of the fact side for dim joins",
        ),
        (
            "range_join_price_bands",
            "range join is a bucketed HASH join",
            lambda p: "BroadcastHashJoin" in p
            and "BroadcastNestedLoopJoin" not in p,
            "bucket-quantized equi-key + residual filter: O(rows) hash "
            "probes, not O(rows × bands) nested-loop comparisons",
        ),
        (
            "groupby_multi_agg",
            "partial/final HashAggregate pair",
            lambda p: len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
            "map-side combine before the shuffle",
        ),
        (
            "groupby_multi_agg",
            "fused bitmap distinct: no Expand, one scan, one shuffle "
            "chain",
            # node-detail header "(N) Scan parquet" appears once per
            # physical scan (the tree line spells it id-last)
            lambda p: "Expand" not in p
            and len(re.findall(r"(?m)^\(\d+\) Scan parquet", p)) == 1
            and "Join" not in p,
            "r11 (VERDICT r10 #4): countDistinct folds into the ONE "
            "level-1 aggregate as a 64-id 8-byte bitmap per (keys, "
            "id>>6) bucket — map-side bit_or collapses dense surrogate "
            "ids ~64x before the shuffle; no Expand rewrite, no second "
            "scan, no branch join (0.37 s vs split 0.44 s vs cascade "
            "1.08 s at sf0.1)",
        ),
        (
            "groupby_multi_agg",
            "whole-stage codegen spans@codegen",
            # formatted plans under AQE omit codegen ids; the codegen
            # explain mode reports "Found N WholeStageCodegen subtrees".
            lambda p: re.search(r"Found [1-9]\d* WholeStageCodegen", p),
            "agg expressions run in generated JVM code",
        ),
        (
            "dedup_latest_per_key",
            "exactly one exchange",
            lambda p: count_exchanges(p) == 1,
            "window dedup = single hash shuffle, no join (vs the "
            "reference's sort + self-join, app.py:427-480)",
        ),
        (
            "asof_purchase_last_click",
            "single exchange for the as-of join",
            lambda p: count_exchanges(p) == 1,
            "union+window as-of: one shuffle on user_id, no range join",
        ),
        (
            "sessionize_user_events",
            "single exchange for sessionize",
            lambda p: count_exchanges(p) == 1,
            "lag + running sum share one window partitioning",
        ),
        (
            "minhash_signatures",
            "no Python in the hot path",
            lambda p: "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
            "md5/conv chain is all JVM codegen",
        ),
        (
            "cube_orders_status_priority",
            "cube from partials (no Expand; scan x1)",
            lambda p: "Expand" not in p,
            "finest groupBy scans data once; coarser tiers re-aggregate "
            "its tiny result — native CUBE's Expand materializes 2^n "
            "copies of every row (r8: the one RISING panel ratio)",
        ),
        (
            "cube_orders_status_priority",
            "coarser tiers re-aggregate exchange-free@noaqe",
            lambda p: count_exchanges(p) == 1,
            "r14 (guide §2.4): finest_partitions=1 coalesces the "
            "bounded-enum finest tier (status × priority ≤ 15 rows at "
            "any SF) to one partition, which satisfies every coarser "
            "tier's clustering requirement — the plan keeps exactly "
            "the one shared finest shuffle (was 4 Exchange)",
        ),
        (
            "pagerank_customer_supplier",
            "iterative joins stay hash-based, zero Python",
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "3 unrolled iterations = equi-joins + hash aggregates only; "
            "integer ops keep the whole loop codegen, no UDF anywhere",
        ),
        (
            "pagerank_customer_supplier",
            "node-sized tables: NO broadcast at disabled threshold@nobroadcast",
            lambda p: "BroadcastExchange" not in p,
            "ranks/outdeg/contrib are (node, long) tables that GROW with "
            "the graph — an unconditional hint would force billions of "
            "nodes onto every executor at 100 TB. pagerank_fixed's gate "
            "broadcasts only when the MEASURED node count fits "
            "autoBroadcastJoinThreshold (AQE's rule with exact "
            "cardinality); with the threshold disabled no "
            "BroadcastExchange appears anywhere in the plan — the same "
            "no-blind-hint discipline incremental_dedup_docs pins",
        ),
        (
            "ivm_maintained_view_events",
            "maintained-view fold: hash joins + aggregates only",
            lambda p: "CartesianProduct" not in p and "Expand" not in p
            and "BroadcastNestedLoopJoin" not in p,
            "r10: the refresh read path is delta aggregate + "
            "co-partitioned state merge — no row multiplication, "
            "nothing quadratic; work is O(changed rows) + O(|state|)",
        ),
        (
            "topk_orders",
            "top-k as TakeOrderedAndProject",
            lambda p: "TakeOrderedAndProject" in p,
            "no global sort materialization for ORDER BY + LIMIT",
        ),
        (
            "grouping_sets_orders",
            "grouping sets from partials (no Expand; scan x1)",
            lambda p: "Expand" not in p,
            "native GROUPING SETS would Expand one copy of every row "
            "per set (3x scan); the finest groupBy scans once and each "
            "requested set re-aggregates its tiny result (r9, same "
            "treatment CUBE got in r8)",
        ),
        (
            "grouping_sets_orders",
            "requested sets re-aggregate exchange-free@noaqe",
            lambda p: count_exchanges(p) == 1,
            "r14 (guide §2.4): same finest_partitions=1 treatment as "
            "the cube — one shared finest shuffle, zero per-set "
            "exchanges (was 4 Exchange / one extra stage wave per set)",
        ),
        (
            "sql_shipping_priority_q3",
            "fact table streams; dim-join side is the broadcast build",
            lambda p: "BuildRight" not in p
            and p.count("BroadcastHashJoin") >= 2,
            "r14 (guide §3.1): the flat spelling broadcast the FILTERED "
            "LINEITEM (fact) side because it sneaked under the 10 MB "
            "estimate; the named (customer ⋈ orders) subtree — ~20× "
            "fewer rows at every SF — is hinted (size-gated on the "
            "orders scan, omitted above 1 GiB so the planner shuffles "
            "both sides at scale) and lineitem is never collected",
        ),
        (
            "exists_late_shipments",
            "semi-join build side is the per-orderkey MAX, not raw rows",
            lambda p: "partial_max" in p,
            "r14 (guide §2.3): EXISTS(l: l_shipdate > d) ⟺ "
            "MAX(l_shipdate) > d (monotone predicate), so the subquery "
            "pre-reduces lineitem map-side before the exchange — build "
            "side one row per orderkey (4× fewer at sf0.1, and the "
            "shuffled bytes shrink identically at cluster scale)",
        ),
        (
            "sql_top_revenue_nations",
            "SQL front-end broadcasts dims",
            lambda p: "BroadcastHashJoin" in p,
            "spark.sql compiles to the same physical plan as the "
            "DataFrame spelling — no penalty for the SQL surface",
        ),
        (
            "rolling_revenue_per_customer",
            "single exchange for the frame agg",
            lambda p: count_exchanges(p) == 1,
            "rolling sum reuses the window partitioning; no extra "
            "shuffle beyond partitionBy(o_custkey)",
        ),
        (
            "ann_ivf_topk",
            "IVF probe join is broadcast",
            lambda p: "BroadcastHashJoin" in p,
            "probe lists ship to executors; the corpus never shuffles "
            "before candidate generation",
        ),
        (
            "exists_late_shipments",
            "EXISTS rewritten to a semi join",
            lambda p: re.search(r"(LeftSemi|Semi)", p),
            "Catalyst's RewritePredicateSubquery: the subquery surface "
            "costs the same plan as the hand-built semi join",
        ),
        (
            "ngram_contamination_check",
            "bench shingles broadcast; corpus probe map-side",
            lambda p: "BroadcastHashJoin" in p,
            "the corpus's shingle stream is never shuffled — only "
            "matched triples reach an exchange",
        ),
        (
            "ngram_contamination_check",
            "corpus shingles outside Python/interpreted path",
            lambda p: "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
            "explode(sequence)+slice shingling runs in codegen "
            "(interpreted transform measured 6× slower)",
        ),
        (
            "ann_cosine_topk",
            "partial top-k BEFORE the ranking exchange (no n·q shuffle)",
            lambda p: (
                lambda mp, me: mp is not None
                and me is not None
                and mp.start() < me.start()
            )(
                re.search(
                    r"\(\d+\) WindowGroupLimit\n[^(]*Arguments: [^\n]*Partial", p
                ),
                re.search(r"\(\d+\) Exchange", p),
            ),
            "r13 (the r12 weak item): InferWindowGroupLimit plans a "
            "Partial WindowGroupLimit before the exchange — each map "
            "task emits ≤ q·k rows, so the ranking shuffle carries "
            "partitions·q·k rows, never the full n·q scored cross "
            "product; this row fails if a regression re-materializes "
            "the scored relation into the exchange",
        ),
        (
            "ann_cosine_topk",
            "per-side norms computed once, not per pair",
            lambda p: p.count("SQRT(aggregate") == 2,
            "r13: higher-order folds run interpreted and outside CSE — "
            "precomputing each side's L2 norm (corpus pre-join, queries "
            "inside the broadcast) leaves ONE dot-product fold per "
            "(row, query) pair instead of three (1.6× warm, "
            "bit-identical scores); exactly 2 SQRT folds in the plan "
            "means neither norm was re-inlined into the pair projection",
        ),
        (
            "merge_upsert_events",
            "merge anti-join + union, single scan family",
            lambda p: re.search(r"(LeftAnti|Anti)", p),
            "MERGE INTO semantics as anti join + union — incremental "
            "refresh, not drop-and-reload",
        ),
        (
            "rolling_7day_revenue",
            "single exchange for the RANGE frame",
            lambda p: count_exchanges(p) == 1,
            "value-range frame reuses the window partitioning",
        ),
        (
            "top_tokens_docs",
            "explode path ends in TakeOrdered",
            lambda p: "TakeOrderedAndProject" in p,
            "top-k over exploded tokens never globally sorts the "
            "term dictionary",
        ),
        (
            "corpus_curation_pipeline",
            "single exchange beyond the dedup shuffle",
            lambda p: count_exchanges(p) <= 2,
            "dedup is the only wide stage; sample/score/filter are "
            "map-side on the scan",
        ),
        (
            "window_functions_suite",
            "4 windows, 2 exchanges, never SinglePartition",
            lambda p: count_exchanges(p) == 2 and "SinglePartition" not in p,
            "same-partitioning windows share one shuffle (expression "
            "order groups them); a global window here would poison the "
            "whole plan into one task — the planner satisfies every "
            "clustering requirement with a SinglePartition exchange",
        ),
        (
            "rolling_windows_suite",
            "RANGE + ROWS frames share one exchange",
            lambda p: count_exchanges(p) == 1,
            "both frames partition on o_custkey; the second window "
            "re-sorts in place, no re-shuffle",
        ),
        (
            "events_enrich",
            "one exchange, zero Python",
            lambda p: count_exchanges(p) == 1
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "five scalar-function families + lag over ONE scan and one "
            "window shuffle, all codegen",
        ),
        (
            "text_profile_docs",
            "pure map-side scan (zero exchanges, zero Python)",
            lambda p: count_exchanges(p) == 0
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "stats+quality+lang are one codegen stage over the scan — "
            "profiling 100 TB is a single pass with no shuffle",
        ),
        (
            "sample_split_docs",
            "sampling/split map-side; only the final agg shuffles",
            lambda p: count_exchanges(p) == 1
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "hash-sampling is a filtered scan at any scale; the "
            "(lang, split) agg is the only wide stage",
        ),
        (
            "jaccard_within_lsh_buckets",
            "verify joins are equi-hash, never nested-loop",
            lambda p: "BroadcastNestedLoopJoin" not in p
            and "CartesianProduct" not in p,
            "LSH proposes, exact Jaccard verifies only proposed pairs — "
            "cost O(|candidates|), not O(n²) over the corpus",
        ),
        (
            "semi_anti_customers",
            "membership via LeftSemi + LeftAnti joins",
            lambda p: re.search(r"(LeftSemi|Semi)", p) and re.search(r"(LeftAnti|Anti)", p),
            "IN / NOT IN as distributed joins, no driver value list",
        ),
        (
            "multimodal_decode_real",
            "decode is Arrow-batched, not row-at-a-time Python",
            lambda p: "BatchEvalPython" not in p,
            "the codec kernel crosses the JVM-Python boundary once per "
            "Arrow batch (mapInPandas), never per row",
        ),
        (
            "salted_count_distinct_orders",
            "salted distinct = cascaded HashAggregates",
            lambda p: len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
            "hot keys split across salt buckets before the final "
            "combine — no single-reducer distinct",
        ),
        (
            "pii_redact_docs",
            "PII scrub is a zero-exchange codegen scan",
            lambda p: count_exchanges(p) == 0
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "detect+redact stay in one map stage — scrubbing 100 TB "
            "is a filtered read-rewrite pass, no shuffle, no Python",
        ),
        (
            "winnow_fingerprint_docs",
            "winnowing costs ONE exchange (window+distinct+agg share doc_id clustering)",
            lambda p: count_exchanges(p) == 1,
            "the only exchange is a pre-explode repartition of the RAW "
            "documents (bytes of text, not 20 B/char of hashes) that also "
            "unlocks full-core parallelism for the work-bound per-char "
            "hashing; rolling-min window, distinct and agg reuse its "
            "doc_id partitioning",
        ),
        (
            "substring_span_dedup_docs",
            "span dedup: bounded narrow exchanges, zero Python, no cartesian",
            # 5 distinct exchanges AQE-off with the fingerprint pass
            # exchange-reused; the AQE plan shows the pre-reuse 8.
            lambda p: count_exchanges(p) <= 8
            and "EvalPython" not in p
            and "CartesianProduct" not in p,
            "the duplicate mark is a window count over ONE fp exchange "
            "(no self-join, so the explode+md5 fingerprint pass runs "
            "once and is exchange-reused for the rebuild branch); span "
            "merge + rollup share one doc_id exchange, and the "
            "positional anti-join shuffles (id, pos) pairs — document "
            "text never rides any shuffle",
        ),
        (
            "lm_perplexity_filter_docs",
            "LM ships as broadcasts; scoring is map-side, zero Python",
            lambda p: p.count("BroadcastHashJoin") >= 2
            and "EvalPython" not in p
            and "CartesianProduct" not in p,
            "the CCNet shape: bigram/context counts are bounded by the "
            "REFERENCE corpus and broadcast to executors (how KenLM "
            "models ship to workers); the corpus scoring pass is "
            "explode + broadcast-hash probes + per-doc aggregate — "
            "text never rides a shuffle, and the tercile-threshold fit "
            "scores only a hash sample (its single-partition window is "
            "over the bounded sample, never the corpus)",
        ),
        (
            "interpolate_daily_values",
            "resample+interp: 2 exchanges, windows never SinglePartition",
            lambda p: count_exchanges(p) <= 2
            and "SinglePartition" not in p
            and "EvalPython" not in p,
            "daily agg and the per-key spine/windows share the key "
            "clustering (one agg exchange + one join-side exchange); "
            "prev/next propagate via frame-bounded windows on the same "
            "partitioning — densifying a 100 TB series never funnels "
            "through one task",
        ),
        (
            "incremental_dedup_docs",
            "increment probes history by fingerprint; text never shuffles",
            lambda p: count_exchanges(p) <= 3 and "EvalPython" not in p,
            "the batch ships (id, 16-byte fp) into one history join + "
            "one within-batch window — the accumulated corpus is never "
            "rescanned; daily dedup cost is O(batch), not O(corpus)",
        ),
        (
            "incremental_dedup_docs",
            "index side carries NO broadcast hint@nobroadcast",
            lambda p: "BroadcastExchange" not in p,
            "the accumulated fingerprint index GROWS with the corpus: "
            "with the auto-broadcast threshold disabled, any "
            "BroadcastExchange could only come from a hard hint — none "
            "appears, so at 100 TB the optimizer is free to "
            "shuffle-hash the index instead of collecting billions of "
            "fingerprints onto every executor",
        ),
        (
            "cms_top_tokens_docs",
            "CMS: one corpus pass; sketch+probes on weighted distincts",
            lambda p: "BroadcastHashJoin" in p
            and "EvalPython" not in p
            and "CartesianProduct" not in p
            and len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2
            # both the counter build and the probe read the persisted
            # (value, count) relation — the corpus aggregation is
            # STRUCTURALLY single-execution, not optimizer-dependent
            and len(re.findall(r"\(\d+\) InMemoryTableScan", p)) >= 2,
            "exact per-value counts are the only corpus-scaled stage "
            "(map-combined); the depth×width counter grid and the "
            "min-probe both run on the distinct-value relation, with "
            "the counters shipping as one broadcast — sketching 100 TB "
            "is a scan plus vocab-sized arithmetic",
        ),
        (
            "domain_cap_docs",
            "domain cap = ONE group-key exchange, zero Python",
            lambda p: count_exchanges(p) == 1 and "EvalPython" not in p,
            "the per-domain top-N is a single window over the source "
            "shuffle; quality scoring stays a codegen scan fused below "
            "it — capping 100 TB is one bounded-sort shuffle",
        ),
        (
            "interleave_sources_docs",
            "interleave order is a formula: dim broadcast, no corpus sort",
            # 4 distinct exchanges AQE-off; the AQE plan shows the
            # pre-reuse 5 (distinct-source partial/final pair unshared).
            lambda p: p.count("BroadcastHashJoin") >= 2
            and count_exchanges(p) <= 5
            and "EvalPython" not in p,
            "the corpus touches one per-source row_number exchange; the "
            "single-partition windows in the plan are over the DISTINCT "
            "SOURCES dim (bounded), which broadcasts back — the global "
            "read order is (rn-1)·K+idx arithmetic, never a global sort",
        ),
        (
            "ann_int8_rerank_topk",
            "int8 prefilter is JVM-only; quantized queries broadcast",
            lambda p: "BroadcastHashJoin" in p
            and "EvalPython" not in p
            and "CartesianProduct" not in p,
            "quantization is a map-side array transform (no shuffle); "
            "the integer-dot stage joins the exploded corpus against "
            "the BROADCAST quantized query set and map-combines exact "
            "integer partial sums — float vectors ride no shuffle, and "
            "the exact-cosine rerank touches only the shortlist",
        ),
        (
            "mixture_upsample_docs",
            "upsample explode is map-side; only the report's distinct-cascade shuffles",
            lambda p: count_exchanges(p) == 2
            and "BatchEvalPython" not in p
            and re.search(r"Generate[^\n]*\n\s*\+- Scan parquet", p),  # explode sits on the scan
            "fractional-epoch replication of 100 TB is a flat-mapped "
            "scan (copy counts are pure row functions, no state); the two "
            "exchanges belong to the report's exact count-distinct cascade, "
            "not the operator",
        ),
        (
            "quality_classifier_docs",
            "classifier = codegen explode + ONE map-combined exchange",
            lambda p: count_exchanges(p) == 1
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p
            and len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
            "hashed-bigram scoring is pure JVM expression work; the only "
            "shuffle carries (doc_id, partial sum) after map-side combine "
            "— classifying 100 TB is one scan plus a per-doc reduce",
        ),
        (
            "paragraph_dedup_docs",
            "frequent-paragraph set BROADCAST back; 2 narrow exchanges",
            lambda p: "BroadcastHashJoin" in p and count_exchanges(p) == 2,
            "the frequency exchange carries (hash, count) and the "
            "reassembly exchange (doc_id, pos, para) — paragraph text "
            "never rides the frequency shuffle; the boilerplate set is "
            "bounded by |corpus|/min_freq and ships as a broadcast",
        ),
        (
            "bloom_decontaminate_docs",
            "bitmap ships as a single-row broadcast; probe is zero-Python",
            lambda p: "BroadcastNestedLoopJoin" in p
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "the BNLJ here is the RIGHT plan: one broadcast row (the "
            "8 KB bitmap array) against the corpus — a constant-size "
            "ship, and every k-hash probe is codegen element_at/bit math",
        ),
        (
            "weighted_sample_docs",
            "weighted top-k = TakeOrderedAndProject, zero exchanges",
            lambda p: "TakeOrderedAndProject" in p and count_exchanges(p) == 0,
            "A-ES keys are map-side; per-partition heaps + driver merge "
            "of k rows replace any global sort — the 100 TB draw is a "
            "scan",
        ),
        (
            "semdedup_exact",
            "no cartesian/nested-loop pair blowup; Arrow-batched Gram",
            lambda p: "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            and "FlatMapGroupsInPandas" in p,
            "the exact tier is the blocked triangle join: vectors ship "
            "B times into dense BLAS matmuls, never the O(n²) row-pair "
            "stream a naive self-join materializes",
        ),
        (
            "curation2_suite",
            "classifier+bloom FUSED into one explode/doc_id pass; no row-Python",
            lambda p: "BatchEvalPython" not in p
            and count_exchanges(p) <= 10,
            "r7 fusion: the classifier's bigrams and the bloom probe's "
            "3-shingles explode the SAME token array, so one position "
            "stream + one per-doc aggregate replace two tokenize/explode/"
            "exchange pipelines (1.07 → 0.80 s at sf0.1, ~1.2× DuckDB); "
            "paragraph dedup and the sample rank still reduce to one row "
            "per doc_id before their joins",
        ),
        (
            "media_decode_suite",
            "ALL FOUR codec segs in ONE Arrow crossing, one exchange",
            lambda p: len(re.findall(r"\(\d+\) MapInPandas", p)) == 1
            and count_exchanges(p) <= 1,
            "r7 fusion, widened r8: color-JPEG + WAV + H.264 + AAC in a "
            "single mapInPandas (each extra crossing's fixed cost "
            "dominates the thin kernels; the JPEG decode itself is "
            "batched across the files of each Arrow batch); the one "
            "exchange is the work-bound width-16 repartition",
        ),
        (
            "chunk_documents_docs",
            "chunking = zero-exchange codegen flat-map",
            lambda p: count_exchanges(p) == 0
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "sliding token windows are explode(sequence)+slice on the "
            "scan — chunking 100 TB for embedding prep is one mapped "
            "pass, already partition-parallel for the downstream UDF",
        ),
        (
            "bpe_pair_counts_docs",
            "pair counting ends in TakeOrdered after map-combine",
            lambda p: "TakeOrderedAndProject" in p
            and len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2,
            "one BPE training iteration = partial-agg'd pair counts + "
            "top-k heaps; the global pair dictionary never sorts",
        ),
        (
            "check_foreign_keys",
            "FK checks are anti joins, zero Python",
            lambda p: re.search(r"(LeftAnti|Anti)", p)
            and "BatchEvalPython" not in p,
            "referential integrity over 100 TB is key-only anti joins "
            "plus counters — full rows never move",
        ),
        (
            "gopher_repetition_docs",
            "top-n-gram shuffles only id-clustered aggregates (no text movement)",
            lambda p: count_exchanges(p) <= 2,
            "explode→count→window top-1: both wide stages cluster on "
            "doc_id and carry (id, gram, count) — never the document",
        ),
        # — round 4 —
        (
            "quality_classifier_trained",
            "fit+score are zero-Python; weights broadcast; work-bound repartitions",
            lambda p: "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p
            and "BroadcastHashJoin" in p
            and p.count("REPARTITION_BY_NUM") >= 2,
            "the whole LEARNED fit is JVM codegen — contrast weights are "
            "one map-combined aggregate, the <=4096-row weight table "
            "broadcasts into scoring, and every explode+md5 pass sits on "
            "an explicit core-count repartition (byte-based sizing "
            "starves work-bound stages)",
        ),
        (
            "event_gaps_native",
            "native gaps = ONE exchange, zero Python (the D1 twin's fast path)",
            lambda p: count_exchanges(p) == 1
            and "FlatMapGroupsInPandas" not in p
            and "ArrowEvalPython" not in p,
            "identical output to applyinpandas_event_gaps through one "
            "user_id shuffle + codegen lag/timestamp_diff — the Arrow "
            "group-map boundary is a per-call choice, not a tax on the "
            "operator family",
        ),
        (
            "checks_suite",
            "constraint+FK suite: anti joins and counters, zero Python",
            lambda p: len(re.findall(r"LeftAnti", p)) >= 2
            and "BatchEvalPython" not in p,
            "row rules fold into one map-combined counter row; each FK "
            "rule is a key-only anti join — validating 100 TB moves "
            "keys and counters, never rows",
        ),
        (
            "tokenization_suite",
            "token family union adds no extra wide stages",
            lambda p: count_exchanges(p) <= 2
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "token counting and chunking stay map-side; only the "
            "top-tokens and BPE-pair aggregates shuffle (map-combined), "
            "so the 4-operator suite costs what its two aggregating "
            "members cost",
        ),
        (
            "multimodal_geometry_suite",
            "pixel resample is Arrow-batched; joins broadcast; no row-Python",
            # r5: the suite fused to ONE Arrow crossing (the composed
            # 3-stage spelling remains test-pinned row-identical)
            lambda p: count_ops(p, "MapInPandas") == 1
            and "BatchEvalPython" not in p,
            "the REAL resample kernel (PNG decode + integer resample) "
            "crosses the JVM boundary once per Arrow batch — same "
            "contract as decode; geometry/frame/pixel branches join on "
            "doc_id with broadcast-sized sides",
        ),
        (
            "multimodal_video_frames",
            "ISO-BMFF demux is ONE Arrow crossing, map-side",
            lambda p: count_ops(p, "MapInPandas") == 1
            and "BatchEvalPython" not in p
            and count_exchanges(p) <= 1,  # only the explicit repartition
            "synthesize + box-walk + stbl-resolve + frame fan-out fused "
            "in one mapInPandas; the only exchange is the explicit "
            "core-count repartition of the work-bound stage",
        ),
        (
            "bm25_topk_docs",
            "BM25 ends in TakeOrdered; no Python; map-side term filter",
            lambda p: "TakeOrderedAndProject" in p
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "scoring = explode + filtered conditional aggregate + "
            "per-partition top-k heaps; the corpus ranking never "
            "globally sorts and no Python touches the hot path",
        ),
        (
            "merge_suite",
            "MERGE anti join AND the deletion-vector mask both "
            "broadcast; txtable read stays a plain parquet scan",
            lambda p: "EvalPython" not in p
            and len(re.findall(r"BroadcastHashJoin LeftAnti", p)) >= 2
            and "SortMergeJoin" not in p
            and "Scan parquet" in p,
            "the DataFrame merge compiles to anti join + union; the "
            "transactional table's snapshot read is an ordinary pruned "
            "parquet scan plus ONE broadcast anti-join applying the "
            "MOR deletion vector (position sidecars are tiny relative "
            "to data, so the mask must never become a shuffled join); "
            "the CDC feed diffs only changed files, so its outer join "
            "also broadcasts at any sane changed-file size — the "
            "commit protocol adds zero other read-path operators",
        ),
        (
            "audio_decode_wav",
            "WAV decode is ONE Arrow crossing, map-side",
            lambda p: count_ops(p, "MapInPandas") == 1
            and "BatchEvalPython" not in p
            and count_exchanges(p) <= 1,
            "RIFF chunk walk + PCM features in one mapInPandas — no "
            "shuffle, no per-row Python",
        ),
        # — round 8 —
        (
            "shuffle_shards_docs",
            "corpus shuffle = exactly one exchange, zero Python, no global sort",
            lambda p: count_exchanges(p) == 1
            and "BatchEvalPython" not in p
            and count_ops(p, "Sort") <= 1,
            "shard + within-shard order are pure functions of "
            "hash56(id, seed): one hash-partitioned window, the only "
            "sort is per-partition inside the window — reshuffling a "
            "100 TB corpus per epoch costs one shuffle of (id, hash)",
        ),
        (
            "audio_aac_metadata",
            "ADTS frame walk is ONE Arrow crossing, map-side",
            lambda p: count_ops(p, "MapInPandas") == 1
            and "BatchEvalPython" not in p
            and count_exchanges(p) <= 1,
            "frame-length walk + header census in one mapInPandas — "
            "same shape as the WAV/H.264 metadata tiers",
        ),
        # — round 12 —
        (
            "ann_ivf_pq_maintained",
            "maintained IVF-PQ probe: ZERO Python — codes read, never "
            "re-encoded",
            lambda p: "EvalPython" not in p
            and count_ops(p, "MapInPandas") == 0
            and "BroadcastHashJoin" in p,
            "the maintained index's whole point at 100 TB: probe time "
            "touches NO model kernel — candidates come from the "
            "postings TxTable (zone-map pruned), ADC integers from the "
            "codes TxTable (encoded once at refresh, O(changed rows)), "
            "the LUT/probe relations broadcast; the only Python in the "
            "system runs inside the refresh fold, amortized across "
            "every probe between refreshes",
        ),
        (
            "ann_ivf_maintained_drift",
            "drift probe: centroids broadcast, ONE map-combined "
            "exchange, zero Python",
            lambda p: "EvalPython" not in p
            and "BroadcastHashJoin" in p
            and count_exchanges(p) == 1,
            "the when-to-rebuild signal costs one pass over the "
            "postings: the model-sized centroid table broadcasts, the "
            "quantized cohesion sum map-combines per list — watching "
            "a 100 TB index for drift is a scan, not a recompute",
        ),
        # — round 14 —
        (
            "dedup_embedding_maintained",
            "pairs serve: ZERO hyperplane evals — buckets read from "
            "stored state, never re-hashed",
            lambda p: count_ops(p, "ArrowEvalPython") == 0
            and count_ops(p, "BatchEvalPython") == 0
            and count_ops(p, "FlatMapGroupsInPandas") == 1,
            "the maintained embedding index's whole point: serving "
            "corpus near-dup pairs costs a sigs-table scan + one "
            "within-bucket BLAS Gram per bucket (the single "
            "applyInPandas node) — the hyperplane matmul ran once at "
            "refresh, amortized across every serve between folds; "
            "this row fails if a regression re-buckets the corpus at "
            "serve time",
        ),
        (
            "dedup_embedding_maintained_probe",
            "probe: exactly ONE Arrow eval, on the PROBE batch; "
            "corpus side is a bare scan into the bucket join",
            lambda p: "BroadcastHashJoin" in p
            and count_ops(p, "FlatMapGroupsInPandas") == 0
            and count_ops(p, "ArrowEvalPython") == 1
            and p.find("ArrowEvalPython") > p.find("BroadcastExchange"),
            "ingest-time dedup screening: only the incoming batch "
            "pays the hyperplane matmul (the single eval node sits "
            "under the BroadcastExchange; the coalesce(bucket, 0) "
            "spelling keeps Catalyst from splitting the UDF into a "
            "filter eval + a projection re-eval), the corpus side "
            "joins stored buckets straight off the parquet scan and "
            "verifies candidates with a JVM cosine fold — probing a "
            "100 TB index never re-hashes a historical vector",
        ),
        (
            "dedup_lsh_maintained",
            "hot-bucket cap truncates MAP-SIDE (Partial "
            "WindowGroupLimit before the exchange)",
            lambda p: re.search(
                r"WindowGroupLimit.*Partial", p, re.DOTALL
            )
            and "row_number" in p,
            "r14 (VERDICT r13 weak #1): max_bucket_size bounds a "
            "boilerplate band bucket's pair output at cap²/2 instead "
            "of b²/2 — and because the cap is a row_number≤k filter, "
            "InferWindowGroupLimit truncates every bucket to ~cap "
            "rows per map task BEFORE the band exchange, so the 10⁶-"
            "member pathological bucket never rides the wire (this "
            "row fails if the rank filter stops planning a Partial "
            "group limit)",
        ),
        (
            "dedup_lsh_maintained",
            "serve plan has EXACTLY ONE Generate (band-explode of "
            "stored signatures) — the corpus re-tokenize/re-hash "
            "Generate is gone@noaqe",
            lambda p: count_ops(p, "Generate") == 1,
            "r15 (VERDICT r14 #6): the r14 prose overstated the "
            "serve shape as 'zero Generate' — the true invariant is "
            "ONE: stored signatures band-explode at serve time (an "
            "array unnest over already-computed minhashes, no "
            "tokenization), and serving must never regrow the second "
            "Generate that re-hashed the corpus before the r14 "
            "maintained-state respelling (2 scans → 1)",
        ),
        (
            "pagerank_customer_supplier",
            "iteration carries ONLY contrib: exactly 3 joins total "
            "(2 iteration joins + the final nodes restore), none "
            "sort-merge",
            lambda p: count_ops(p, "BroadcastHashJoin") == 3
            and count_ops(p, "SortMergeJoin") == 0,
            "r15 (VERDICT r14 #1, guide §2.4): rank is a pure integer "
            "expression of contrib and out-degree rides on the "
            "checkpointed edge row, so iteration 1 plans NO join and "
            "each later iteration exactly one (edges ⋈ contrib) — the "
            "former per-iteration ranks⋈outdeg + edges⋈msg + "
            "nodes⋈contrib triple (9 joins, ~9 serial broadcast-build "
            "jobs) is 3 joins / 3 builds; this row fails if the loop "
            "regrows a join",
        ),
        (
            "lm_perplexity_filter_docs",
            "tercile fit is distributed: sampled values range-"
            "partitioned, no corpus-scaled row_number",
            lambda p: "rangepartitioning(surprise_micro" in p
            and "row_number" not in p,
            "r15 (VERDICT r14 #2, guide §2): the cutoff fit was an "
            "unpartitioned row_number — a SinglePartition sort whose "
            "one task grows linearly with the corpus (rate-bounded "
            "sample). Now: per-value counts (map-combined) → "
            "Exchange(rangepartitioning) → per-partition running "
            "count + P-row offset table; every remaining "
            "SinglePartition exchange feeds a scalar aggregate or "
            "the P-row offset window, never sample rows",
        ),
        (
            "lm_perplexity_filter_docs",
            "tercile offsets see ONE physical range partitioning: "
            "exactly one rangepartitioning exchange, second consumer "
            "reuses it@noaqe",
            lambda p: p.count("rangepartitioning(surprise_micro") == 1
            and (
                lambda m: m is not None
                and f"Reuses operator id: {m.group(1)}" in p
            )(
                re.search(
                    r"\((\d+)\) Exchange\nInput[^\n]*\n"
                    r"Arguments: rangepartitioning\(surprise_micro",
                    p,
                )
            ),
            "r15 review hardening: the per-partition offset table is "
            "keyed on spark_partition_id, so BOTH consumers of the "
            "range exchange (running-count window, per-partition "
            "totals) must observe the identical partitioning — "
            "guaranteed by exchange reuse (ReusedExchange here; AQE "
            "stage-cache at runtime). A second rangepartitioning "
            "exchange in this plan means the subtree re-executes with "
            "an independently-sampled RangePartitioner and the "
            "cutoffs can silently misalign — this row fails before "
            "that ships",
        ),
        (
            "hybrid_rrf_topk_docs",
            "RRF fusion is exchange-free past the arms: union + "
            "coalesce(1) + pivot aggregate, no FullOuter "
            "SortMergeJoin@noaqe",
            lambda p: count_ops(p, "Exchange") == 2
            and "FullOuter" not in p
            and count_ops(p, "Union") == 1
            and count_ops(p, "Coalesce") == 1,
            "r15 (VERDICT r14 #4, guide §2.4): the k-sized arm "
            "full-outer join cost 2 exchanges + sorts; arms now "
            "unionByName into ONE bounded partition (top-list "
            "contract: ≤ Σ k_each rows at any corpus scale) where "
            "the pivot aggregate and ranking window run "
            "SinglePartition-satisfied — plan keeps exactly the two "
            "arm-internal exchanges (bm25 tf agg, dense top-k)",
        ),
        (
            "txbatch_read_events",
            "snapshot range read takes the native fast path: Scan "
            "parquet with the range in PushedFilters, no Python "
            "BatchScan",
            lambda p: "BatchScan" not in p
            and "GreaterThanOrEqual(event_id,1000)" in p
            and "LessThanOrEqual(event_id,1999)" in p
            and count_ops(p, "Exchange") == 0,
            "r15 (VERDICT r14 #3, guide §4 — the cfb08f2 pattern): "
            "the read was a Python-DataSource BatchScan whose "
            "per-action planning round-trip walled ~0.3 s flat; a "
            "plain snapshot-range read needs nothing the Python "
            "protocol uniquely provides, so it serves as native "
            "parquet scans (zone-map file prune driver-side, DV mask "
            "one broadcast anti-join, range pushed to the scan). "
            "The Python batch DataSource has since been deleted",
        ),
        (
            "ann_ivf_filtered_topk",
            "filtered probe: id range pushed to the postings scan, "
            "list pruning intact",
            lambda p: "GreaterThanOrEqual(vec_id,100)" in p
            and "LessThanOrEqual(vec_id,399)" in p
            and re.search(r"PushedFilters: \[[^\]]*In\(_list", p),
            "r14 filtered ANN: the where_range predicate and the "
            "`_list IN` routing filter both reach the postings scan as "
            "PushedFilters, after the maintained postings' zone maps "
            "pruned files on both columns BEFORE Spark sees a path: "
            "conjunctive data skipping, so a tenant-filtered search of "
            "a 100 TB index reads only matching slices of probed lists",
        ),
        (
            "ann_ivf_filtered_topk",
            "rerank sees only MATCHING candidates; partial top-k "
            "before the ranking exchange",
            lambda p: re.search(r"WindowGroupLimit.*Partial", p, re.DOTALL)
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "the residual predicate filters candidates before the "
            "cosine rerank, and the rank≤k filter plans the map-side "
            "WindowGroupLimit — the ranking shuffle carries at most "
            "partitions·q·k MATCHING rows, never a filtered-out "
            "candidate; scoring stays in JVM codegen",
        ),
        (
            "hybrid_rrf_topk_docs",
            "fusion inputs are BOUNDED: both arms top-k before the "
            "fused window",
            lambda p: count_ops(p, "TakeOrderedAndProject") >= 1
            and count_ops(p, "WindowGroupLimit") >= 1
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "r14 hybrid RRF: the BM25 arm ends in a "
            "TakeOrderedAndProject and the dense arm in the partial-"
            "top-k WindowGroupLimit, so the fusion join + ranking "
            "window only ever see Σ k_each rows — the unpartitioned "
            "fused window is k-sized by construction, never a corpus "
            "funnel, and every score expression is JVM codegen",
        ),
        (
            "hybrid_rrf_maintained",
            "ZERO corpus access at serve time: one parquet scan "
            "(maintained postings), text arm from stored state, no "
            "Python",
            lambda p: "documents" not in p
            and len(re.findall(r"(?m)^\(\d+\) Scan parquet", p)) == 1
            and "BatchEvalPython" not in p
            and "ArrowEvalPython" not in p,
            "r14 maintained-hybrid capstone: the sparse arm scores "
            "from the (term, doc, tf) IVM state and the dense arm "
            "probes the CDC-maintained postings (its one parquet "
            "scan), so hybrid RAG-style retrieval never re-tokenizes "
            "or re-scans a 100 TB corpus between folds — the "
            "search-engine serving shape with CDC freshness (one "
            "query term exists only in post-init edits, so a stale "
            "index fails the value-hash oracle)",
        ),
    ]

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by tools/explain_audit.py against {SF_DIR} "
        "(plan shape is SF-independent).",
        "",
        "| query | property | holds | why it matters at scale |",
        "|---|---|---|---|",
    ]
    plans: dict[tuple[str, str], str] = {}
    failures = 0
    for name, prop, pred, why in checks:
        prop, _, mode = prop.partition("@")
        mode = mode or "formatted"
        if (name, mode) not in plans:
            if mode == "codegen":
                # AQE wraps the plan in AdaptiveSparkPlan before any
                # stage is finalized, so the codegen walker sees zero
                # subtrees; probe with AQE off (plan shape question,
                # not an execution question). Restore the SAVED prior
                # value, not a hardcoded "true" (ADVICE r14: a
                # hardcoded restore silently flips AQE for later
                # checks if the session default ever changes).
                prev = spark.conf.get("spark.sql.adaptive.enabled")
                spark.conf.set("spark.sql.adaptive.enabled", "false")
                try:
                    # .select("*") forces a fresh QueryExecution: the
                    # registry caches DataFrames, whose executedPlan is
                    # memoized from whatever conf was active first.
                    plans[(name, mode)] = plan_of(
                        build(name)(spark, SF_DIR).select("*"), mode
                    )
                finally:
                    spark.conf.set("spark.sql.adaptive.enabled", prev)
            elif mode == "noaqe":
                # Formatted plan with AQE off: static exchange reuse
                # (ReuseExchangeAndSubquery) then applies, so shared
                # subtrees of a union print as ReusedExchange and
                # count_exchanges counts the plan's REAL shuffles —
                # the same shape the sub-GiB bench session executes.
                prev = spark.conf.get("spark.sql.adaptive.enabled")
                spark.conf.set("spark.sql.adaptive.enabled", "false")
                try:
                    plans[(name, mode)] = plan_of(
                        build(name)(spark, SF_DIR).select("*"), "formatted"
                    )
                finally:
                    spark.conf.set("spark.sql.adaptive.enabled", prev)
            elif mode == "nobroadcast":
                # Plan with auto-broadcast disabled: any surviving
                # BroadcastExchange must come from a hard hint.
                prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                try:
                    plans[(name, mode)] = plan_of(
                        build(name)(spark, SF_DIR).select("*"), "formatted"
                    )
                finally:
                    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            else:
                plans[(name, mode)] = plan_of(build(name)(spark, SF_DIR), mode)
        ok = bool(pred(plans[(name, mode)]))
        failures += not ok
        if not ok:
            # dump the plan a failing predicate saw — without this a
            # ❌ row is undebuggable (the memoized plan may have been
            # built under a different conf state than a fresh session)
            fp = f"/tmp/explain_audit_fail_{name}_{mode}.txt"
            with open(fp, "w") as fh:
                fh.write(plans[(name, mode)])
            print(f"FAIL {name} [{prop[:60]}] plan -> {fp}")
        lines.append(f"| {name} | {prop} | {'✅' if ok else '❌'} | {why} |")

    lines += [
        "",
        "## Flagship plan (formatted)",
        "",
        "The reference's whole pipeline (parse → dedup-latest → multi-key",
        "agg, app.py:275-590) as one Catalyst plan — note the single",
        "window exchange feeding the partial/final aggregate pair:",
        "",
        "```",
        plan_of(qs["flagship_cfs_pipeline"](spark, SF_DIR)).strip(),
        "```",
        "",
        CDC_NOTE,
        FLOOR_NOTE,
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}; {len(checks) - failures}/{len(checks)} properties hold")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
