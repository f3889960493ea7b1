"""Round-4 gate suites: driver-verified slots for the round-5 tail.

VERDICT r3 ("Missing #1"): seven operators — TPC-H Q1, document
chunking, BPE pair counts, constraint validation, FK checks, SemDeDup
exact tier, streaming watermark dedup — were benchmarked and locally
oracle-gated but sat behind the driver's 50-query correctness window.
These suites merge each into a family-coherent gated slot, following
the queries_suites.py consolidation pattern (same operators, same
oracle rigor, one slot per family; granular spellings stay registered
in the tail, still covered by tests/test_oracle_parity.py).

Mechanics: a suite is the UNION-BY-NAME of already-registered granular
entries, discriminated by a ``seg`` literal — Spark
``unionByName(allowMissingColumns=True)`` mirrored by DuckDB
``UNION ALL BY NAME``, both filling absent columns with typed NULLs.
Because each granular member already hash-matches its own oracle,
column names/dtypes line up branch-by-branch and the union inherits
that exactness; the driver's column-sorted value hash is insensitive
to the sparse NULL blocks.

This module must be imported AFTER every granular-registration module
(queries._load_all ordering) — it reads REGISTRY at import time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import REGISTRY, register


def _suite(name: str, members: list[tuple[str, str]], spark_fn=None) -> None:
    """Register ``name`` as the seg-discriminated union of registered
    granular queries. Every member must already be in REGISTRY with an
    oracle (the suite inherits oracle coverage, never weakens it).
    ``spark_fn``, when given, replaces the default union SPELLING with
    a fused/shared-work plan — the oracle stays the member union, so
    the replacement is held to exactly the same row contract."""
    missing = [m for _, m in members if m not in REGISTRY]
    if missing:
        raise RuntimeError(f"suite {name}: members not registered: {missing}")
    no_oracle = [m for _, m in members if REGISTRY[m][1] is None]
    if no_oracle:
        raise RuntimeError(f"suite {name}: members lack oracles: {no_oracle}")

    # an oracle may be a zero-arg callable (r10 replay oracles, which
    # read the oracle-contract parquet and replay model training) —
    # compose LAZILY when any member has one, so importing the
    # registry (bench.py's spark_queries()) never pays replay-oracle
    # construction; oracle_sqls() resolves the callable when the
    # driver actually wants SQL (r12).
    def _sql(m: str) -> str:
        o = REGISTRY[m][1]
        return o() if callable(o) else o

    def _compose() -> str:
        return "\nUNION ALL BY NAME\n".join(
            f"SELECT '{seg}' AS seg, * FROM ({_sql(m)})" for seg, m in members
        )

    oracle = (
        _compose
        if any(callable(REGISTRY[m][1]) for _, m in members)
        else _compose()
    )

    if spark_fn is not None:
        register(name, oracle)(spark_fn)
        return

    @register(name, oracle)
    def suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        out: DataFrame | None = None
        for seg, m in members:
            branch = REGISTRY[m][0](spark, sf_dir).select(
                F.lit(seg).alias("seg"), "*"
            )
            out = branch if out is None else out.unionByName(
                branch, allowMissingColumns=True
            )
        assert out is not None
        return out

    suite.__name__ = f"q_{name}"


# Data-quality family: row rules + uniqueness (validate_constraints)
# and referential integrity (check_foreign_keys) — one (rule,
# n_violations) report. Both members are single-scan/control-plane
# aggregates, so the union is two tiny frames.
_suite(
    "checks_suite",
    [
        ("constraints", "validate_constraints_orders"),
        ("foreign_keys", "check_foreign_keys"),
    ],
)

# Tokenization family: subword token budget (token_count_bpe), corpus
# term frequencies (top_tokens_docs), sliding-window chunking
# (chunk_documents_docs), and BPE merge-candidate pair counts
# (bpe_pair_counts_docs). All are explode-path scans over documents
# with map-combined aggregates / TakeOrdered tails.
_suite(
    "tokenization_suite",
    [
        ("tok_count", "token_count_bpe"),
        ("top_tokens", "top_tokens_docs"),
        ("chunks", "chunk_documents_docs"),
        ("bpe_pairs", "bpe_pair_counts_docs"),
    ],
)

# SQL front-end family: TPC-H Q1 (scan-heavy exact-decimal pricing
# summary) + Q6 (pure-pushdown forecast revenue).
_suite(
    "sql_tpch_suite",
    [
        ("q1", "sql_pricing_summary_q1"),
        ("q6", "sql_forecast_revenue_q6"),
    ],
)

# Embedding-dedup family: exact blocked-triangle cosine pairs + the
# SemDeDup exact tier (per-item keep/drop status at the same
# threshold family). The clustered SemDeDup tier stays rows-only in
# the tail (k-means isn't SQL-expressible; tests pin its equivalence).
# Round 5: the int8 two-stage retrieval joins the gated family — its
# quantization is IEEE-exact, so even this approximate tier carries a
# full oracle (rare for ANN; see similarity.py:_int8_exploded).
#
# Round 6 (VERDICT r5 #5): fused spelling — both the cos_pairs and
# semdedup members are views over the SAME ≥0.4 cosine pair set
# (SemDeDup's exact tier drops exactly the larger id of each pair),
# so the suite computes the blocked-triangle Gram ONCE, persists the
# near-dup pair relation (bounded: it's the duplicate set, corpus-
# tiny by construction), and derives the status seg by an anti-probe.
# The oracle stays the 3-member union, holding the fusion to the
# members' exact rows.


def _q_embedding_dedup_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim
    from .sources.files import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    # same call as the dedup_embedding_cosine member (threshold 0.4 ==
    # queries_curation2._SEM_THRESHOLD). The filter(lit(True)) survives
    # analysis, making this persisted subtree structurally DISTINCT
    # from the standalone dedup_embedding_cosine / semdedup_exact
    # queries' identical pair computation — Spark's plan-matching cache
    # lookup therefore cannot leak the InMemoryRelation into their
    # benched timings (they must keep paying their own Gram).
    pairs = (
        sim.cosine_near_dup_pairs(emb, threshold=0.4)
        .filter(F.lit(True))
        .persist()
    )
    cos = pairs.select(F.lit("cos_pairs").alias("seg"), "*")
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    sem = (
        emb.select("vec_id")
        .join(dropped.withColumn("__d", F.lit(1)), ["vec_id"], "left")
        .select(
            F.lit("semdedup").alias("seg"),
            "vec_id",
            F.lit(-1).cast("long").alias("cluster_id"),
            F.when(F.col("__d").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
    )
    int8 = REGISTRY["ann_int8_rerank_topk"][0](spark, sf_dir).select(
        F.lit("int8_rerank").alias("seg"), "*"
    )
    # r14: the CDC-maintained hyperplane index's two serving shapes
    # (corpus pairs + ingest probe, both full DML-replay oracles) join
    # the family gate — the embedding-level twin of dedup2_suite's
    # maintained-MinHash segs. Same fixture (one DML'd TxTable + one
    # maintained index per session), so warm runs time serving.
    maint = REGISTRY["dedup_embedding_maintained"][0](spark, sf_dir).select(
        F.lit("emb_maintained").alias("seg"), "*"
    )
    maintp = REGISTRY["dedup_embedding_maintained_probe"][0](
        spark, sf_dir
    ).select(F.lit("emb_maintained_probe").alias("seg"), "*")
    return (
        cos.unionByName(sem, allowMissingColumns=True)
        .unionByName(int8, allowMissingColumns=True)
        .unionByName(maint, allowMissingColumns=True)
        .unionByName(maintp, allowMissingColumns=True)
    )


_suite(
    "embedding_dedup_suite",
    [
        ("cos_pairs", "dedup_embedding_cosine"),
        ("semdedup", "semdedup_exact"),
        ("int8_rerank", "ann_int8_rerank_topk"),
        ("emb_maintained", "dedup_embedding_maintained"),
        ("emb_maintained_probe", "dedup_embedding_maintained_probe"),
    ],
    spark_fn=_q_embedding_dedup_fused,
)

# Streaming family: tumbling daily counts and watermark-disciplined
# dedup, both drained via Trigger.AvailableNow at plan-construction
# time (hence bench._UNBENCHABLE, like their granular members).
_suite(
    "streaming_suite",
    [
        ("daily_counts", "streaming_daily_counts"),
        ("watermark_dedup", "streaming_watermark_dedup"),
        # r6: the table-format streaming SOURCE → exactly-once sink
        # loop (sources/txstream.py), gated through the same slot
        ("txstream_pipeline", "txstream_events_pipeline"),
        # r8: CDC-APPLY materialization — change feed -> last-writer-
        # wins reduce -> MERGE into a downstream table (the Delta
        # foreachBatch pattern), value-hash-gated against the DML
        # script replayed in SQL
        ("cdc_apply", "txstream_apply_changes"),
    ],
)

# ---------------------------------------------------------------------------
# Round-6 gate suites (VERDICT r5 #2): the ten round-5 full-oracle
# queries sat behind the driver's 50-query window. Six family suites
# bring every one of them (plus the families' existing singleton
# gates) into the window while keeping it at exactly 50. Granular
# spellings stay tail-registered, bench-tracked (bench._CONTINUITY_R6)
# and locally oracle-gated by tests/test_oracle_parity.py.
# ---------------------------------------------------------------------------

# Time-series family: month-spine gap fill (F9) + daily resample with
# linear interpolation between surrounding observations.
_suite(
    "timeseries_suite",
    [
        ("month_spine", "month_spine_fill"),
        ("interp_daily", "interpolate_daily_values"),
    ],
)

# Fingerprint family: MinHash signatures, LSH band candidates, SimHash,
# and the LSH-propose → exact-Jaccard-verify tier — the near-dup
# pipeline's stages as one seg-discriminated slot.
_suite(
    "fingerprint_suite",
    [
        ("minhash_sig", "minhash_signatures"),
        ("lsh_cand", "minhash_lsh_candidates"),
        ("simhash", "simhash32"),
        ("jaccard", "jaccard_within_lsh_buckets"),
    ],
)

# Exact-dedup family: corpus fingerprint groups, incremental dedup of
# a daily batch against the accumulated fingerprint index, and Lee et
# al. substring-span dedup.
#
# r13: the CDC-MAINTAINED MinHash-LSH index joins the family — corpus
# near-dup pairs served from STORED signatures (zero re-hash of
# historical text) and incremental-ingest probe candidates (only the
# probe batch pays tokenize+hash), both under full DML-replay oracles
# (operators/dedup.py:refresh_minhash_index — the dedup twin of the
# maintained ANN/text indexes, completing the maintained-index family).
_suite(
    "dedup2_suite",
    [
        ("exact_groups", "dedup_exact_fingerprint"),
        ("incremental", "incremental_dedup_docs"),
        ("substring_span", "substring_span_dedup_docs"),
        ("lsh_maintained", "dedup_lsh_maintained"),
        ("lsh_maintained_probe", "dedup_lsh_maintained_probe"),
    ],
)

# Retrieval/frequency family: BM25 top-k ranking + Count-Min-sketch
# heavy hitters (the int8 two-stage ANN tier is already gated in
# embedding_dedup_suite).
#
# r12 (VERDICT r11 #1): the maintained-ANN-index family joins the
# gated slot — ann_ivf_index_maintained (the r11 flagship: CDC-
# maintained postings, exhaustive-probe-exact, DML-replay oracle) and
# the r12 fully maintained
# IVF-PQ composition (maintained postings × maintained codes, frozen
# models, all-pairs PQ replay oracle over the DML corpus). Every
# member keeps its granular tail registration for bench continuity;
# this seg-union puts their value-hash gates inside the driver's
# 50-query window without widening it. Construction (scratch tables,
# DML scripts, index init+fold) runs once per session via the member
# builders' caches; warm runs time the probes.
#
# r13 (VERDICT r12 #1/#3): the maintained TEXT-index family joins the
# same slot — the CDC-maintained (term, doc) incidence state serving
# document frequency (ivm_text_df_view) and full BM25 with zero corpus
# access (bm25_maintained_topk), the drift probe over the maintained
# postings (ann_ivf_maintained_drift: per-list occupancy + quantized
# cohesion vs the marker-resolved model). All three carry full
# oracles; the two index fixtures (the DML'd TxTable corpus and the maintained text
# state) are session-cached, so the suite's warm runs time serving,
# not construction.
_suite(
    "retrieval_suite",
    [
        ("bm25", "bm25_topk_docs"),
        ("cms_topk", "cms_top_tokens_docs"),
        ("ivf_maintained", "ann_ivf_index_maintained"),
        ("ivf_pq_maintained", "ann_ivf_pq_maintained"),
        ("drift", "ann_ivf_maintained_drift"),
        ("text_df_view", "ivm_text_df_view"),
        ("bm25_maintained", "bm25_maintained_topk"),
    ],
)

# Curation wave 3: CCNet bigram-LM perplexity filter + corpus
# composition (per-domain caps, deterministic source interleave).
# A separate suite rather than a curation2 extension: fusing the LM
# into curation2 was measured at +1.9 s of sequential broadcast-build
# latency on that gated path (r5, rejected).
#
# Measured overhead note (r11): the suite walls ~2.4 s at sf0.1 while
# its members sum ~1.8 s. Pairwise isolation shows the deficit is the
# per-stage driver floor on branches with SERIAL stage chains —
# pagerank's per-iteration broadcast-build jobs and the LM's broadcast
# build barely overlap other branches (pagerank+lm = 1.29 s ≈ exactly
# additive; pagerank+shuffle_shards = 0.78 s ≈ fully overlapped) —
# not data work. Both offenders are sub-parity or near-parity
# standalone (pagerank 0.66 s vs DuckDB's 1.39 s; lm 0.49 vs 0.25),
# and the ~90 ms/stage fixed latency amortizes with data volume (the
# SCALE.md falling-ratio argument), so the union spelling stays:
# respelling pagerank's broadcasts as shuffle joins measured worse,
# and splitting the suite would ungate three operators.
_suite(
    "curation3_suite",
    [
        ("lm_filter", "lm_perplexity_filter_docs"),
        ("domain_cap", "domain_cap_docs"),
        ("interleave", "interleave_sources_docs"),
        # r8: deterministic corpus shuffle + shard assignment — the
        # epoch-reshuffleable read/write order, one hash-window shuffle
        ("shuffle", "shuffle_shards_docs"),
        # r8: link-graph document scoring (fixed-iteration INTEGER
        # PageRank, bit-exact across engines) joins the curation
        # family so the iterative-algorithm row's first gate sits
        # inside the driver window like every other §2 row
        ("pagerank", "pagerank_customer_supplier"),
    ],
)

# MERGE family (round 6): the format-free DataFrame MERGE (anti join
# + union over parquet) and the transactional table format's full
# CREATE→APPEND→MERGE→DELETE lifecycle (sources/txtable.py) — the two
# spellings of incremental refresh vs the reference's drop-and-reload
# (app.py:957-968), in one gated slot.
_suite(
    "merge_suite",
    [
        ("dataframe_merge", "merge_upsert_events"),
        ("txtable_lifecycle", "txtable_merge_events"),
        # r6: CDC change feed across a deletion-vector re-point
        ("cdc_feed", "txtable_change_feed_events"),
        # zone-map-pruned snapshot range read over a MOR delete
        ("txbatch_read", "txbatch_read_events"),
        # r8: metadata-only RENAME/DROP COLUMN (column mapping) — the
        # logical/physical name boundary (read select, write rename,
        # zone-map keying, predicate translation) value-hash-gated
        # inside the driver window from day one.
        ("column_mapping", "txtable_column_mapping_events"),
        # r9: shallow CLONE — zero-copy table whose reads mix external
        # parquet + external DV sidecar + local divergence, isolation
        # from post-clone source writes pinned by the oracle.
        ("shallow_clone", "txtable_clone_events"),
        # r11 (VERDICT r10 #2/#7): the incrementally maintained
        # aggregate view — CDC feed folded into a stored state
        # (operators/ivm.py), including exact MIN/MAX maintained
        # through a DELETE of the current extremum — joins the gated
        # slot so the materialized-view fold is value-hash-gated in
        # the driver window, not just locally. The oracle recomputes
        # the final view from scratch over the same DML script.
        ("ivm", "ivm_maintained_view_events"),
        # r11: IVM over a JOIN — Δ(A⋈B) folded from BOTH tables' CDC
        # feeds (fact append/delete, dim group-move update, dim delete
        # killing join partners); oracle recomputes the joined view
        # from the replayed DML.
        ("ivm_join", "ivm_join_view_orders_lineitem"),
    ],
)

# Media codec family: baseline-JPEG color decode (ITU-T T.81 4:2:0),
# RIFF/WAVE PCM decode, and — r8 (VERDICT r7 #1) — the H.264 Annex-B
# bitstream analyzer, so the round-7 operator's first gate sits inside
# the driver's 50-query window like every other §2 row
# (multimodal_decode_real keeps PNG/MP4/grayscale-JPEG segs gated).
# r7: fused into ONE Arrow crossing (synth_decode_jpeg_color_wav).
# The r6 measurement that rejected fusion (0.51 s fused vs 0.45 s as
# two overlapping crossings) predates the flat-fixture encoder +
# batched-IDCT work that cut the color kernel ~4×; with both kernels
# cheap, the second crossing's fixed cost dominates and fused wins
# (0.70 → 0.55 s same-session at sf0.1, and an identity-kernel
# repartition+crossing measures 0.47 s — the suite now sits ~0.08 s
# over the mapInPandas infrastructure floor, kernels ~15% of wall).
# Oracle unchanged: same kernels, same seg-union row contract as the
# two granular queries.


def _media_decode_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm
    from .sources.files import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    # Width 16, not 32: each mapInPandas partition costs a ~9 ms
    # runner handshake (r8 floor decomposition), so for ~2 s of total
    # kernel work the 16-way split minimizes handshakes + work/task
    # (measured r8: par 8/16/24/32 → 0.549/0.539/0.558/0.546 s).
    par = min(16, spark.sparkContext.defaultParallelism)
    return mm.synth_decode_jpeg_color_wav(docs, parallelism=par)


_suite(
    "media_decode_suite",
    [
        ("jpeg_color", "multimodal_decode_jpeg_color"),
        ("wav", "audio_decode_wav"),
        ("h264", "video_h264_metadata"),
        # r8 (VERDICT r7 #6): AAC/ADTS — the audio twin of the H.264
        # metadata tier, same fused crossing, same gated slot.
        ("aac", "audio_aac_metadata"),
    ],
    spark_fn=_media_decode_fused,
)
