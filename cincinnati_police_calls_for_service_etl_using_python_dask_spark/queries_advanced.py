"""Advanced operator query/oracle pairs: temporal joins, grouping
sets, exact percentiles, range joins, string functions, embedding
near-dup, and the sketch-based scale path.

These extend the reference's repertoire where SURVEY.md §2 marks "Not
present" — operators a CFS-style event pipeline (and any 100 TB
training-data pipeline) needs: as-of alignment of dispatch↔arrival
sequences (app.py:290-312 only computes those because its rows arrive
pre-joined), sessionization, CUBE subtotals, and the approximate
aggregates the exact tier can't afford at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalar import dec2, money_sum
from .functions.temporal import minutes_between
from .operators import aggregates as ag
from .operators import asof as ao
from .operators import pandas_ext as pe
from .operators import relational as rel
from .operators import similarity as sim
from .queries import register
from .sources.files import read_testdata

# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent prior
# click (inclusive). One hash shuffle on user_id — no range join, no
# cross product (operators/asof.py).
# ---------------------------------------------------------------------------


@register(
    "asof_purchase_last_click",
    """
    WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
         r AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT l.event_id, l.user_id,
           r.event_id AS asof_event_id,
           CASE WHEN r.event_id IS NULL THEN NULL
                ELSE CAST(((date_diff('microsecond', r.ts, l.ts) + 300000)
                           // 600000) AS DOUBLE) / 100 END AS wait_minutes
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = ao.as_of_join(
        purchases, clicks, on=["user_id"], payload=["event_id"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        minutes_between("ts", "asof_ts").alias("wait_minutes"),
    )


# ---------------------------------------------------------------------------
# Sessionization: 30-minute-gap sessions per user; lag + running sum,
# one shuffle (operators/asof.py:sessionize).
# ---------------------------------------------------------------------------


@register(
    "sessionize_user_events",
    """
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR date_diff('microsecond', prev_ts, ts) > 1800000000
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM (SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events)
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    out = ao.sessionize(ev, key=["user_id"], ts="ts", gap_minutes=30.0)
    return out.select("event_id", "user_id", "session_seq")


# ---------------------------------------------------------------------------
# CUBE: all subtotal combinations in one shuffle (A5's manual
# filter-loop pivot generalized; operators/aggregates.py:cube_from_partials).
# ---------------------------------------------------------------------------


@register(
    "cube_orders_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial re-aggregation, not native CUBE: count/sum decompose, so
    # the finest groupBy scans the data ONCE and the three coarser
    # tiers fold its ~15-row result — native CUBE's Expand materializes
    # 4× every input row before aggregating, the one RISING ratio in
    # SCALE.md's r8 panel (0.57 → 0.39 s at sf0.1, slope = plain
    # groupBy). Sums stay DECIMAL until the final round/cast so the
    # re-aggregated tiers are bit-identical to the single-pass answer.
    from .functions.scalar import dec2

    orders = read_testdata(spark, sf_dir, "orders")
    return ag.cube_from_partials(
        orders,
        keys=["o_orderstatus", "o_orderpriority"],
        partials={
            "n_orders": F.count(F.lit(1)),
            "__sum_dec": F.sum(dec2("o_totalprice")),
        },
        reaggs={
            "n_orders": F.sum("n_orders"),
            "__sum_dec": F.sum("__sum_dec").cast("decimal(28,2)"),
        },
        finalize={
            "n_orders": F.col("n_orders"),
            "sum_price": F.round("__sum_dec", 2).cast("double"),
        },
        # r14 (guide §2.4): status × priority is ≤ 15 rows at any SF,
        # so the three coarser tiers re-aggregate a single-partition
        # finest frame exchange-free (4 Exchange → 1).
        finest_partitions=1,
    )


# ---------------------------------------------------------------------------
# Exact grouped percentiles, hash-portable via integer-cents dyadic
# interpolation (operators/aggregates.py:percentiles_cents).
# ---------------------------------------------------------------------------


@register(
    "percentiles_price_by_status",
    """
    SELECT o_orderstatus,
           quantile_cont(CAST(round(o_totalprice * 100) AS DOUBLE), 0.25) AS p25_cents,
           quantile_cont(CAST(round(o_totalprice * 100) AS DOUBLE), 0.5)  AS p50_cents,
           quantile_cont(CAST(round(o_totalprice * 100) AS DOUBLE), 0.75) AS p75_cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_testdata(spark, sf_dir, "orders")
    return ag.percentiles_cents(
        orders, value_col="o_totalprice", keys=["o_orderstatus"]
    )


# ---------------------------------------------------------------------------
# Range join against a small band dimension — broadcast non-equi join,
# so the fact side streams map-side with zero shuffle before the agg.
# ---------------------------------------------------------------------------

_BANDS = [
    ("b0_050k", 0.0, 50_000.0),
    ("b1_100k", 50_000.0, 100_000.0),
    ("b2_200k", 100_000.0, 200_000.0),
    ("b3_top", 200_000.0, 1e18),
]


@register(
    "range_join_price_bands",
    f"""
    WITH bands(band, lo, hi) AS (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)})
    SELECT band, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_price
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_testdata(spark, sf_dir, "orders")
    # Bucket-quantized: BroadcastHashJoin on the bucket id + residual
    # range filter, not the O(rows × bands) BroadcastNestedLoopJoin the
    # naive non-equi spelling plans (relational.bucketed_range_join).
    joined = rel.bucketed_range_join(
        orders, _BANDS, value_col="o_totalprice", bucket_width=50_000.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# String/regexp scalar functions (SURVEY.md §2.8 "Not present" row) —
# all native Catalyst expressions, zero UDFs.
# ---------------------------------------------------------------------------


@register(
    "string_funcs_docs",
    """
    SELECT doc_id,
           regexp_extract(text, '[A-Za-z]+')            AS first_word,
           substr(text, 1, 20)                          AS head20,
           upper(source)                                AS src_upper,
           CAST(CASE WHEN lower(text) LIKE '% the %'
                     THEN 1 ELSE 0 END AS INT)          AS has_the,
           CAST(strpos(lower(text), 'data') AS BIGINT)  AS data_pos,
           reverse(source)                              AS src_rev
    FROM documents
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "[A-Za-z]+", 0).alias("first_word"),
        F.substring("text", 1, 20).alias("head20"),
        F.upper("source").alias("src_upper"),
        F.lower(F.col("text")).like("% the %").cast("int").alias("has_the"),
        F.instr(F.lower(F.col("text")), "data").cast("long").alias("data_pos"),
        F.reverse("source").alias("src_rev"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup — the semantic tier of the dedup ladder
# (exact md5 → MinHash/SimHash → cosine). Threshold 0.4 calibrated to
# the synthetic embeddings (margin to nearest pair ≈ 1e-4 at sf0.01,
# >> double noise, so the pair set is engine-stable).
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vd, b.vd) >= 0.4
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(emb, threshold=0.4)


def _embedding_lsh_dedup_oracle() -> str:
    """Full oracle for the blocked tier (r9, VERDICT r8 #8): the
    4-plane bucket key embeds as literals (data-independent, see
    similarity.py:hyperplane_bucket_sql) and the within-bucket pair
    filter is the same cosine spelling the exact tier already
    hash-matches — so the approximate tier's EXACT output (not just
    its recall) is cross-engine gated."""
    from .operators.similarity import hyperplane_bucket_sql

    bucket = hyperplane_bucket_sql(4, 64, "vd")
    return f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
               FROM embeddings),
    b AS (SELECT vec_id, vd, {bucket} AS bucket FROM v)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(a.vd, c.vd) >= 0.4
    """


@register("dedup_embedding_cosine_lsh", _embedding_lsh_dedup_oracle())
# exact output cross-engine gated; recall vs the exact tier is
# additionally property-tested in tests/test_llm_ops.py
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(emb, threshold=0.4, bucket_planes=4)


# ---------------------------------------------------------------------------
# CDC-maintained hyperplane-LSH embedding near-dup index (r14, VERDICT
# r13 missing #1): per-vector bucket keys + vectors live in a TxTable
# folded from the source's change feed
# (operators/similarity.py:refresh_hyperplane_index), and BOTH serving
# shapes are gated under FULL oracles that replay the DML script in
# SQL and re-derive buckets from the data-independent plane literals
# (hyperplane_bucket_sql): corpus-wide verified pairs served from
# STORED state (zero re-hashing of historical embeddings) and
# incremental-ingest probe matches (only the probe batch pays the
# hyperplane matmul). The fixture mirrors the maintained-MinHash
# script: init on 70% of embeddings, then append + update (%7==3
# vectors negated — flips buckets AND cosine signs, so the fold is
# value-visible) + delete (%9==5), one fold covering all three
# commits. Cosine margin to the 0.4 threshold on this DML'd corpus:
# 5.6e-4 at sf0.01 — engine-stable like the ad-hoc tier.
# ---------------------------------------------------------------------------

_EMB_MAINT_CORPUS = """(
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 3 THEN list_transform(embedding, x -> -x)
              ELSE embedding END AS embedding
  FROM embeddings
  WHERE vec_id % 9 <> 5
)"""

_EMB_MAINT_DIRS: dict[tuple[int, str], str] = {}


def _emb_maint_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+corpus) the DML'd source TxTable and
    the maintained hyperplane index over it; return the scratch root."""
    key = (id(spark), sf_dir)
    got = _EMB_MAINT_DIRS.get(key)
    if got is not None:
        return got
    import atexit
    import os
    import shutil
    import tempfile

    from .sources.txtable import TxTable

    emb = read_testdata(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    c1 = int(0.7 * n)
    scratch = tempfile.mkdtemp(prefix="emb_maint_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    src = TxTable.create(
        spark,
        os.path.join(scratch, "src"),
        emb.filter(F.col("vec_id") < c1),
        stats_columns=["vec_id"],
    )
    idx = os.path.join(scratch, "idx")
    sim.refresh_hyperplane_index(spark, src, idx, num_planes=4, dim=64)
    src.append(emb.filter(F.col("vec_id") >= c1))
    src.update(
        F.col("vec_id") % 7 == 3,
        {"embedding": F.transform(F.col("embedding"), lambda x: -x)},
    )
    src.delete(F.col("vec_id") % 9 == 5)
    sim.refresh_hyperplane_index(spark, src, idx)  # ONE fold, three commits
    _EMB_MAINT_DIRS[key] = scratch
    return scratch


def _emb_maintained_pairs_oracle() -> str:
    from .operators.similarity import hyperplane_bucket_sql

    bucket = hyperplane_bucket_sql(4, 64, "vd")
    return f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
               FROM {_EMB_MAINT_CORPUS}),
    b AS (SELECT vec_id, vd, {bucket} AS bucket FROM v)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(a.vd, c.vd) >= 0.4
    """


def _emb_maintained_probe_oracle() -> str:
    from .operators.similarity import hyperplane_bucket_sql

    bucket = hyperplane_bucket_sql(4, 64, "vd")
    return f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
               FROM {_EMB_MAINT_CORPUS}),
    b AS (SELECT vec_id, vd, {bucket} AS bucket FROM v)
    SELECT p.vec_id AS probe_id, c.vec_id AS vec_id
    FROM b p JOIN b c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
    WHERE p.vec_id < 120 AND list_cosine_similarity(p.vd, c.vd) >= 0.4
    """


@register("dedup_embedding_maintained", _emb_maintained_pairs_oracle())
def q_dedup_embedding_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    root = _emb_maint_dir(spark, sf_dir)
    return sim.hyperplane_index_pairs(spark, f"{root}/idx", threshold=0.4)


@register("dedup_embedding_maintained_probe", _emb_maintained_probe_oracle())
def q_dedup_embedding_maintained_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources.txtable import TxTable

    root = _emb_maint_dir(spark, sf_dir)
    cur = TxTable(spark, f"{root}/src").read()
    # < 120 covers six of the corpus pair endpoints at sf0.01 — the
    # probe gate is value-bearing, not a vacuous empty-set hash match
    probes = cur.filter(F.col("vec_id") < 120)
    return sim.hyperplane_index_probe(
        spark, f"{root}/idx", probes, threshold=0.4
    )


# ---------------------------------------------------------------------------
# Sketch-based scale path: HLL++ count-distinct + GK quantile — what
# replaces the exact tier at 100 TB. Engine-specific estimates: no
# cross-engine oracle can hash-match, driver does the rows-only check;
# estimate-vs-exact error bounds are asserted in tests/test_operators.py.
#
# PERMANENTLY rows-only (r11, VERDICT r10 #8; pinned count: exactly 1
# rows-only query in the registry). An HLL++ estimate is a function of
# the sketch's register layout and hash family, and a GK quantile of
# the summary's compression schedule — both engine-implementation
# details, not properties of the data. DuckDB's approx_count_distinct
# and approx_quantile use different register counts/hashes/summaries
# by design, so NO SQL rewrite can make the values hash-match; nor can
# a "replay oracle" (replaying Spark's sketch in DuckDB means
# reimplementing Spark's sketch, which gates nothing). The correctness
# contract for estimates is the published error bound, and that IS the
# gate: tests/test_operators.py asserts estimate-vs-exact relative
# error within the configured rsd/accuracy at every SF. Future rounds:
# do not burn time converting this one — the bound test is the
# strongest cross-checkable statement an estimator admits.
# ---------------------------------------------------------------------------


@register("approx_profile_events", None)
def q_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    return ag.approx_profile(
        ev, keys=["event_type"], distinct_col="user_id", quantile_col="value"
    )


# ---------------------------------------------------------------------------
# M6 — skew path: salted EXACT count-distinct; result equals the plain
# COUNT(DISTINCT) oracle (operators/aggregates.py:salted_count_distinct).
# ---------------------------------------------------------------------------


@register(
    "salted_count_distinct_orders",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS nunique_l_orderkey
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_salted_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata(spark, sf_dir, "lineitem")
    return ag.salted_count_distinct(
        li, keys=["l_returnflag"], distinct_col="l_orderkey"
    )


# ---------------------------------------------------------------------------
# Full outer join (the join-type the reference lacks, SURVEY.md §2.3):
# customers × per-customer order counts, both unmatched sides kept.
# ---------------------------------------------------------------------------


@register(
    "full_outer_customer_orders",
    """
    WITH oc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1)
    SELECT COALESCE(c.c_custkey, oc.o_custkey)              AS custkey,
           CAST(c.c_custkey IS NOT NULL AS INT)             AS has_customer,
           COALESCE(oc.n_orders, 0)                         AS n_orders
    FROM customer c FULL OUTER JOIN oc ON c.c_custkey = oc.o_custkey
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_testdata(spark, sf_dir, "customer")
    oc = (
        read_testdata(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = cust.join(oc, cust["c_custkey"] == oc["o_custkey"], "full_outer")
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().cast("int").alias("has_customer"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Unpivot/melt — the reference's ``stack()`` step in the pivot assembly
# (app.py:350-403) as the native wide→long operator, applied to the
# single-pass null profile (A6).
# ---------------------------------------------------------------------------


@register(
    "unpivot_null_profile",
    """
    WITH p AS (
      SELECT ROUND(AVG(CASE WHEN value < 5 THEN 1 ELSE 0 END) * 100, 2)            AS value_pct,
             ROUND(AVG(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 100, 2) AS props_pct,
             ROUND(AVG(0) * 100, 2)                                                AS event_id_pct
      FROM events
    )
    SELECT 'value_pct' AS col_name, value_pct AS null_pct FROM p
    UNION ALL SELECT 'props_pct', props_pct FROM p
    UNION ALL SELECT 'event_id_pct', event_id_pct FROM p
    """,
)
def q_unpivot_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.aggregates import null_profile

    ev = read_testdata(spark, sf_dir, "events").select(
        F.when(F.col("value") < 5, None).otherwise(F.col("value")).alias("value_pct"),
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("props"))
        .alias("props_pct"),
        F.col("event_id").alias("event_id_pct"),
    )
    prof = null_profile(ev, scale=2)
    # wide (one row, k columns) → long (k rows): Spark's native unpivot
    # is the reference's pandas stack() without the driver round-trip.
    return prof.unpivot(
        ids=[],
        values=list(prof.columns),
        variableColumnName="col_name",
        valueColumnName="null_pct",
    )


# ---------------------------------------------------------------------------
# D4/D1 — the Arrow/pandas escape hatch, oracle-checked via exact
# integer semantics (operators/pandas_ext.py).
# ---------------------------------------------------------------------------


@register(
    "pandas_udaf_median_price",
    """
    SELECT o_orderstatus,
           quantile_cont(CAST(round(o_totalprice * 100) AS DOUBLE), 0.5)
             AS median_cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_testdata(spark, sf_dir, "orders")
    return pe.grouped_median_cents(
        orders, value_col="o_totalprice", keys=["o_orderstatus"]
    )


@register(
    "applyinpandas_event_gaps",
    """
    SELECT event_id, user_id,
           date_diff('microsecond',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_us
    FROM events
    """,
)
def q_applyinpandas_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    return pe.user_event_gaps(ev)


@register(
    "event_gaps_native",
    """
    SELECT event_id, user_id,
           date_diff('microsecond',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_us
    FROM events
    """,
)
def q_event_gaps_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pure-window twin of applyinpandas_event_gaps: same oracle,
    # same frame, no Arrow boundary — benched side-by-side so the D1
    # escape hatch's ~10× cost is visibly a choice (VERDICT r3 #7).
    ev = read_testdata(spark, sf_dir, "events")
    return pe.user_event_gaps_native(ev)


# ---------------------------------------------------------------------------
# §2.9 — Structured Streaming drained via Trigger.AvailableNow, equal to
# the batch aggregate (streaming/ingest.py:batch_equivalent_daily_counts).
# ---------------------------------------------------------------------------


@register(
    "streaming_daily_counts",
    """
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS win_start,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def q_streaming_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .streaming.ingest import batch_equivalent_daily_counts

    ev = read_testdata(spark, sf_dir, "events")
    scratch = tempfile.mkdtemp(prefix="cfs_stream_")
    return batch_equivalent_daily_counts(spark, ev, scratch)


# ---------------------------------------------------------------------------
# §2.5 — aggregate-over-frame window (rowsBetween): per-customer rolling
# revenue across the last 3 orders. Frame determinism pinned by the
# unique o_orderkey tie-break; exact DECIMAL sum inside the frame.
# ---------------------------------------------------------------------------


@register(
    "rolling_revenue_per_customer",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS rolling_revenue
    FROM orders
    """,
)
def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_testdata(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec2("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("rolling_revenue"),
    )


# ---------------------------------------------------------------------------
# §2.9 — native session_window aggregation (batch spelling of the
# streaming session operator): events merge while consecutive gaps are
# < 30 min; Spark's session interval is half-open, so a gap of exactly
# the threshold starts a NEW session (oracle uses >=).
# ---------------------------------------------------------------------------


@register(
    "session_window_counts",
    """
    WITH seq AS (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN prev_ts IS NULL
                            OR date_diff('microsecond', prev_ts, ts) >= 1800000000
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events)
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM seq GROUP BY user_id, session_seq
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Daily resample + LINEAR interpolation (round 5) — the densification
# tier past month_spine_fill's constant fill: per-user daily mean
# value, every calendar day between first and last observation, gap
# days linearly interpolated between surrounding observed days. All
# fixed-point/double arithmetic is spelled IDENTICALLY on both engines
# (floor of correctly-rounded double ops on identical inputs), so the
# interpolated series hash-matches. functions/temporal.py:
# interpolate_daily.
# ---------------------------------------------------------------------------


@register(
    "interpolate_daily_values",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(floor(SUM(CAST(floor(value * 1000000) AS BIGINT))
                        / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS dv
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
    ), spine AS (
      SELECT b.user_id, CAST(u.d AS DATE) AS day
      FROM bounds b,
           unnest(generate_series(CAST(b.lo AS TIMESTAMP),
                                  CAST(b.hi AS TIMESTAMP),
                                  INTERVAL 1 DAY)) AS u(d)
    ), j AS (
      SELECT s.user_id, s.day, d.dv FROM spine s
      LEFT JOIN daily d USING (user_id, day)
    ), f AS (
      SELECT user_id, day, dv,
             last_value(dv IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(dv IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             last_value(CASE WHEN dv IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(CASE WHEN dv IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           CAST(CASE WHEN dv IS NOT NULL THEN dv
                     ELSE pv + CAST(floor((nv - pv) * date_diff('day', pd, day)
                                          / CAST(date_diff('day', pd, nd) AS DOUBLE))
                               AS BIGINT)
                END AS BIGINT) AS value_micro,
           CASE WHEN dv IS NOT NULL THEN 'observed' ELSE 'interp' END AS src
    FROM f
    """,
)
def q_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.temporal import interpolate_daily

    ev = read_testdata(spark, sf_dir, "events")
    return interpolate_daily(ev, key="user_id", ts_col="ts", value_col="value")
