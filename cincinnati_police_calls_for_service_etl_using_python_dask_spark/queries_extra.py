"""Round-2 coverage batch: subquery shapes (EXISTS / scalar correlated),
value-range window frames, ntile quantiles, token analytics over the
explode path, forward+tolerance as-of, and an exhaustive-probe IVF tier
that gives the ANN index a hash-checked oracle.

Each query follows the registry conventions (queries.py): identical
aliases on both engines, money through DECIMAL, int casts pinned.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalar import dec2
from .functions.temporal import minutes_between
from .operators import asof as ao
from .operators import multimodal as mm
from .operators import relational as rel
from .operators import similarity as sim
from .operators import text as tx
from .queries import register
from .sources.files import oracle_sf_dir, read_testdata


# ---------------------------------------------------------------------------
# EXISTS subquery (TPC-H Q4 shape): orders having at least one lineitem
# shipped more than 60 days after the order date. Catalyst rewrites the
# EXISTS into a left-semi hash join — same plan our semi_join operator
# produces — so the subquery surface costs nothing over the operator
# surface.
# ---------------------------------------------------------------------------


@register(
    "exists_late_shipments",
    """
    SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q_exists_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    orders.createOrReplaceTempView("__q4_orders")
    li.createOrReplaceTempView("__q4_lineitem")
    # SQL spelling on purpose: exercises Catalyst's RewritePredicateSubquery
    # (EXISTS -> LeftSemi join) rather than hand-building the semi join.
    #
    # r14 (guide §2.3/§3.1): the subquery pre-reduces lineitem to
    # (l_orderkey, MAX(l_shipdate)) before the correlation — EXISTS(l:
    # l_shipdate > d) ⟺ MAX(l_shipdate) > d because the predicate is
    # monotone in l_shipdate (and an all-NULL group yields NULL > d =
    # false, exactly the EXISTS answer). The semi-join build side drops
    # from every lineitem ROW (600 k at sf0.1, no pushable filter) to
    # one row per orderkey (150 k), the reduction happens map-side as a
    # partial_max before the exchange, and at cluster scale the same
    # pre-aggregate shrinks the shuffled/broadcast bytes 4× regardless
    # of join strategy. Measured 0.68 → 0.48 s warm at sf0.1, row
    # parity verified. The EXISTS -> LeftSemi rewrite still fires (the
    # plan keeps BroadcastHashJoin LeftSemi with the residual
    # __max_ship > o_orderdate + 60d condition).
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS LONG) AS n_orders
        FROM __q4_orders
        WHERE EXISTS (
          SELECT 1 FROM (
            SELECT l_orderkey, MAX(l_shipdate) AS __max_ship
            FROM __q4_lineitem GROUP BY l_orderkey
          ) lm
          WHERE lm.l_orderkey = o_orderkey
            AND lm.__max_ship > o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape): revenue from lineitems
# ordering less than half their part's average quantity. The DataFrame
# spelling materializes the per-part average ONCE as an aggregate and
# joins it back — exactly the de-correlated plan Catalyst derives from
# the subquery form, spelled explicitly so the re-aggregation join
# strategy (shuffle on l_partkey, AQE-skew-splittable) is visible.
# ---------------------------------------------------------------------------


@register(
    "scalar_subquery_small_qty_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS small_qty_revenue,
           COUNT(*)::BIGINT AS n_lines
    FROM lineitem l1
    WHERE l_quantity < (
      SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey
    )
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("__half_avg")
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__half_avg"))
        .agg(
            F.round(F.sum(dec2("l_extendedprice")), 2)
            .cast("double")
            .alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Value-range window frame: trailing-7-day revenue per customer. RANGE
# frames bound by VALUE distance (here: integer day number), not row
# count — peers at the same day aggregate identically on both engines,
# so no tie-break is needed (contrast ROWS frames).
# ---------------------------------------------------------------------------


@register(
    "rolling_7day_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS revenue_7d
    FROM orders
    """,
)
def q_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_testdata(spark, sf_dir, "orders")
    day_no = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_no)
        .rangeBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec2("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("revenue_7d"),
    )


# ---------------------------------------------------------------------------
# NTILE quantile bucketing. A global NTILE needs a total order (single
# sort partition) — fine for dimension-sized tables; at fact scale use
# percentile cutoffs + a bucket join instead (aggregates.percentiles_*).
# ---------------------------------------------------------------------------


@register(
    "ntile_customers_by_balance",
    """
    SELECT c_custkey,
           CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
             AS balance_quartile
    FROM customer
    """,
)
def q_ntile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_testdata(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", F.ntile(4).over(w).cast("long").alias("balance_quartile")
    )


# ---------------------------------------------------------------------------
# Corpus term frequencies through the explode path: the scale-correct
# spelling of "top terms" — explode is map-side, the count is a partial
# agg (map-side combine shrinks the token stream to distinct terms per
# task), and top-k is TakeOrdered, never a full sort.
# ---------------------------------------------------------------------------


@register(
    "top_tokens_docs",
    r"""
    SELECT token, COUNT(*)::BIGINT AS n
    FROM (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tx.tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting (whitespace tokens live in text_stats; this is
# the subword-budget variant used for sequence packing).
# ---------------------------------------------------------------------------


@register(
    "token_count_bpe",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT
             AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.bpe_like_token_count("text").cast("long").alias("n_bpe_tokens")
    )


# ---------------------------------------------------------------------------
# Forward as-of with tolerance: each purchase matched to the user's
# NEXT click within 30 minutes (operators/asof.py direction='forward').
# The oracle uses DuckDB's native forward ASOF (l.ts <= r.ts) with the
# tolerance applied as a post-join predicate — identical to the
# operator's post-fill null-out.
# ---------------------------------------------------------------------------


@register(
    "asof_next_click_30min",
    """
    WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
         r AS (SELECT * FROM events WHERE event_type = 'click'),
         j AS (
           SELECT l.event_id, l.user_id, l.ts AS lts,
                  r.event_id AS rid, r.ts AS rts
           FROM l ASOF LEFT JOIN r
             ON l.user_id = r.user_id AND l.ts <= r.ts
         )
    SELECT event_id, user_id,
           CASE WHEN rts IS NOT NULL
                 AND date_diff('microsecond', lts, rts) <= 1800000000
                THEN rid END AS asof_event_id,
           CASE WHEN rts IS NOT NULL
                 AND date_diff('microsecond', lts, rts) <= 1800000000
                THEN CAST(((date_diff('microsecond', lts, rts) + 300000)
                           // 600000) AS DOUBLE) / 100 END AS wait_minutes
    FROM j
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = ao.as_of_join(
        purchases,
        clicks,
        on=["user_id"],
        payload=["event_id"],
        direction="forward",
        tolerance_minutes=30.0,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        minutes_between("asof_ts", "ts").alias("wait_minutes"),
    )


# ---------------------------------------------------------------------------
# Distribution-rank window functions: percent_rank / cume_dist per
# priority. Both are count ratios with identical SQL-standard tie
# semantics; the operands are identical integers on both engines, so
# the double divisions are bit-identical.
# ---------------------------------------------------------------------------


@register(
    "percent_rank_orders",
    """
    SELECT o_orderkey,
           o_orderpriority,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6)    AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Positional window values: first / last / 2nd order price in each
# customer's full history. last_value and nth_value need the
# whole-partition frame (the default frame stops at CURRENT ROW — the
# classic silent-wrong-answer; pinned here on both engines).
# ---------------------------------------------------------------------------


@register(
    "first_last_nth_order_price",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_testdata(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (SURVEY §2.10 D5): sentence splitting as a LATERAL table
# function. Capability pin for imperative one-to-many extensions; the
# oracle mirrors the split/trim/filter semantics with list functions.
# ---------------------------------------------------------------------------


@register(
    "udtf_split_sentences",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                        x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
                         x -> x <> '') AS arr
      FROM documents
      WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(unnest(range(len(arr))) AS INT) AS sentence_idx,
           unnest(arr) AS sentence
    FROM s
    WHERE len(arr) > 0
    """,
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.udtfs import register_udtfs

    register_udtfs(spark)
    docs = read_testdata(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence
        FROM __udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Time-series gap fill: monthly counts of high-value orders, densified
# so months with NO qualifying order appear with n=0
# (functions/temporal.py:fill_month_gaps — sequence+explode spine from
# a 1-row bounds agg; the base table is scanned once).
# ---------------------------------------------------------------------------


@register(
    "month_spine_fill",
    """
    WITH months AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             COUNT(*) FILTER (WHERE o_totalprice > 450000) AS n
      FROM orders GROUP BY 1
    ), bounds AS (
      SELECT MIN(m) AS lo, MAX(m) AS hi FROM months
    ), spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
               AS month
      FROM bounds
    )
    SELECT CAST(s.month AS VARCHAR) AS month,
           COALESCE(m.n, 0)::BIGINT AS n_big_orders
    FROM spine s LEFT JOIN months m ON m.m = s.month
    """,
)
def q_month_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.temporal import fill_month_gaps

    o = read_testdata(spark, sf_dir, "orders")
    months = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count_if(F.col("o_totalprice") > 450000)
        .cast("long")
        .alias("n_big_orders")
    )
    filled = fill_month_gaps(
        months, "month", fill={"n_big_orders": F.lit(0).cast("long")}
    )
    return filled.select(
        F.col("month").cast("string").alias("month"), "n_big_orders"
    )


# ---------------------------------------------------------------------------
# SCD-1 merge (MERGE INTO semantics, format-free): a derived CDC change
# set — updates for event_id % 100 = 0 (+1000 value), deletes for
# event_id % 100 = 7 — applied onto events via one anti join + union
# (operators/relational.py:merge_changes). Contrast the reference's
# full drop-and-reload refresh (app.py:957-968).
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_events",
    """
    WITH changes AS (
      SELECT event_id, user_id, event_type, value + 1000 AS value, 'U' AS op
      FROM events WHERE event_id % 100 = 0
      UNION ALL
      SELECT event_id, user_id, event_type, value, 'D' AS op
      FROM events WHERE event_id % 100 = 7
    )
    SELECT e.event_id, e.user_id, e.event_type, e.value
    FROM events e LEFT JOIN changes c USING (event_id)
    WHERE c.event_id IS NULL
    UNION ALL
    SELECT event_id, user_id, event_type, value
    FROM changes WHERE op <> 'D'
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_testdata(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    updates = ev.filter(F.col("event_id") % 100 == 0).withColumn(
        "value", F.col("value") + 1000
    ).withColumn("op", F.lit("U"))
    deletes = ev.filter(F.col("event_id") % 100 == 7).withColumn("op", F.lit("D"))
    changes = updates.unionByName(deletes)
    return rel.merge_changes(ev, changes, key="event_id")


# ---------------------------------------------------------------------------
# Multimodal resize + frame-sample plumbing (operators/multimodal.py):
# the geometry/fan-out logic is real and oracle-checked; only the pixel
# kernels are stubbed (no codecs in this container). The oracle mirrors
# the deterministic stub arithmetic in SQL — same IEEE double ops, so
# the hash check is exact.
# ---------------------------------------------------------------------------


@register(
    "multimodal_resize_stub",
    """
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) % 640 + 1 AS w,
             octet_length(encode(text)) % 480 + 1 AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS src_width,
           CAST(h AS INT) AS src_height,
           CAST(GREATEST(1, FLOOR(w * LEAST(1.0, 224.0 / w, 224.0 / h))) AS INT)
             AS out_width,
           CAST(GREATEST(1, FLOOR(h * LEAST(1.0, 224.0 / w, 224.0 / h))) AS INT)
             AS out_height
    FROM m
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    return mm.resize_metadata(mm.attach_binary_payload(docs), max_w=224, max_h=224)


@register(
    "multimodal_frame_sample",
    """
    WITH m AS (
      SELECT doc_id,
             LEAST(12, octet_length(encode(text)) // 250 + 1) AS n
      FROM documents
    ), f AS (
      SELECT doc_id, unnest(range(n)) AS idx FROM m
    )
    SELECT doc_id,
           CAST(idx AS INT) AS frame_idx,
           CAST(idx * 250 AS INT) AS frame_ts_ms
    FROM f
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    return mm.frame_sample(mm.attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# REAL container demux (round 5, VERDICT r4 #8): per-frame fan-out
# from an actual ISO-BMFF sample-table parse (operators/mp4.py) — the
# frame timeline comes from stts, sizes from stsz, and the frame BYTES
# are located via the stsc/stco chunk map and checksummed. The fixture
# MP4 is a deterministic function of text (chunking, co64 vs stco and
# stts run structure all vary per doc), so the oracle predicts every
# value the demuxer must RECOVER from the container.
# ---------------------------------------------------------------------------


@register(
    "multimodal_video_frames",
    """
    WITH g AS (
      SELECT doc_id, length(text) AS nb, length(text) % 7 + 1 AS nf
      FROM documents
    ), fr AS (
      SELECT g.doc_id, g.nb, i.i,
             (g.nb + i.i) % 9 + 1 AS fsize,
             ((g.nb + i.i) % 3 + 1) * 40 AS dur
      FROM g, unnest(generate_series(0, g.nf - 1)) AS i(i)
    ), pts AS (
      SELECT doc_id, nb, i, fsize,
             CAST(COALESCE(SUM(dur) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS pts_ms
      FROM fr
    ), fb AS (
      SELECT p.doc_id, p.i, p.fsize, p.pts_ms, k.k,
             CASE WHEN p.nb = 0 THEN 77
                  ELSE ord(substr(d.text,
                                  CAST((p.i * 3 + k.k) % p.nb AS INT) + 1, 1))
             END AS bv
      FROM pts p JOIN documents d USING (doc_id),
           unnest(generate_series(0, p.fsize - 1)) AS k(k)
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(MAX(pts_ms) AS BIGINT) AS pts_ms,
           CAST(MAX(fsize) AS INT) AS frame_size,
           CAST(SUM(bv) AS BIGINT) AS fr_sum,
           CAST(SUM((k + 1) * bv) AS BIGINT) AS fr_wsum
    FROM fb GROUP BY doc_id, i
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mp4

    docs = read_testdata(spark, sf_dir, "documents")
    par = min(16, spark.sparkContext.defaultParallelism)
    return mp4.synth_video_frames(docs, parallelism=par)


@register(
    "video_h264_metadata",
    """
    -- H.264 Annex-B bitstream replay: the fixture's geometry / NAL
    -- census is a pure function of length(text); the Spark side must
    -- recover it through REAL start-code demux, emulation-prevention
    -- removal and Exp-Golomb SPS parsing (operators/h264.py).
    SELECT doc_id,
           CAST(2 * (COALESCE(length(text), 0) % 16) + 16 AS INT) AS width,
           CAST(2 * (COALESCE(length(text), 0) % 11) + 16 AS INT) AS height,
           CAST(66 AS INT) AS profile_idc,
           CAST(30 AS INT) AS level_idc,
           CAST(COALESCE(length(text), 0) % 5 + 3 AS INT) AS n_nals,
           CAST(1 AS INT) AS n_idr,
           CAST(COALESCE(length(text), 0) % 5 + 1 AS INT) AS n_slices,
           'h264-parsed' AS status
    FROM documents
    """,
)
def q_video_h264_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    docs = read_testdata(spark, sf_dir, "documents")
    par = min(16, spark.sparkContext.defaultParallelism)
    return mm.synth_h264_metadata(docs, parallelism=par)


@register(
    "audio_aac_metadata",
    """
    -- AAC/ADTS bitstream replay (r8, the audio twin of the H.264
    -- row): stream config and the frame/payload census are pure
    -- functions of length(text); the Spark side must recover them
    -- through a REAL ADTS frame-length walk, header decode and CRC
    -- skip (operators/aac.py).
    WITH g AS (
      SELECT doc_id, COALESCE(length(text), 0) AS nb FROM documents
    ), fr AS (
      SELECT g.doc_id, g.nb, i.i,
             (g.nb + 7 * i.i) % 17 + 1 AS plen,
             CASE WHEN (g.nb + i.i) % 3 = 0 THEN 1 ELSE 0 END AS has_crc
      FROM g, unnest(generate_series(0, g.nb % 5)) AS i(i)
    ), fagg AS (
      SELECT doc_id, MAX(nb) AS nb,
             COUNT(*) AS n_frames,
             SUM(has_crc) AS n_crc,
             SUM(plen) AS payload_bytes
      FROM fr GROUP BY doc_id
    ), pb AS (
      SELECT f.doc_id,
             SUM(CASE WHEN f.nb = 0 THEN 85
                 ELSE ord(substr(d.text,
                                 CAST((f.i * 5 + k.k) % f.nb AS INT) + 1, 1))
                 END) AS payload_sum
      FROM fr f JOIN documents d USING (doc_id),
           unnest(generate_series(0, f.plen - 1)) AS k(k)
      GROUP BY f.doc_id
    )
    SELECT a.doc_id,
           CAST(a.nb % 4 + 1 AS INT) AS aot,
           CAST(CASE a.nb % 13
                WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
                WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
                WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
                WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
                ELSE 7350 END AS INT) AS sample_rate,
           CAST(a.nb % 7 + 1 AS INT) AS channels,
           CAST(a.n_frames AS INT) AS n_frames,
           CAST(a.n_crc AS INT) AS n_crc,
           CAST(a.n_frames * 1024 * 1000000 //
                CASE a.nb % 13
                WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
                WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
                WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
                WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
                ELSE 7350 END AS BIGINT) AS dur_us,
           CAST(a.payload_bytes AS BIGINT) AS payload_bytes,
           CAST(p.payload_sum AS BIGINT) AS payload_sum,
           'aac-parsed' AS status
    FROM fagg a JOIN pb p USING (doc_id)
    """,
)
def q_audio_aac_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal as mm

    docs = read_testdata(spark, sf_dir, "documents")
    par = min(16, spark.sparkContext.defaultParallelism)
    return mm.synth_aac_metadata(docs, parallelism=par)


@register(
    "audio_decode_wav",
    """
    WITH g AS (
      SELECT doc_id, length(text) AS nb,
             8000 * (length(text) % 3 + 1) AS rate,
             length(text) % 50 + 4 AS n
      FROM documents
    ), sm AS (
      SELECT g.doc_id, g.rate, g.n, k.k,
             CASE WHEN g.nb = 0 THEN 42 * 256
                  ELSE (ord(substr(d.text, CAST(k.k % g.nb AS INT) + 1, 1))
                        - 128) * 256
             END AS s
      FROM g JOIN documents d USING (doc_id),
           unnest(generate_series(0, g.n - 1)) AS k(k)
    ), zx AS (
      SELECT doc_id, rate, n, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY k) AS prev
      FROM sm
    )
    SELECT doc_id,
           CAST(MAX(rate) AS INT) AS sample_rate,
           CAST(MAX(n) AS INT) AS n_samples,
           CAST(MAX(n) * 1000000 // MAX(rate) AS BIGINT) AS dur_us,
           CAST(SUM(s) AS BIGINT) AS amp_sum,
           CAST(SUM(ABS(s)) AS BIGINT) AS amp_abs,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND ((prev < 0 AND s >= 0) OR (s < 0 AND prev >= 0))
                         THEN 1 ELSE 0 END) AS INT) AS zero_cross,
           'wav-decoded' AS status
    FROM zx GROUP BY doc_id
    """,
)
def q_audio_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Real RIFF/WAVE decode (operators/audio.py): the fixture writer and
    # the chunk-walking reader are independent spec implementations; the
    # oracle replays the deterministic PCM model the decoder must
    # recover (rate from fmt, samples from data, pad-byte chunk walk).
    from .operators import audio as aud

    docs = read_testdata(spark, sf_dir, "documents")
    par = min(16, spark.sparkContext.defaultParallelism)
    return aud.synth_audio_metadata(docs, parallelism=par)


@register(
    "multimodal_decode_jpeg_color",
    """
    -- COLOR (4:2:0) JPEG replay: flat luma blocks / flat per-MCU
    -- chroma reconstruct integer-exactly through the interleaved
    -- Huffman/dequant/IDCT/upsample path, then the decoder's
    -- FIXED-POINT YCbCr->RGB (jpeg.ycbcr_to_rgb_int) is replayed here
    -- with integer // arithmetic (bias keeps numerators non-negative,
    -- so floor == truncation on both engines).
    WITH g AS (
      SELECT doc_id, length(text) AS nb,
             length(text) % 33 + 1 AS w,
             length(text) % 20 + 1 AS h,
             (length(text) % 33 + 1 + 7) // 8 AS bw,
             (length(text) % 33 + 1 + 15) // 16 AS mw
      FROM documents
    ), px AS (
      SELECT g.doc_id, g.w, g.h, y.y * g.w + x.x + 1 AS li,
             CASE WHEN g.nb = 0 THEN 128
                  ELSE ord(substr(d.text,
                       CAST(((y.y // 8) * g.bw + x.x // 8) % g.nb AS INT) + 1, 1))
             END AS yv,
             CASE WHEN g.nb = 0 THEN 128
                  ELSE ord(substr(d.text,
                       CAST(((y.y // 16) * g.mw + x.x // 16 + 3) % g.nb AS INT) + 1, 1))
             END AS cb,
             CASE WHEN g.nb = 0 THEN 128
                  ELSE ord(substr(d.text,
                       CAST(((y.y // 16) * g.mw + x.x // 16 + 7) % g.nb AS INT) + 1, 1))
             END AS cr
      FROM g JOIN documents d USING (doc_id),
           unnest(generate_series(0, g.h - 1)) AS y(y),
           unnest(generate_series(0, g.w - 1)) AS x(x)
    ), rgb AS (
      SELECT doc_id, w, h, li,
             LEAST(255, GREATEST(0,
               (65536 * yv + 91881 * (cr - 128) + 32768 + 268435456) // 65536
               - 4096)) AS r,
             LEAST(255, GREATEST(0,
               (65536 * yv - 22554 * (cb - 128) - 46802 * (cr - 128)
                + 32768 + 268435456) // 65536 - 4096)) AS gg,
             LEAST(255, GREATEST(0,
               (65536 * yv + 116130 * (cb - 128) + 32768 + 268435456) // 65536
               - 4096)) AS b
      FROM px
    )
    SELECT doc_id,
           CAST(MAX(w) AS INT) AS width,
           CAST(MAX(h) AS INT) AS height,
           'RGB'                 AS "mode",
           'jpeg-color-decoded'  AS status,
           CAST(COUNT(*) * 3 AS BIGINT) AS px_count,
           CAST(SUM(r) AS BIGINT)  AS r_sum,
           CAST(SUM(gg) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT)  AS b_sum,
           CAST(SUM(li * (r * 65536 + gg * 256 + b)) AS BIGINT) AS rgb_wsum
    FROM rgb GROUP BY doc_id
    """,
)
def q_multimodal_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    # 32-way: the color decode kernel (interleaved Huffman + 3×IDCT +
    # fixed-point color transform) is the heaviest per-row codec, so
    # it amortizes the extra task overhead that caps the other decode
    # crossings at 16 (measured: 0.49 s @16 → 0.41 s @32 at sf0.1).
    par = min(32, spark.sparkContext.defaultParallelism)
    return mm.synth_decode_jpeg_color(docs, parallelism=par)


# ---------------------------------------------------------------------------
# IVF with every list probed: exhaustive coverage makes the result
# EXACT, so the same brute-force SQL is a valid oracle — this pins the
# whole IVF pipeline (train -> assign -> probe-join -> rerank) with a
# hash check, complementing the recall-gated approximate tier.
#
# The gate goes through the PERSISTENT index (refresh_ivf_index once
# per session+corpus into a scratch dir, then ivf_index_topk) — the
# production posture: training + corpus assignment are paid at
# index-BUILD time; every query execution only scans the probed
# postings files (zone-map pruning) and reranks. Under the bench
# harness this is what warm runs measure — probe cost, not re-assign
# cost — exactly like a real IVF deployment (FAISS/Milvus segments).
# Every list is probed, so the result is exact whatever centroids the
# training produced.
# ---------------------------------------------------------------------------

_IVF_INDEX_DIRS: dict[tuple[int, str], str] = {}


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+corpus) and return the persistent IVF
    index path: the embeddings copied into a scratch TxTable
    (``{root}/src``) and indexed by :func:`sim.refresh_ivf_index` at
    ``{root}/idx``. The scratch dir outlives the call — probe plans
    read it at every action — and is reaped at process exit."""
    import atexit
    import shutil
    import tempfile

    from .sources.txtable import TxTable

    key = (id(spark), sf_dir)
    path = _IVF_INDEX_DIRS.get(key)
    if path is None:
        root = tempfile.mkdtemp(prefix="cfs_ivf_idx_")
        emb = read_testdata(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        src_tx = TxTable.create(spark, f"{root}/src", emb)
        path = f"{root}/idx"
        sim.refresh_ivf_index(spark, src_tx, path, n_lists=8, n_iter=8, seed=7)
        _IVF_INDEX_DIRS[key] = path
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return path


@register(
    "ann_ivf_full_probe",
    """
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(
                          list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv) DESC,
                        e.vec_id ASC
             ) AS rank
      FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, vec_id, rank FROM scored WHERE rank <= 10
    """,
)
def q_ann_ivf_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = _ivf_index_dir(spark, sf_dir)
    return sim.ivf_index_topk(
        spark,
        path,
        queries,
        k=10,
        n_probe=8,  # probe every list => exhaustive => exact
        dim=64,
    )


# ---------------------------------------------------------------------------
# CDC-MAINTAINED persistent IVF index (r11): the same exhaustive-probe
# exactness trick, but the index is kept current by
# similarity.refresh_ivf_index folding the source TxTable's change
# feed (one MERGE per refresh, txn-watermarked exactly-once) instead
# of being rebuilt — the IVM doctrine applied to the ANN tier. The
# construction replays a DML script against a scratch source table
# (delete every 11th id, negate every 7th-mod-3 vector, append
# reversed copies of ids < 3 under shifted ids), initializes the index
# at v0, then folds the three commits in ONE refresh. Probing every
# list is exact over the CURRENT corpus, so the oracle is brute-force
# SQL over the same script's final state — deleted ids must be gone,
# moved vectors re-ranked, inserts ranked: a full value-hash gate on
# the maintenance path itself. All of that is construction work; warm
# bench runs time the probe (bench._CONSTRUCTION_EAGER).
# ---------------------------------------------------------------------------

_IVF_MAINT_DIRS: dict[tuple[int, str], str] = {}


def _ivf_maintained_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+corpus) the maintained index FAMILY:
    scratch source TxTable → init refreshes (IVF postings at
    ``{root}/idx`` + PQ codes at ``{root}/pq``, r12) → DML script →
    fold refreshes. Returns the family ROOT (``{root}/src`` holds the
    source table whose current snapshot is the rerank corpus).

    Model artifacts are trained on the TESTDATA read (the replayable
    row order every replay oracle shares) and handed to the refreshers
    explicitly — the bring-your-own-model shape — so the PQ/drift
    oracles can embed bit-identical literals; the scratch TxTable's
    own read order never feeds a trainer (r12)."""
    import atexit
    import shutil
    import tempfile

    import numpy as np

    from .sources.txtable import TxTable

    key = (id(spark), sf_dir)
    root = _IVF_MAINT_DIRS.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix="cfs_ivf_maint_")
        emb = read_testdata(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        src = TxTable.create(spark, f"{root}/src", emb)
        sample = np.stack(
            emb.select("embedding").limit(100_000).toPandas()["embedding"]
            .to_numpy()
        ).astype(np.float64)
        cents = sim._train_spherical_kmeans(sample, 8, 8, 7)
        books = sim.train_pq(emb, m=8, ksub=16, n_iter=10, seed=7)
        sim.refresh_ivf_index(spark, src, f"{root}/idx", centroids=cents)
        sim.refresh_pq_codes(spark, src, f"{root}/pq", codebooks=books)
        src.delete(F.col("vec_id") % 11 == 0)
        src.update(
            F.col("vec_id") % 7 == 3,
            {"embedding": F.transform(F.col("embedding"), lambda x: -x)},
        )
        src.append(
            emb.filter(F.col("vec_id") < 3).select(
                (F.col("vec_id") + 100000).alias("vec_id"),
                F.reverse(F.col("embedding")).alias("embedding"),
            )
        )
        sim.refresh_ivf_index(spark, src, f"{root}/idx")
        sim.refresh_pq_codes(spark, src, f"{root}/pq")
        _IVF_MAINT_DIRS[key] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


@register(
    "ann_ivf_index_maintained",
    """
    WITH corpus AS (
      SELECT vec_id,
             CASE WHEN vec_id % 7 = 3
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS emb
      FROM embeddings
      WHERE vec_id % 11 <> 0
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, list_reverse(embedding) AS emb
      FROM embeddings WHERE vec_id < 3
    ), q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(
                          list_transform(c.emb, x -> CAST(x AS DOUBLE)), q.qv) DESC,
                        c.vec_id ASC
             ) AS rank
      FROM corpus c CROSS JOIN q
    )
    SELECT query_id, vec_id, rank FROM scored WHERE rank <= 10
    """,
)
def q_ann_ivf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    root = _ivf_maintained_dir(spark, sf_dir)
    return sim.ivf_index_topk(
        spark,
        f"{root}/idx",
        queries,
        k=10,
        n_probe=8,  # probe every list => exhaustive => exact
        dim=64,
    )


# ---------------------------------------------------------------------------
# Fully MAINTAINED IVF-PQ (r12, VERDICT r11 #3): both index tiers —
# routing (postings) AND memory (codes) — are CDC-maintained TxTables
# folded from the same DML script by idempotent txn-watermarked MERGEs
# (similarity.refresh_ivf_index + refresh_pq_codes, frozen
# centroids/codebooks). The probe reads candidates from the maintained
# postings (zone-map pruned), scores them by integer ADC over the
# maintained codes (no re-encode), and reranks the shortlist against
# the source's CURRENT snapshot. Probing every list makes the
# candidate restriction the identity, so the oracle is the all-pairs
# PQ replay (bit-identical codebook literals, trained on the same
# testdata rows as the Spark-side init) over the DML script's final
# corpus — a FULL value-hash gate on both maintenance paths at once.
# ---------------------------------------------------------------------------

_MAINT_CORPUS_CTE = """
  SELECT vec_id,
         CASE WHEN vec_id % 7 = 3
              THEN list_transform(embedding, x -> -x)
              ELSE embedding END AS embedding
  FROM embeddings
  WHERE vec_id % 11 <> 0
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, list_reverse(embedding) AS embedding
  FROM embeddings WHERE vec_id < 3
"""


@_functools.lru_cache(maxsize=1)
def _ann_ivf_pq_maintained_oracle() -> str:
    return sim.pq_adc_replay_sql(
        f"{oracle_sf_dir()}/embeddings.parquet",
        k=10, m=8, ksub=16, shortlist=50,
        corpus_cte=_MAINT_CORPUS_CTE,
    )


@register("ann_ivf_pq_maintained", _ann_ivf_pq_maintained_oracle)
def q_ann_ivf_pq_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.txtable import TxTable

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    root = _ivf_maintained_dir(spark, sf_dir)
    corpus = TxTable(spark, f"{root}/src").read()
    return sim.pq_codes_maintained_topk(
        spark,
        f"{root}/pq",
        queries,
        corpus,
        k=10,
        shortlist=50,
        dim=64,
        ivf_path=f"{root}/idx",
        n_probe=8,  # probe every list => candidate restriction = identity
    )


# ---------------------------------------------------------------------------
# Maintained-index drift probe (r12, VERDICT r11 #8): centroids are
# FROZEN across refreshes by design, so an operator needs a signal for
# WHEN to rebuild. This emits per-list occupancy plus an integer-
# quantized cohesion statistic (Σ floor(1e4 × cos(vector, assigned
# centroid)) — quantize-then-sum keeps the aggregate summation-order
# free) over the maintained postings: occupancy skew says routing is
# degenerating, falling cohesion says the corpus drifted off the
# training snapshot. One bounded aggregate over the postings table;
# the oracle replays the DML corpus + centroid literals (trained on
# the same testdata rows the Spark-side init used).
# ---------------------------------------------------------------------------


@_functools.lru_cache(maxsize=1)
def _ann_drift_oracle() -> str:
    mat = sim._replay_corpus_matrix(f"{oracle_sf_dir()}/embeddings.parquet")
    cents = sim._train_spherical_kmeans(mat, 8, 8, 7)
    dim = mat.shape[1]

    def lits(l: int) -> str:
        return "[" + ", ".join(
            f"{float(cents[l, i])!r}" for i in range(dim)
        ) + "]"

    cos_case = "CASE a.lst " + " ".join(
        f"WHEN {l} THEN list_cosine_similarity("
        f"list_transform(c.embedding, x -> CAST(x AS DOUBLE)), {lits(l)})"
        for l in range(len(cents))
    ) + " END"
    return f"""
WITH corpus AS ({_MAINT_CORPUS_CTE}),
env AS ({sim._replay_env_cte(dim, "corpus")}),
{sim._replay_assign_cte(cents)}
SELECT CAST(a.lst AS BIGINT) AS list_id,
       COUNT(*)::BIGINT AS n_vecs,
       SUM(CAST(FLOOR(10000.0 * ({cos_case})) AS BIGINT)) AS q_cohesion
FROM assign a JOIN corpus c USING (vec_id)
GROUP BY a.lst
"""


@register("ann_ivf_maintained_drift", _ann_drift_oracle)
def q_ann_ivf_maintained_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.txtable import TxTable

    root = _ivf_maintained_dir(spark, sf_dir)
    tx = TxTable(spark, f"{root}/idx/postings_tx")
    # marker-aware + pinned (ADVICE r12): cohesion must be measured
    # against the model the CURRENT postings were assigned with —
    # after a rebuild that is the versioned artifact the snapshot's
    # __ivf_centroids__ marker references, never the init-era sidecar
    # — and the postings read pins to the SAME snapshot so a rebuild
    # racing the probe can't mix model and data. Centroids ship as a
    # VALUES local relation (repr round-trips the doubles exactly; no
    # per-action broadcast-rebuild job — the _lut_local_frame
    # doctrine).
    snap = tx.snapshot()
    cents_np = sim._maintained_centroids(spark, f"{root}/idx", snap)
    postings = tx.read(version=snap.version)
    vals = ",".join(
        "({}, array({}))".format(
            l, ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row)
        )
        for l, row in enumerate(cents_np)
    )
    cents = spark.sql(
        f"SELECT col1 AS list_id, col2 AS centroid FROM VALUES {vals}"
    )
    q = F.floor(
        F.lit(10000.0) * sim.cosine(F.col("embedding"), F.col("centroid"))
    ).cast("long")
    return (
        postings.join(
            F.broadcast(cents), postings["_list"] == cents["list_id"]
        )
        .groupBy(F.col("_list").cast("bigint").alias("list_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(q).alias("q_cohesion"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-iteration integer PageRank (r8) — the iterative-algorithm
# family under the FULL value-hash oracle: integer micro-unit ranks
# make every Spark/DuckDB sum bit-identical, and a fixed iteration
# count unrolls into plain SQL (operators/graph.py). Graph: the
# undirected customer↔supplier bipartite graph induced by lineitems.
# ---------------------------------------------------------------------------

_PAGERANK_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM pairs
  UNION
  SELECT dst AS src, src AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
c1 AS (
  SELECT e.dst AS node, SUM(r.rank // d.deg) AS contrib
  FROM edges e JOIN r0 r ON e.src = r.node JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r1 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c1 c ON n.node = c.node
),
c2 AS (
  SELECT e.dst AS node, SUM(r.rank // d.deg) AS contrib
  FROM edges e JOIN r1 r ON e.src = r.node JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r2 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c2 c ON n.node = c.node
),
c3 AS (
  SELECT e.dst AS node, SUM(r.rank // d.deg) AS contrib
  FROM edges e JOIN r2 r ON e.src = r.node JOIN outdeg d ON e.src = d.src
  GROUP BY e.dst
),
r3 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c3 c ON n.node = c.node
)
SELECT node, rank FROM r3
"""


def pagerank_customer_supplier_df(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shared builder for the gated query AND the plan audit.

    tools/explain_audit.py calls this directly (NOT through the
    registry's memoizing wrapper) so its threshold=-1 probe constructs
    a fresh plan under that conf — pagerank_fixed's measured-count
    broadcast gate reads the threshold at construction time.
    """
    from .operators import graph as gr

    orders = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return gr.pagerank_fixed(edges, iterations=3, edge_partitions=8)


@register("pagerank_customer_supplier", _PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_customer_supplier_df(spark, sf_dir)


# ---------------------------------------------------------------------------
# FILTERED ANN (r14): predicate-restricted vector search — the
# tenant/shard/attribute-filter query every vector store grows, here
# as a pushdown into the IVF probe: `where_range` zone-map-prunes the
# postings read on the id stats (conjunctive with the `_list`
# pruning), `where` applies the residual predicate before the
# rerank, so the top-k is computed among MATCHING rows only and the
# ranking shuffle never carries a filtered-out candidate. Probing
# every list keeps the filtered result exact, so the oracle is brute
# force + WHERE — a full value-hash gate.
# ---------------------------------------------------------------------------


@register(
    "ann_ivf_filtered_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(
                          list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv) DESC,
                        e.vec_id ASC
             ) AS rank
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id BETWEEN 100 AND 399 AND e.vec_id % 3 <> 1
    )
    SELECT query_id, vec_id, rank FROM scored WHERE rank <= 10
    """,
)
def q_ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = _ivf_index_dir(spark, sf_dir)
    return sim.ivf_index_topk(
        spark,
        path,
        queries,
        k=10,
        n_probe=8,  # probe every list => exhaustive => filtered-exact
        dim=64,
        where="vec_id % 3 != 1",
        where_range=("vec_id", 100, 399),
    )


# ---------------------------------------------------------------------------
# HYBRID RETRIEVAL (r14): reciprocal rank fusion of the BM25 text
# arm and the cosine vector arm over the shared documents/embeddings
# id space — operators/retrieval.py. Both arms' ranks are already
# cross-engine deterministic (BM25 scores bit-match by the
# driver-side-idf argument on bm25_topk_docs; cosine ranks by the
# ann_cosine_topk spelling), and the fusion adds only
# 1.0/(60 + rank) terms — one correctly-rounded IEEE division of
# exact integers per arm, summed in fixed arm order — so the fused
# scores value-hash exactly. Fusion work is k-sized (top lists only);
# the corpus-scale cost lives in the two arms.
# ---------------------------------------------------------------------------

_HYBRID_TERMS = ["vector", "join", "stream"]
_HYBRID_QV_ID = 7
_HYBRID_K, _HYBRID_K_EACH, _HYBRID_RRF_K = 10, 20, 60


def _hybrid_rrf_oracle() -> str:
    k1, b = 1.2, 0.75
    k1p1 = f"{(k1 + 1.0)!r}::DOUBLE"
    one_minus_b = f"{(1.0 - b)!r}::DOUBLE"
    k1s, bs = f"{k1!r}::DOUBLE", f"{b!r}::DOUBLE"
    terms = _HYBRID_TERMS
    dfs = ",\n             ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    tfs = ",\n            ".join(
        f"len(list_filter(toks, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    score = "0.0"
    for i in range(len(terms)):
        score += (
            f"\n           + ln(1 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
            f" * (t.tf{i} * {k1p1})"
            f" / (t.tf{i} + {k1s} * ({one_minus_b} + {bs} * t.dl / s.avgdl))"
        )
    rk = _HYBRID_RRF_K
    return f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
             END AS dl,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {dfs}
      FROM d
    ), t AS (
      SELECT doc_id, dl,
            {tfs}
      FROM d
    ), bm AS (
      SELECT t.doc_id, {score} AS score
      FROM t CROSS JOIN s
    ), brank AS (
      SELECT doc_id, text_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
        FROM bm
      ) WHERE text_rank <= {_HYBRID_K_EACH}
    ), qv AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id = {_HYBRID_QV_ID}
    ), vrank AS (
      SELECT doc_id, vec_rank FROM (
        SELECT e.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(
                            list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                            qv.v) DESC,
                          e.vec_id ASC
               ) AS vec_rank
        FROM embeddings e CROSS JOIN qv
      ) WHERE vec_rank <= {_HYBRID_K_EACH}
    ), fused AS (
      SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
             b.text_rank, v.vec_rank,
             COALESCE((1.0::DOUBLE) / ({rk} + b.text_rank), 0.0::DOUBLE)
               + COALESCE((1.0::DOUBLE) / ({rk} + v.vec_rank), 0.0::DOUBLE)
               AS rrf_score
      FROM brank b FULL OUTER JOIN vrank v ON b.doc_id = v.doc_id
    )
    SELECT doc_id, text_rank, vec_rank, rrf_score, rank FROM (
      SELECT doc_id, text_rank, vec_rank, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
      FROM fused
    ) WHERE rank <= {_HYBRID_K}
    """


@register("hybrid_rrf_topk_docs", _hybrid_rrf_oracle())
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import retrieval as rt

    docs = read_testdata(spark, sf_dir, "documents")
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == _HYBRID_QV_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return rt.hybrid_rrf_topk(
        docs,
        emb,
        _HYBRID_TERMS,
        queries,
        k=_HYBRID_K,
        k_each=_HYBRID_K_EACH,
        rrf_k=_HYBRID_RRF_K,
        dim=64,
    )
