"""Consolidated gate-suite queries (round 3).

The driver's correctness gate records the FIRST 50 registered queries
(CORRECTNESS_r01/r02 both truncate at 50). These suites merge
operators that previously each spent a slot — same operators, same
oracle rigor, one slot — so the 50-query window covers every
SURVEY.md §2 row and every LLM-pipeline operator at once. The
granular single-operator spellings stay registered (tail of the
registry) and stay locally gated by tests/test_oracle_parity.py.

Registration ORDER is owned by queries.GATE_PRIORITY, not by import
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.scalar import composite_key, dec2, to_numeric
from .functions.temporal import minutes_between
from .operators import dedup as dd
from .operators import multimodal as mm
from .operators import relational as rel
from .operators import sampling as sp
from .operators import text as tx
from .operators.aggregates import distinct_values
from .queries import register
from .queries_llm import (
    _D_STOPWORDS,
    _D_TOKS,
    _D_TOKS_NOCASE,
    _duckdb_minhash_cte,
)
from .sources.files import read_testdata


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_testdata(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.5 — the ranking/analytic window surface in one pass: row_number /
# rank / dense_rank / lag (w1), percent_rank / cume_dist (w2), ntile
# (w3, global), first/last/nth_value over the whole-partition frame
# (w4). Merges window_rank_orders + percent_rank_orders +
# ntile_customers_by_balance + first_last_nth_order_price.
# ---------------------------------------------------------------------------


@register(
    "window_functions_suite",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority,
           ROW_NUMBER() OVER w1 AS rn,
           RANK() OVER w1 AS rnk,
           DENSE_RANK() OVER w1 AS drnk,
           LAG(o_orderkey) OVER w1 AS prev_orderkey,
           first_value(o_totalprice) OVER w4  AS first_price,
           last_value(o_totalprice)  OVER w4  AS last_price,
           nth_value(o_totalprice, 2) OVER w4 AS second_price,
           ROUND(percent_rank() OVER w2, 6) AS pct_rank,
           ROUND(cume_dist() OVER w2, 6)    AS cume,
           CAST(NTILE(4) OVER w3 AS BIGINT) AS price_quartile
    FROM orders
    WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
           w2 AS (PARTITION BY o_orderpriority ORDER BY o_totalprice),
           w3 AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC),
           w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w2 = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    # ntile is PARTITIONED (quartile within priority), deliberately not
    # global: one global window in a multi-window query poisons the
    # WHOLE plan into SinglePartition — the planner satisfies every
    # later clustering requirement with the single-partition exchange,
    # so all four windows would run on one task (observed before this
    # fix). The global-quantile spelling lives in
    # ntile_customers_by_balance (tail) with its scale caveat.
    w3 = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w4 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        # column order groups same-partitioning windows (w1+w4 custkey,
        # then w2+w3 priority): the planner splits Window operators in
        # expression order, so interleaving partitionings would shuffle
        # on custkey twice (3 exchanges instead of 2).
        F.row_number().over(w1).cast("long").alias("rn"),
        F.rank().over(w1).cast("long").alias("rnk"),
        F.dense_rank().over(w1).cast("long").alias("drnk"),
        F.lag("o_orderkey").over(w1).alias("prev_orderkey"),
        F.first("o_totalprice").over(w4).alias("first_price"),
        F.last("o_totalprice").over(w4).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w4).alias("second_price"),
        F.round(F.percent_rank().over(w2), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w2), 6).alias("cume"),
        F.ntile(4).over(w3).cast("long").alias("price_quartile"),
    )


# ---------------------------------------------------------------------------
# §2.5 — aggregate-over-frame windows: value-RANGE frame (trailing 7
# calendar days by integer day number) and ROWS frame (last 3 orders),
# both partitioned per customer. Merges rolling_7day_revenue +
# rolling_revenue_per_customer.
# ---------------------------------------------------------------------------


@register(
    "rolling_windows_suite",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wr, 2) AS DOUBLE)
             AS revenue_7d,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wo, 2) AS DOUBLE)
             AS rolling_revenue
    FROM orders
    WINDOW wr AS (PARTITION BY o_custkey
                  ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
           wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    day_no = F.unix_date(F.col("o_orderdate").cast("date"))
    wr = Window.partitionBy("o_custkey").orderBy(day_no).rangeBetween(-6, Window.currentRow)
    wo = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec2("o_totalprice")).over(wr), 2).cast("double").alias("revenue_7d"),
        F.round(F.sum(dec2("o_totalprice")).over(wo), 2).cast("double").alias("rolling_revenue"),
    )


# ---------------------------------------------------------------------------
# P7 — membership + complement in one result: LEFT SEMI ∪ LEFT ANTI,
# tagged. Merges semi_join_customers_with_orders +
# anti_join_customers_without_orders.
# ---------------------------------------------------------------------------


@register(
    "semi_anti_customers",
    """
    SELECT 'with_orders' AS rel, c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS rel, c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    keys = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_o = rel.semi_join(cust, keys, on="c_custkey", broadcast_right=False).withColumn(
        "rel", F.lit("with_orders")
    )
    without_o = rel.anti_join(cust, keys, on="c_custkey", broadcast_right=False).withColumn(
        "rel", F.lit("without_orders")
    )
    return rel.union_all([with_o, without_o]).select("rel", "c_custkey", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# Set ops + A7 distinct in one result: INTERSECT ∪ EXCEPT over
# distinct-projected (distinct_values operator) year slices, tagged.
# Merges intersect_custkeys + except_custkeys + distinct_part_brand_type's
# operator coverage.
# ---------------------------------------------------------------------------


@register(
    "setops_custkeys",
    """
    SELECT 'both' AS op, o_custkey FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    )
    UNION ALL
    SELECT 'only_1995' AS op, o_custkey FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    )
    """,
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y95 = distinct_values(orders.filter(F.year("o_orderdate") == 1995), ["o_custkey"])
    y96 = distinct_values(orders.filter(F.year("o_orderdate") == 1996), ["o_custkey"])
    both = y95.intersect(y96).withColumn("op", F.lit("both"))
    only95 = y95.exceptAll(y96).withColumn("op", F.lit("only_1995"))
    return rel.union_all([both, only95]).select("op", "o_custkey")


# ---------------------------------------------------------------------------
# Row-level scalar-function surface over events in ONE scan: composite
# key (F5/D3), numeric coercion + JSON extraction (F6), timestamp
# format/parse roundtrip (F1), lag-minutes (F2/D2 via window), all on
# positionally-renamed columns (P3, rename_all). Merges
# composite_key_events + numeric_coerce + timestamp_parse_roundtrip +
# event_lag_minutes (+ json_extract_props' row-level path).
# ---------------------------------------------------------------------------


@register(
    "events_enrich",
    """
    WITH x AS (
      SELECT event_id, user_id, event_type, ts, props,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
      FROM events
    )
    SELECT event_id,
           CAST(user_id AS VARCHAR) || ', ' || CAST(event_id AS VARCHAR) AS enum_ind,
           TRY_CAST(event_type AS DOUBLE) AS et_num,
           TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_num,
           CAST(CASE WHEN strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
                                   '%Y-%m-%dT%H:%M:%S.%f') = ts
                     THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok,
           CAST(((date_diff('microsecond', prev_ts, ts) + 300000) // 600000) / 100.0
                AS DOUBLE) AS minutes_since_prev
    FROM x
    """,
)
def q_events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts", "props")
    # P3: positional bulk rename (the reference's rename-everything
    # step, app.py:434-461) — downstream expressions use the new names.
    ev = rel.rename_all(ev, ["eid", "uid", "etype", "ets", "eprops"])
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    parsed = F.to_timestamp_ntz(F.date_format("ets", fmt), F.lit(fmt))
    w = Window.partitionBy("uid").orderBy(F.asc("ets"), F.asc("eid"))
    return ev.withColumn("prev_ts", F.lag("ets").over(w)).select(
        F.col("eid").alias("event_id"),
        composite_key("uid", "eid").alias("enum_ind"),
        to_numeric("etype").alias("et_num"),
        to_numeric(F.get_json_object("eprops", "$.k")).alias("k_num"),
        F.when(parsed == F.col("ets"), 1).otherwise(0).cast("long").alias("roundtrip_ok"),
        minutes_between("ets", "prev_ts").alias("minutes_since_prev"),
    )


# ---------------------------------------------------------------------------
# Text analysis in ONE scan: raw counts (tokens/chars/punct/stopwords)
# + derived quality score + language ID + the round-3 Gopher-style
# repetition/format metrics (duplicate-line fraction, mean word
# length, symbol ratio, bullet/ellipsis line fractions, alpha-word
# fraction, composite gopher_ok flag). Line metrics run on a
# deterministically RE-LINED copy (reline(), 5 tokens/line) because
# the synthetic corpus has no newlines — both engines apply the same
# relining, so the metrics are exercised, not degenerate. Merges
# text_stats + text_quality_lang; every expression is a CSE-friendly
# codegen chain (no higher-order functions — see operators/text.py);
# ratios are integer micro-ratios so the doubles are bit-identical.
# ---------------------------------------------------------------------------

_RELINE_SQL = r"regexp_replace(text, '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g')"
_MICRO_SQL = "CASE WHEN ({den}) > 0 THEN (({num}) * 1000000) // ({den}) ELSE 0 END"


def _micro_sql(num: str, den: str) -> str:
    return _MICRO_SQL.format(num=num, den=den)


def _text_profile_oracle() -> str:
    dup = _micro_sql("len(lines) - len(list_distinct(lines))", "len(lines)")
    mwl = _micro_sql("n_nonws", "n_tokens")
    sym = _micro_sql("n_sym", "n_tokens")
    bullet = _micro_sql("n_bullet", "len(lines)")
    ellip = _micro_sql("n_ellip", "len(lines)")
    alpha = _micro_sql("n_alpha", "n_tokens")
    return f"""
    WITH b AS (
      SELECT doc_id, text, {_RELINE_SQL} AS rl FROM documents
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len({_D_TOKS_NOCASE}) END                        AS n_tokens,
             length(text)                                               AS n_chars_measured,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
                                                                        AS n_punct,
             len(list_filter({_D_TOKS}, t -> list_contains({_D_STOPWORDS}, t)))
                                                                        AS n_stopwords,
             str_split(rl, chr(10))                                     AS lines,
             length(regexp_replace(text, '\\s', '', 'g'))               AS n_nonws,
             len(regexp_extract_all(text, '#|\\.\\.\\.'))               AS n_sym,
             len(list_filter({_D_TOKS}, t -> regexp_matches(t, '[a-z]')))
                                                                        AS n_alpha,
             len(regexp_extract_all(rl, '(?m)^[-*] '))                  AS n_bullet,
             len(regexp_extract_all(rl, '(?m)\\.\\.\\.$'))              AS n_ellip
      FROM b
    )
    SELECT doc_id, n_tokens, n_chars_measured, n_punct, n_stopwords,
           CAST(( (least(n_tokens, 64) * 4000) // 64
                + (CASE WHEN n_chars_measured > 0
                        THEN ((n_chars_measured - n_punct) * 3000) // n_chars_measured
                        ELSE 3000 END)
                + (CASE WHEN n_tokens > 0
                        THEN least(3000, (n_stopwords * 15000) // n_tokens)
                        ELSE 0 END)
                ) / 10000.0 AS DOUBLE)                                  AS quality,
           CASE WHEN (CASE WHEN n_tokens > 0
                           THEN n_stopwords / CAST(n_tokens AS DOUBLE)
                           ELSE 0.0 END) >= 0.05
                THEN 'en' ELSE 'und' END                                AS lang_guess,
           CAST(len(lines) AS BIGINT)                                   AS n_lines,
           CAST(({dup}) / 1000000.0 AS DOUBLE)                          AS dup_line_frac,
           CAST(({mwl}) / 1000000.0 AS DOUBLE)                          AS mean_word_len,
           CAST(({sym}) / 1000000.0 AS DOUBLE)                          AS symbol_ratio,
           CAST(({bullet}) / 1000000.0 AS DOUBLE)                       AS bullet_line_frac,
           CAST(({ellip}) / 1000000.0 AS DOUBLE)                        AS ellipsis_line_frac,
           CAST(({alpha}) / 1000000.0 AS DOUBLE)                        AS alpha_word_frac,
           CAST(CASE WHEN n_tokens BETWEEN 50 AND 100000
                      AND ({mwl}) BETWEEN 3000000 AND 10000000
                      AND ({sym}) <= 100000
                      AND ({dup}) <= 300000
                      AND ({bullet}) <= 900000
                      AND ({ellip}) <= 300000
                      AND ({alpha}) >= 800000
                THEN 1 ELSE 0 END AS BIGINT)                            AS gopher_ok
    FROM s
    """


@register("text_profile_docs", _text_profile_oracle())
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    relined = tx.reline("text", tokens_per_line=5)
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        tx.punct_count("text").cast("long").alias("n_punct"),
        tx.stopword_count("text").cast("long").alias("n_stopwords"),
        tx.quality_score("text").alias("quality"),
        tx.lang_id("text").alias("lang_guess"),
        tx.line_count(relined).cast("long").alias("n_lines"),
        tx.dup_line_fraction(relined).alias("dup_line_frac"),
        tx.mean_word_length("text").alias("mean_word_len"),
        tx.symbol_word_ratio("text").alias("symbol_ratio"),
        tx.bullet_line_fraction(relined).alias("bullet_line_frac"),
        tx.ellipsis_line_fraction(relined).alias("ellipsis_line_frac"),
        tx.alpha_word_fraction("text").alias("alpha_word_frac"),
        tx.gopher_pass(relined).alias("gopher_ok"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling + split composed: stratified language
# rebalance, then train/val/test hash split of the survivors, reported
# per (lang, split). Merges stratified_sample_docs + hash_split_stats.
# ---------------------------------------------------------------------------

_SS_RATES = {"en": 0.25, "zh": 1.0, "es": 0.5, "de": 0.5, "fr": 0.5}
_SS_SEED = 7
_SS_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SS_SPLIT_SEED = 3


def _sample_split_oracle() -> str:
    h = sp.duckdb_key_sql(["doc_id"], _SS_SEED)
    whens = " ".join(
        f"WHEN '{v}' THEN {sp._threshold(r)}" for v, r in _SS_RATES.items()
    )
    case = sp.duckdb_split_case_sql(["doc_id"], _SS_WEIGHTS, seed=_SS_SPLIT_SEED)
    return f"""
    WITH s AS (
      SELECT doc_id, lang, n_chars FROM documents
      WHERE {h} < CASE lang {whens} ELSE 0 END
    )
    SELECT lang, {case} AS split,
           COUNT(*)             AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars
    FROM s GROUP BY 1, 2
    """


@register("sample_split_docs", _sample_split_oracle())
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sampled = sp.stratified_hash_sample(
        docs, "lang", _SS_RATES, key_cols=["doc_id"], seed=_SS_SEED
    )
    tagged = sp.hash_split(sampled, key_cols=["doc_id"], splits=_SS_WEIGHTS, seed=_SS_SPLIT_SEED)
    return tagged.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# The scale spelling of Jaccard near-dup (VERDICT r2 #4): LSH proposes
# candidate pairs (banded equi-join, never all-pairs), exact token-set
# Jaccard verifies ONLY those pairs (dedup.jaccard_on_pairs) — the
# composition that replaces the quadratic tier on a corpus.
# ---------------------------------------------------------------------------


@register(
    "jaccard_within_lsh_buckets",
    f"""
    WITH sigs AS ({_duckdb_minhash_cte()}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE (a.sig_0 = b.sig_0 AND a.sig_1 = b.sig_1)
         OR (a.sig_2 = b.sig_2 AND a.sig_3 = b.sig_3)
    ),
    t AS (SELECT doc_id, list_distinct({_D_TOKS}) AS toks FROM documents)
    SELECT p.id_a, p.id_b,
           ROUND(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                 / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) AS jaccard
    FROM pairs p
    JOIN t ta ON ta.doc_id = p.id_a
    JOIN t tb ON tb.doc_id = p.id_b
    WHERE ROUND(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) >= 0.5
    """,
)
def q_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=4, shingle_n=3)
    cands = dd.lsh_candidate_pairs(sigs, num_hashes=4, band_size=2)
    return dd.jaccard_on_pairs(cands, docs, threshold=0.5)


# ---------------------------------------------------------------------------
# REAL image decode (VERDICT r2 #3): genuine PNG payloads synthesized
# per doc, decoded by an actual codec (the built-in pure-Python PNG
# parser — CRC-validated chunk walk + inflate + filter
# reconstruction). The oracle predicts the geometry the
# decoder must RECOVER from the bytes.
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_real",
    """
    SELECT 'png' AS seg, * FROM (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS width,
             CAST(octet_length(encode(text)) % 12 + 1 AS INT) AS height,
             'L'           AS "mode",
             'png-decoded' AS status
      FROM documents
    )
    UNION ALL BY NAME
    SELECT 'jpeg' AS seg, * FROM (
      -- Flat-block JPEG fixture replay: block (x//8, y//8) carries
      -- byte[((y//8)*bw + x//8) mod n] (128 for empty text); the REAL
      -- baseline decoder (Huffman + dequant + IDCT) reconstructs those
      -- values integer-exactly, so checksums over the w x h crop are
      -- predictable from the text alone. px_wsum pins pixel ORDER.
      WITH g AS (
        SELECT doc_id, length(text) AS nb,
               length(text) % 16 + 1 AS w,
               length(text) % 12 + 1 AS h,
               (length(text) % 16 + 1 + 7) // 8 AS bw
        FROM documents
      ), px AS (
        SELECT g.doc_id, g.w, g.h,
               y.y * g.w + x.x + 1 AS li,
               CASE WHEN g.nb = 0 THEN 128
                    ELSE ord(substr(d.text,
                                    CAST(((y.y // 8) * g.bw + (x.x // 8)) % g.nb
                                         AS INT) + 1, 1)) END AS pv
        FROM g JOIN documents d USING (doc_id),
             unnest(generate_series(0, g.h - 1)) AS y(y),
             unnest(generate_series(0, g.w - 1)) AS x(x)
      )
      SELECT doc_id,
             CAST(MAX(w) AS INT) AS width,
             CAST(MAX(h) AS INT) AS height,
             'L'            AS "mode",
             'jpeg-decoded' AS status,
             CAST(COUNT(*) AS BIGINT) AS px_count,
             CAST(SUM(pv) AS BIGINT)  AS px_sum,
             CAST(SUM(li * pv) AS BIGINT) AS px_wsum
      FROM px GROUP BY doc_id
    )
    UNION ALL BY NAME
    SELECT 'video' AS seg, * FROM (
      -- REAL ISO-BMFF demux (round 5): tkhd geometry, mdhd duration,
      -- stts/stsc/stsz/stco-resolved frame bytes checksummed. The
      -- fixture varies chunking and stco/co64 per doc; the parser must
      -- recover these values from the container alone.
      WITH vg AS (
        SELECT doc_id, length(text) AS nb, length(text) % 7 + 1 AS nf
        FROM documents
      ), vfr AS (
        SELECT vg.doc_id, vg.nb, i.i,
               (vg.nb + i.i) % 9 + 1 AS fsize,
               ((vg.nb + i.i) % 3 + 1) * 40 AS dur
        FROM vg, unnest(generate_series(0, vg.nf - 1)) AS i(i)
      ), vfb AS (
        SELECT f.doc_id, f.i, k.k,
               CASE WHEN f.nb = 0 THEN 77
                    ELSE ord(substr(d.text,
                                    CAST((f.i * 3 + k.k) % f.nb AS INT) + 1, 1))
               END AS bv
        FROM vfr f JOIN documents d USING (doc_id),
             unnest(generate_series(0, f.fsize - 1)) AS k(k)
      ), vsum AS (
        SELECT doc_id,
               CAST(SUM(bv) AS BIGINT) AS fr_sum,
               CAST(SUM((k + 1) * bv) AS BIGINT) AS fr_wsum
        FROM vfb GROUP BY doc_id
      ), vdur AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_frames,
               CAST(SUM(dur) AS BIGINT) AS dur_ms
        FROM vfr GROUP BY doc_id
      )
      SELECT vg.doc_id,
             CAST(vg.nb % 16 + 1 AS INT) AS width,
             CAST(vg.nb % 12 + 1 AS INT) AS height,
             vdur.n_frames, vdur.dur_ms, vsum.fr_sum, vsum.fr_wsum,
             'mp4-decoded' AS status
      FROM vg JOIN vdur USING (doc_id) JOIN vsum USING (doc_id)
    )
    UNION ALL BY NAME
    SELECT 'wav' AS seg, * FROM (
      -- REAL RIFF/WAVE decode (round 5): PCM features recovered by the
      -- chunk-walking reader (rate from fmt, int16 samples from data).
      WITH wg AS (
        SELECT doc_id, length(text) AS nb,
               8000 * (length(text) % 3 + 1) AS rate,
               length(text) % 50 + 4 AS n
        FROM documents
      ), wsm AS (
        SELECT wg.doc_id, wg.rate, wg.n, k.k,
               CASE WHEN wg.nb = 0 THEN 42 * 256
                    ELSE (ord(substr(d.text, CAST(k.k % wg.nb AS INT) + 1, 1))
                          - 128) * 256
               END AS s
        FROM wg JOIN documents d USING (doc_id),
             unnest(generate_series(0, wg.n - 1)) AS k(k)
      ), wzx AS (
        SELECT doc_id, rate, n, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY k) AS prev
        FROM wsm
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
      FROM wzx GROUP BY doc_id
    )
    """,
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 6: ALL FOUR real-codec segs (PNG parse, baseline-JPEG
    # Huffman/IDCT, ISO-BMFF demux, RIFF/WAVE PCM) in ONE Arrow
    # crossing — the 4-way unionByName spelling paid four ~0.2 s
    # crossings over the same documents scan, dwarfing the
    # now-vectorized kernels. Row-identical to the composed union
    # (tests/test_curation_ops.py::test_fused_media_matches_union) and
    # to each granular seg operator (test_fused_spellings_match_
    # composed), all of which stay registered for standalone use.
    docs = _t(spark, sf_dir, "documents")
    par = min(16, spark.sparkContext.defaultParallelism)
    return mm.synth_decode_media(docs, parallelism=par)


# ---------------------------------------------------------------------------
# Multimodal geometry suite (round 4): resize planning × frame
# sampling in ONE gated slot — per (doc, frame) row carrying the
# source/output geometry next to the sampled frame timeline. Merges
# the formerly separate multimodal_resize_stub + multimodal_frame_sample
# gates (both stay registered granularly at the registry tail).
# ---------------------------------------------------------------------------


@register(
    "multimodal_geometry_suite",
    """
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) % 640 + 1 AS w,
             octet_length(encode(text)) % 480 + 1 AS h,
             LEAST(12, octet_length(encode(text)) // 250 + 1) AS n
      FROM documents
    ), f AS (
      SELECT doc_id, w, h, unnest(range(n)) AS idx FROM m
    ),
    -- REAL pixel-resample branch: the Spark side decodes the actual
    -- PNG (attach_png_payload) and nearest-neighbor-resamples real
    -- pixels; the fixture's pixels cycle the (all-ASCII) text bytes,
    -- so the oracle replays the SAME integer index arithmetic
    -- (sy = (2j+1)*ph // (2*oh)) straight off the text and must land
    -- on identical checksums. px_wsum pins pixel ORDER.
    rg AS (
      SELECT doc_id, length(text) AS nb,
             length(text) % 16 + 1 AS pw,
             length(text) % 12 + 1 AS ph
      FROM documents
    ), geo AS (
      SELECT doc_id, nb, pw, ph,
             CAST(GREATEST(1, FLOOR(pw * LEAST(1.0, 8.0 / pw, 8.0 / ph)))
                  AS BIGINT) AS ow,
             CAST(GREATEST(1, FLOOR(ph * LEAST(1.0, 8.0 / pw, 8.0 / ph)))
                  AS BIGINT) AS oh
      FROM rg
    ), grid AS (
      SELECT g.doc_id, g.nb, g.pw, g.ow, g.oh,
             j.j * g.ow + i.i AS li,
             ((2 * j.j + 1) * g.ph) // (2 * g.oh) AS sy,
             ((2 * i.i + 1) * g.pw) // (2 * g.ow) AS sx
      FROM geo g,
           unnest(generate_series(0, g.oh - 1)) AS j(j),
           unnest(generate_series(0, g.ow - 1)) AS i(i)
    ), pxv AS (
      SELECT grid.doc_id, grid.ow, grid.oh, grid.li,
             CASE WHEN grid.nb = 0 THEN 0
                  ELSE ord(substr(d.text,
                                  CAST((grid.sy * grid.pw + grid.sx) % grid.nb
                                       AS INT) + 1, 1)) END AS pv
      FROM grid JOIN documents d USING (doc_id)
    ), rs AS (
      SELECT doc_id,
             CAST(MAX(ow) AS INT) AS rs_out_w,
             CAST(MAX(oh) AS INT) AS rs_out_h,
             CAST(COUNT(*) AS BIGINT) AS px_count,
             CAST(SUM(pv) AS BIGINT) AS px_sum,
             CAST(SUM((li + 1) * pv) AS BIGINT) AS px_wsum
      FROM pxv GROUP BY doc_id
    )
    SELECT f.doc_id,
           CAST(f.w AS INT) AS src_width,
           CAST(f.h AS INT) AS src_height,
           CAST(GREATEST(1, FLOOR(f.w * LEAST(1.0, 224.0 / f.w, 224.0 / f.h)))
                AS INT) AS out_width,
           CAST(GREATEST(1, FLOOR(f.h * LEAST(1.0, 224.0 / f.w, 224.0 / f.h)))
                AS INT) AS out_height,
           CAST(f.idx AS INT) AS frame_idx,
           CAST(f.idx * 250 AS INT) AS frame_ts_ms,
           rs.rs_out_w, rs.rs_out_h, rs.px_count, rs.px_sum, rs.px_wsum
    FROM f JOIN rs ON f.doc_id = rs.doc_id
    """,
)
def q_multimodal_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 5: the whole suite is ONE Arrow crossing
    # (mm.multimodal_pipeline) — stub geometry × frame fanout ×
    # real-pixel resample checksums emitted pre-joined. Row-identical
    # to the composed spelling resize_metadata ⋈ frame_sample ⋈ the
    # resample kernel (test-pinned); each extra Python stage costs a fixed runner
    # handshake (~0.2 s at local[32]), which dominated this gate's r4
    # wall-clock, so the gate uses the fused form.
    docs = _t(spark, sf_dir, "documents")
    return mm.multimodal_pipeline(
        docs,
        max_w=224,
        max_h=224,
        px_max_w=8,
        px_max_h=8,
        method="nearest",
        parallelism=min(16, spark.sparkContext.defaultParallelism),
    )


# ---------------------------------------------------------------------------
# Curation suite (round 4): the four round-3 curation operators in ONE
# gated slot — per doc: Gopher top-2-gram repetition signal, PII
# detector counts + redacted length (on the deterministic synthetic
# PII text), winnowing fingerprint count/checksum, and the mixture
# copy count. Granular spellings stay tail-registered
# (queries_curation.py) and locally oracle-gated.
#
# Scale shape: topgram and winnow each shuffle on doc_id; the final
# 3-way join is co-partitioned on the same key, and the PII/mixture
# columns are map-side codegen on the probe side — one key, three
# aligned exchanges, no payload amplification.
# ---------------------------------------------------------------------------

_CUR_MIX = {"en": 0.3, "zh": 2.5, "es": 1.0, "de": 1.5, "fr": 0.0}
_CUR_SEED = 11


def _curation_suite_oracle() -> str:
    from .functions.hashing import duckdb_hash56_sql
    from .queries_curation import PII_SYNTH_SQL

    winnow_hash = duckdb_hash56_sql("substr(t, CAST(pos AS INT), 8)")
    copies = sp.duckdb_upsample_sql(
        "lang", _CUR_MIX, key_cols=["doc_id"], seed=_CUR_SEED, default_multiplier=1.0
    )
    micro = _micro_sql("gram_count * length(gram)", "n_chars")
    email, ip, phone = tx.PII_EMAIL, tx.PII_IPV4, tx.PII_PHONE
    return f"""
    WITH toks AS (
      SELECT doc_id, length(text) AS n_chars, {_D_TOKS} AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, n_chars,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS gram
      FROM toks WHERE len(tk) >= 2
    ),
    gc AS (
      SELECT doc_id, n_chars, gram, COUNT(*) AS gram_count
      FROM grams GROUP BY 1, 2, 3
    ),
    topg AS (
      SELECT doc_id, gram, gram_count, n_chars,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY gram_count DESC, gram ASC) AS rn
      FROM gc
    ),
    wn AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ),
    wp AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(length(t) - 7, 1))) AS pos
      FROM wn
    ),
    wh AS (
      SELECT doc_id, pos, ({winnow_hash}) % 4294967296 AS hv FROM wp
    ),
    wm AS (
      SELECT doc_id,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM wh
    ),
    wd AS (SELECT DISTINCT doc_id, fp FROM wm),
    wagg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
             CAST(SUM(fp) AS BIGINT) AS fp_sum
      FROM wd GROUP BY doc_id
    ),
    pii AS (
      SELECT doc_id, {PII_SYNTH_SQL} AS t, lang FROM documents
    ),
    base AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '{email}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t, '{ip}'))    AS BIGINT) AS n_ips,
             CAST(len(regexp_extract_all(t, '{phone}')) AS BIGINT) AS n_phones,
             CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
                 '{email}', '<EMAIL>', 'g'),
                 '{ip}', '<IP>', 'g'),
                 '{phone}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,
             CAST({copies} AS BIGINT) AS mix_copies
      FROM pii
    )
    SELECT b.doc_id,
           COALESCE(tg.gram, '') AS top_gram,
           CAST(COALESCE(tg.gram_count, 0) AS BIGINT) AS gram_count,
           CAST(COALESCE(({micro}) / 1000000.0, 0.0) AS DOUBLE)
             AS top_gram_char_frac,
           b.n_emails, b.n_ips, b.n_phones, b.redacted_len,
           w.n_fps, w.fp_sum, b.mix_copies
    FROM base b
    LEFT JOIN (SELECT * FROM topg WHERE rn = 1) tg ON tg.doc_id = b.doc_id
    JOIN wagg w ON w.doc_id = b.doc_id
    """


@register("curation_suite", _curation_suite_oracle())
def q_curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_curation import pii_synth_col

    docs = _t(spark, sf_dir, "documents")
    topg = tx.top_ngram_stats(docs, text_col="text", id_col="doc_id", n=2)
    wagg = (
        dd.winnow_fingerprints(docs, text_col="text", id_col="doc_id", k=8, window=4)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fps"), F.sum("fp").alias("fp_sum"))
    )
    synth = pii_synth_col()
    counts = tx.pii_counts(synth)
    base = docs.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
        F.length(tx.redact_pii(synth)).cast("long").alias("redacted_len"),
        sp.upsample_copies(
            "lang", _CUR_MIX, key_cols=["doc_id"], seed=_CUR_SEED,
            default_multiplier=1.0,
        ).cast("long").alias("mix_copies"),
    )
    return (
        base.join(
            topg.select(
                "doc_id",
                F.col("top_gram"),
                F.col("gram_count"),
                F.col("top_gram_char_frac"),
            ),
            "doc_id",
            "left",
        )
        .join(wagg, "doc_id")
        .select(
            "doc_id",
            F.coalesce("top_gram", F.lit("")).alias("top_gram"),
            F.coalesce("gram_count", F.lit(0)).cast("long").alias("gram_count"),
            F.coalesce("top_gram_char_frac", F.lit(0.0)).alias("top_gram_char_frac"),
            "n_emails", "n_ips", "n_phones", "redacted_len",
            "n_fps", "fp_sum", "mix_copies",
        )
    )


# ---------------------------------------------------------------------------
# Set-operator surface in ONE gated slot (round 5): U1 ragged
# UNION ALL (monthly slices, tagged), INTERSECT and EXCEPT over
# distinct-projected year slices. Merges the former setops_custkeys +
# union_monthly_slices gates (both stay registered granularly) to free
# a 50-query-window slot for curation2_suite. Heterogeneous shapes are
# aligned on (part, k1, k2, qty): set-op rows carry NULL k2/qty, slice
# rows carry (orderkey, linenumber, quantity).
# ---------------------------------------------------------------------------


@register(
    "setops_union_suite",
    """
    SELECT 'both' AS part, o_custkey AS k1,
           CAST(NULL AS BIGINT) AS k2, CAST(NULL AS DOUBLE) AS qty
    FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    )
    UNION ALL
    SELECT 'only_1995' AS part, o_custkey AS k1,
           CAST(NULL AS BIGINT) AS k2, CAST(NULL AS DOUBLE) AS qty
    FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    )
    UNION ALL
    SELECT 'jan' AS part, l_orderkey AS k1,
           CAST(l_linenumber AS BIGINT) AS k2, l_quantity AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    UNION ALL
    SELECT 'feb' AS part, l_orderkey AS k1,
           CAST(l_linenumber AS BIGINT) AS k2, l_quantity AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-02-01' AND l_shipdate < TIMESTAMP '1996-03-01'
    """,
)
def q_setops_union_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y95 = distinct_values(orders.filter(F.year("o_orderdate") == 1995), ["o_custkey"])
    y96 = distinct_values(orders.filter(F.year("o_orderdate") == 1996), ["o_custkey"])
    both = y95.intersect(y96).withColumn("part", F.lit("both"))
    only95 = y95.exceptAll(y96).withColumn("part", F.lit("only_1995"))
    setop_rows = rel.union_all([both, only95]).select(
        "part",
        F.col("o_custkey").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.lit(None).cast("double").alias("qty"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    jan = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    ).withColumn("part", F.lit("jan"))
    feb = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-02-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    ).withColumn("part", F.lit("feb"))
    # U1: the ragged-union operator — slices unioned by NAME with the
    # k2/qty columns absent on the set-op side (allowMissingColumns).
    slice_rows = rel.union_all([jan, feb]).select(
        "part",
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").cast("long").alias("k2"),
        F.col("l_quantity").alias("qty"),
    )
    return setop_rows.unionByName(slice_rows)


# ---------------------------------------------------------------------------
# NULL-text robustness tier (round 5, VERDICT r4 #7): the r3 NULL
# contract fixes (coalesce-to-empty in paragraph dedup / bloom) were in
# place, but no gated fixture actually contained NULL text. The test
# parquet is read-only, so this suite augments `documents` with fixed
# synthetic rows — two NULL texts, an empty text, a whitespace-only
# text, a normal row — identically on both engines, then runs three
# operator families over the augmented corpus:
#   stats — NULL-propagating scalar profile (length / token count /
#           lang-id, which maps NULL to 'und' by contract / content
#           fingerprint);
#   exact — exact_dedup: NULL fingerprints group together (GROUP BY
#           treats NULLs equal on both engines), whitespace-only and
#           empty normalize to the same fingerprint;
#   para  — paragraph_dedup's coalesce-to-empty-doc contract (a NULL
#           document survives as one empty paragraph, never dropped).
# ---------------------------------------------------------------------------

_NULLTEXT_ROWS = [
    (9000000001, None),
    (9000000002, None),
    (9000000003, ""),
    (9000000004, "   "),
    (9000000005, "the and is to of the quick brown"),
]

_NULLTEXT_AUG_SQL = """SELECT doc_id, text FROM documents
UNION ALL
SELECT * FROM (VALUES
  (9000000001, CAST(NULL AS VARCHAR)),
  (9000000002, CAST(NULL AS VARCHAR)),
  (9000000003, ''),
  (9000000004, '   '),
  (9000000005, 'the and is to of the quick brown')) v(doc_id, text)"""


def _nulltext_oracle() -> str:
    stats = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len({_D_TOKS_NOCASE}) END AS BIGINT) AS n_tok,
           CASE WHEN (CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                      ELSE len({_D_TOKS_NOCASE}) END) > 0
                           THEN len(list_filter({_D_TOKS},
                                    t -> list_contains({_D_STOPWORDS}, t)))
                                / CAST(CASE WHEN trim(text) = '' THEN 0
                                            ELSE len({_D_TOKS_NOCASE}) END AS DOUBLE)
                           ELSE 0.0 END) >= 0.05
                THEN 'en' ELSE 'und' END AS lang_guess,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM ({_NULLTEXT_AUG_SQL}) aug
    """
    exact = f"""
    SELECT md5(lower(trim(text))) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM ({_NULLTEXT_AUG_SQL}) aug2
    GROUP BY 1
    """
    para = dd.duckdb_paragraph_dedup_sql(table=f"({_NULLTEXT_AUG_SQL}) aug3")
    return (
        f"SELECT 'stats' AS seg, * FROM ({stats})"
        "\nUNION ALL BY NAME\n"
        f"SELECT 'exact' AS seg, * FROM ({exact})"
        "\nUNION ALL BY NAME\n"
        f"SELECT 'para' AS seg, * FROM ({para})"
    )


@register("nulltext_robustness_suite", _nulltext_oracle())
def q_nulltext_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # VALUES LocalRelation, not createDataFrame: the RDD-backed union
    # member would re-run a tiny job per action (see
    # relational.bucketed_range_join for the measured tax).
    vals = ",".join(
        f"({i}L, {'CAST(NULL AS STRING)' if t is None else repr(t)})"
        for i, t in _NULLTEXT_ROWS
    )
    aug = docs.unionByName(
        spark.sql(f"SELECT col1 AS doc_id, col2 AS text FROM VALUES {vals}")
    )
    stats = aug.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        tx.token_count("text").cast("long").alias("n_tok"),
        tx.lang_id("text").alias("lang_guess"),
        tx.fingerprint("text").alias("fp"),
    )
    exact = dd.exact_dedup(aug).select(
        "fingerprint",
        F.col("keep_id").cast("long"),
        F.col("n_dups").cast("long"),
    )
    para = dd.paragraph_dedup(aug)
    out = stats.select(F.lit("stats").alias("seg"), "*")
    for seg, branch in (("exact", exact), ("para", para)):
        out = out.unionByName(
            branch.select(F.lit(seg).alias("seg"), "*"),
            allowMissingColumns=True,
        )
    return out
