"""Aggregations (SURVEY.md §2.4 A1–A8).

Exact global semantics everywhere: the reference's per-partition
``map_partitions(get_agg)`` shortcut (A2, app.py:590) — a partial
hash-agg with no final merge whose correctness leaned on a prior global
sort — is replaced by Spark's built-in partial/final HashAggregate pair.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalar import null_percent_exprs


def group_agg(
    df: DataFrame,
    keys: Sequence[str],
    count_distinct: Sequence[str] = (),
    avg: Sequence[str] = (),
    avg_scale: int | None = 4,
    extra: Mapping[str, Column] | None = None,
) -> DataFrame:
    """A1 — the reference's flagship 14-key aggregate (``get_agg``,
    app.py:520-585): groupBy with ``countDistinct`` + ``mean``.

    Semantics pinned by tests: NULL grouping keys form groups
    (pandas ``dropna=False`` ≡ Spark default); ``countDistinct``
    ignores NULL inputs (≡ pandas ``nunique``). Spark executes this as
    partial agg → shuffle on keys → final agg; at skew, AQE splits hot
    groups. Aggregate columns are aliased ``nunique_<c>`` / ``avg_<c>``.

    ``avg_scale`` defaults to 4: averages of 2-decimal inputs over small
    groups can sit exactly on a ``.xx5`` boundary at scale 2 (where
    engines' rounding of the double representation diverges) but can't
    at scale 4 — see functions/scalar.py:dec2 for the policy.
    """
    aggs: list[Column] = []
    for c in count_distinct:
        aggs.append(F.countDistinct(c).alias(f"nunique_{c}"))
    for c in avg:
        a = F.avg(c)
        if avg_scale is not None:
            a = F.round(a, avg_scale)
        aggs.append(a.alias(f"avg_{c}"))
    for name, col in (extra or {}).items():
        aggs.append(col.alias(name))
    if not aggs:
        raise ValueError("no aggregates requested")
    return df.groupBy(*keys).agg(*aggs)


def group_agg_single_distinct(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    avg: Sequence[str] = (),
    avg_scale: int | None = 4,
    int_sums: Mapping[str, Column] | None = None,
    finalize: Mapping[str, "object"] | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """A1 fast path — multi-agg with ONE countDistinct, hand-planned as
    two cascaded hash aggregates instead of Spark's Expand rewrite.

    Spark plans mixed distinct + non-distinct aggregates by duplicating
    every input row through an Expand (one copy per aggregate family)
    and shuffling the doubled stream twice. For the flagship A1 shape
    (``get_agg``, app.py:520-585: one ``nunique`` + several means) that
    Expand is pure overhead. This operator plans the same semantics
    directly:

      level 1: groupBy(keys..., distinct_col) → count + partial sums
      level 2: groupBy(keys...) → count-non-null(distinct_col) = the
               exact distinct count; combine sums → avgs and totals

    Each level is one partial/final HashAggregate pair, so shuffle
    volume is the level-1 group count (≤ input rows, no duplication).
    NOTE: for a SINGLE distinct aggregate, modern Spark already plans
    this exact two-level cascade (no Expand) — measured parity (~0.9 s
    either way on the 600k-row Q1 shape at sf0.1, where level-1
    cardinality is 438k/600k). The operator still pays off when (a)
    mixed distinct FAMILIES would trigger the Expand rewrite (2+
    distinct columns duplicate the whole row stream per family), or
    (b) you want explicit control of what rides level 1 (e.g. exact
    integer revenue partials). Semantics parity:
    NULL ``distinct_col`` values form a level-1 group but are excluded
    by ``F.count(distinct_col)`` (≡ ``countDistinct``); NULL grouping
    keys group as usual; avg = Σsum/Σcount reassociates the same
    (sum, count) accumulator Spark's Average uses.

    ``int_sums`` maps output name → per-row integer expression summed
    exactly at both levels (associative); ``finalize`` optionally maps
    the same name → callable applied to the combined sum (e.g. cents →
    rounded dollars). ``count_alias`` adds a COUNT(*) column.

    See :func:`group_agg_bitmap_fused` for the one-scan spelling over
    an integral ``distinct_col``.
    """
    int_sums = dict(int_sums or {})
    finalizers = dict(finalize or {})
    level1 = df.groupBy(*keys, distinct_col).agg(
        F.count(F.lit(1)).alias("__n"),
        # avg = Σsum / Σ(non-null count) — per-column counts, because
        # F.avg ignores NULL inputs in its denominator.
        *[F.sum(c).alias(f"__s_{c}") for c in avg],
        *[F.count(F.col(c)).alias(f"__cn_{c}") for c in avg],
        *[F.sum(e).alias(f"__x_{n}") for n, e in int_sums.items()],
    )
    aggs: list[Column] = [
        F.count(F.col(distinct_col)).alias(f"nunique_{distinct_col}")
    ]
    for c in avg:
        a = F.sum(f"__s_{c}") / F.sum(f"__cn_{c}")
        if avg_scale is not None:
            a = F.round(a, avg_scale)
        aggs.append(a.alias(f"avg_{c}"))
    for n in int_sums:
        s = F.sum(f"__x_{n}")
        fn = finalizers.get(n)
        aggs.append((fn(s) if fn is not None else s).alias(n))
    if count_alias:
        aggs.append(F.sum("__n").alias(count_alias))
    return level1.groupBy(*keys).agg(*aggs)


def group_agg_bitmap_fused(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    avg: Sequence[str] = (),
    avg_scale: int | None = 4,
    int_sums: Mapping[str, Column] | None = None,
    finalize: Mapping[str, "object"] | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """A1 fast path, FUSED spelling (r11, VERDICT r10 #4): ONE scan and
    ONE shuffle chain for the whole countDistinct + sums/avgs family —
    no second scan, no branch join. Requires an INTEGRAL
    ``distinct_col`` (raises otherwise).

    Shape: level 1 groups by (keys, id >> 6) carrying the 64-bit
    bitmap ``bit_or(1 << (id & 63))`` AND the decomposable sum/count
    payload; level 2 re-aggregates by keys, deriving the exact
    distinct count as ``Σ bit_count(mask)``. The map-side partial
    collapse happens at BUCKET granularity: for dense id spaces
    (surrogate keys) up to 64 ids fold into one 8-byte mask row
    before anything shuffles, so the payload rides ~rows/64 level-1
    rows instead of the cascade's ~|level-1| wide rows, and the scan
    happens once (measured 0.37 s fused vs 1.08 s cascade at sf0.1).

    Choose FUSED for dense integral ids (the TPC-H key shape: the
    bucket collapse is real). For sparse/hashed or non-integral ids
    use the cascade, :func:`group_agg_single_distinct`. Both are
    exact; both avoid Expand.

    NULL semantics match ``countDistinct``/``F.avg``/``COUNT(*)``
    exactly: NULL ids land in a per-key NULL bucket that contributes
    payload but no mask bits (its bit_count is coalesced to 0); NULL
    group keys form groups; ``avg`` of an all-NULL measure is NULL.

    Float-sum note: level-2 re-summation of level-1 partials
    reassociates doubles exactly like Spark's own partial/final
    HashAggregate pair (and like the cascade) — callers already must
    round/decimal-encode float aggregates for cross-engine parity.
    """
    if not isinstance(
        df.schema[distinct_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        raise ValueError(
            f"group_agg_bitmap_fused: {distinct_col!r} must be an "
            "integral column (use group_agg_single_distinct otherwise)"
        )
    int_sums = dict(int_sums or {})
    finalizers = dict(finalize or {})
    d = F.col(distinct_col)
    lvl1_cols = [
        F.when(d.isNotNull(), F.shiftright(d.cast("long"), 6)).alias("__bkt"),
        F.when(
            d.isNotNull(),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({distinct_col} & 63 AS INT))"
            ),
        ).alias("__one"),
        *[F.col(c) for c in avg],
        *[e.alias(f"__x_{n}") for n, e in int_sums.items()],
    ]
    lvl1 = (
        df.select(*keys, *lvl1_cols)
        .groupBy(*keys, "__bkt")
        .agg(
            F.expr("bit_or(__one)").alias("__mask"),
            *[F.sum(c).alias(f"__s_{c}") for c in avg],
            *[F.count(F.col(c)).alias(f"__cn_{c}") for c in avg],
            *[F.sum(f"__x_{n}").alias(f"__sx_{n}") for n in int_sums],
            F.count(F.lit(1)).alias("__n"),
        )
    )
    aggs: list[Column] = [
        F.sum(
            F.when(
                F.col("__bkt").isNotNull(), F.bit_count("__mask")
            ).otherwise(0)
        ).alias(f"nunique_{distinct_col}")
    ]
    for c in avg:
        a = F.sum(f"__s_{c}") / F.sum(f"__cn_{c}")
        if avg_scale is not None:
            a = F.round(a, avg_scale)
        aggs.append(a.alias(f"avg_{c}"))
    for n in int_sums:
        s = F.sum(f"__sx_{n}")
        fn = finalizers.get(n)
        aggs.append((fn(s) if fn is not None else s).alias(n))
    if count_alias:
        aggs.append(F.sum("__n").alias(count_alias))
    return lvl1.groupBy(*keys).agg(*aggs)


def value_counts(df: DataFrame, column: str, desc: bool = True) -> DataFrame:
    """A4 — frequency table (``get_value_counts_func``, app.py:254-269):
    count rows per distinct value, sorted by count. Ties broken by the
    value itself for determinism (the reference's pandas sort is
    unstable across partitions)."""
    counts = df.groupBy(column).agg(F.count(F.lit(1)).alias("count"))
    order = [F.desc("count") if desc else F.asc("count"), F.asc(column)]
    return counts.orderBy(*order)


def null_profile(df: DataFrame, columns: Sequence[str] | None = None, scale: int = 1) -> DataFrame:
    """A6 — column-wise null-percentage profile in ONE pass.

    The reference (``show_nan``, app.py:223-250) executed the whole
    task graph once per column per statistic (~40 redundant passes).
    Here every column's null-% is an aggregate expression in a single
    job — at 100 TB that's one scan instead of forty."""
    cols = list(columns) if columns is not None else df.columns
    return df.agg(*null_percent_exprs(cols, scale))


def pivot_count_distinct(
    df: DataFrame,
    index: Sequence[str],
    pivot_col: str,
    values_col: str,
    pivot_values: Sequence | None = None,
    null_filter_col: str | None = None,
) -> DataFrame:
    """A5 — the reference's manual pivot (``get_nan_pivot``,
    app.py:350-403): per-year filter → groupby → nunique → stack →
    reduce-left-join, collapsed into one native ``pivot``.

    Passing ``pivot_values`` explicitly skips the extra distinct-scan
    Spark otherwise runs to discover the pivot domain — at scale, always
    pass it. ``null_filter_col`` reproduces the reference's
    ``nancol IS NULL`` slice semantics."""
    if null_filter_col is not None:
        df = df.filter(F.col(null_filter_col).isNull())
    grouped = df.groupBy(*index)
    pivoted = (
        grouped.pivot(pivot_col, list(pivot_values))
        if pivot_values is not None
        else grouped.pivot(pivot_col)
    )
    return pivoted.agg(F.countDistinct(values_col))


def distinct_values(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """A7 — distinct over a projection (app.py:370, 600-616)."""
    return df.select(*columns).distinct()


def cube_from_partials(
    df: DataFrame,
    keys: Sequence[str],
    partials: Mapping[str, Column],
    reaggs: Mapping[str, Column],
    finalize: Mapping[str, Column] | None = None,
    finest_partitions: int | None = None,
) -> DataFrame:
    """CUBE over DECOMPOSABLE aggregates via partial re-aggregation —
    the scale spelling of ``df.cube(*keys).agg(...)``.

    Native ``CUBE(k1..kn)`` plans an Expand that materializes 2^n
    copies of EVERY input row before the partial aggregate, so the
    data-proportional term is 2^n × scan (SCALE.md measured the ratio
    for the 2-key orders cube RISING with data, the panel's one ⚠️).
    When every aggregate is re-aggregatable from group partials
    (count→sum, sum→sum, min→min, max→max — not avg/distinct
    directly), the cube decomposes: ONE plain groupBy over the data
    computes the finest tier (scan × 1), and every coarser grouping
    re-aggregates the FINEST RESULT — a few-hundred-row frame — so
    the extra 2^n - 1 tiers cost kilobytes, fixed, data-free
    (measured at sf0.1: 0.57 s native → 0.39 s, slope = plain
    groupBy's). At the 100 TB design point this is the difference
    between scanning the table once and four times.

    ``partials`` aggregate the raw rows (keep sums UNROUNDED /
    decimal-typed here — re-aggregating finalized doubles would break
    bit-exactness); ``reaggs`` fold a tier from the finest columns;
    ``finalize`` (optional) maps the partial columns to the output
    ones (rounding, casts). Missing keys in coarser tiers are typed
    NULL literals, exactly CUBE's subtotal rows; rows whose key VALUE
    is NULL group under NULL in every tier, also CUBE's rule.

    ``finest_partitions`` (r14, guide §2.4): when the caller KNOWS the
    finest tier is small (the product of the key cardinalities — enum
    keys like status × priority bound it at dozens of rows),
    ``finest_partitions=1`` coalesces the finest aggregate so every
    coarser tier re-aggregates a single-partition child: a 1-partition
    input satisfies any clustering requirement, so EnsureRequirements
    inserts NO exchange per tier (measured on the 2-key orders cube:
    4 Exchange → 1, one post-shuffle stage wave instead of two, rows
    identical). Leave ``None`` for high-cardinality finest tiers —
    the per-tier exchanges there are real repartitions, not overhead."""
    keys = list(keys)
    key_types = dict(
        (f.name, f.dataType) for f in df.select(*keys).schema.fields
    )
    finest = df.groupBy(*keys).agg(
        *[c.alias(n) for n, c in partials.items()]
    )
    if finest_partitions is not None:
        finest = finest.coalesce(finest_partitions)
    part_names = list(partials)
    frames = [finest.select(*keys, *part_names)]
    # all proper subsets, by bitmask (2^n - 1 of them, n is small)
    for mask in range((1 << len(keys)) - 1):
        subset = [k for i, k in enumerate(keys) if mask >> i & 1]
        tier = finest.groupBy(*subset).agg(
            *[c.alias(n) for n, c in reaggs.items()]
        )
        sel = [
            F.col(k) if k in subset
            else F.lit(None).cast(key_types[k]).alias(k)
            for k in keys
        ]
        frames.append(tier.select(*sel, *part_names))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if finalize:
        out = out.select(
            *keys, *[c.alias(n) for n, c in finalize.items()]
        )
    return out


def grouping_sets_from_partials(
    df: DataFrame,
    keys: Sequence[str],
    sets: Sequence[Sequence[str]],
    partials: Mapping[str, Column],
    reaggs: Mapping[str, Column],
    finalize: Mapping[str, Column] | None = None,
    grouping_cols: Mapping[str, str] | None = None,
    finest_partitions: int | None = None,
) -> DataFrame:
    """Arbitrary ``GROUPING SETS`` over DECOMPOSABLE aggregates via
    partial re-aggregation — :func:`cube_from_partials` generalized
    from "all subsets" to an explicit set list (VERDICT r8 #3).

    Native ``GROUPING SETS`` plans an Expand that materializes one
    copy of EVERY input row per requested set before the partial
    aggregate, so the data-proportional term is ``len(sets) × scan``.
    Here ONE plain groupBy over ``keys`` (the union of all sets)
    computes the finest tier — scan × 1 — and each REQUESTED set
    re-aggregates that few-hundred-row result, so the extra tiers
    cost kilobytes, fixed, data-free. Same bit-exactness contract as
    the cube: keep ``partials`` unrounded/decimal until ``finalize``.

    ``grouping_cols`` optionally maps key → output column name for
    SQL's ``GROUPING(key)`` indicator (bigint 0/1): in the partials
    spelling each tier's indicators are compile-time literals — 0 when
    the key is in the tier's set, 1 when it's a subtotal NULL — which
    is exactly the semantics (a genuine NULL key value keeps
    indicator 0 in tiers that group by it). A set equal to ``keys``
    reuses the finest frame directly (no re-aggregation).

    ``finest_partitions`` — see :func:`cube_from_partials`: pass 1
    when the finest tier is provably small to plan every requested
    set's re-aggregation exchange-free off the one shared shuffle.
    """
    keys = list(keys)
    key_types = dict(
        (f.name, f.dataType) for f in df.select(*keys).schema.fields
    )
    if not sets:
        raise ValueError(
            "grouping_sets_from_partials requires at least one grouping "
            "set (pass [[]] for the grand-total-only tier)"
        )
    for s in sets:
        unknown = [k for k in s if k not in keys]
        if unknown:
            raise ValueError(
                f"grouping set {list(s)} uses non-key column(s) {unknown}"
            )
    finest = df.groupBy(*keys).agg(
        *[c.alias(n) for n, c in partials.items()]
    )
    if finest_partitions is not None:
        finest = finest.coalesce(finest_partitions)
    part_names = list(partials)
    gcols = dict(grouping_cols or {})
    frames = []
    for s in sets:
        subset = [k for k in keys if k in set(s)]  # canonical key order
        if len(subset) == len(keys):
            tier = finest
        else:
            tier = finest.groupBy(*subset).agg(
                *[c.alias(n) for n, c in reaggs.items()]
            )
        sel = [
            F.col(k) if k in subset
            else F.lit(None).cast(key_types[k]).alias(k)
            for k in keys
        ]
        sel += [
            F.lit(0 if k in subset else 1).cast("long").alias(n)
            for k, n in gcols.items()
        ]
        frames.append(tier.select(*sel, *part_names))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if finalize:
        out = out.select(
            *keys,
            *gcols.values(),
            *[c.alias(n) for n, c in finalize.items()],
        )
    return out


def percentiles_cents(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact grouped percentiles of a 2-decimal money column.

    Hash-portability design: the value is first converted to integer
    cents (exact in int64), and ``percentile`` interpolates between
    integers at quarter fractions — every result is a dyadic rational,
    exactly representable in a double, so any engine computing linear
    interpolation produces the identical bits. Dividing back to dollars
    would reintroduce non-representable doubles; outputs stay in cents
    (``p{q}_cents``).

    Exact percentile holds each group's values; for 100 TB use
    ``approx_profile`` (t-digest/GK sketch, bounded memory) instead.

    All quantiles go through ONE ``percentile(col, array(...))`` call:
    Spark's Percentile is a TypedImperativeAggregate whose buffer is a
    value→count map of the whole group, so N separate calls build (and
    ship through the shuffle) N identical maps. One array-typed call
    builds the map once and reads all fractions off it — measured ~25%
    faster at 3 quantiles, and the gap grows with len(quantiles).
    """
    # floor(x+0.5) == HALF_UP for non-negative money values, without
    # Round-on-double's per-row BigDecimal (see scalar.revenue_micros)
    cents = (F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    tagged = df.withColumn("__cents", cents)
    ps = F.percentile(
        "__cents", F.array(*[F.lit(q) for q in quantiles])
    ).alias("__ps")
    out = tagged.groupBy(*keys).agg(ps)
    return out.select(
        *keys,
        *[
            F.col("__ps")[i].alias(f"p{int(q * 100)}_cents")
            for i, q in enumerate(quantiles)
        ],
    )


def salted_count_distinct(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    salt_buckets: int = 16,
    out_col: str | None = None,
) -> DataFrame:
    """Skew-resistant EXACT count-distinct (SURVEY.md §7.2 M6).

    A hot grouping key (the reference's skewed ``event_number``
    frequencies are the A4 motivation) funnels its whole distinct-set
    through one reducer in the standard plan. Salting by
    ``hash(value) % b`` splits each group into b sub-groups that can be
    counted INDEPENDENTLY AND EXACTLY — a distinct value lands in
    exactly one salt bucket, so the per-bucket countDistincts sum to
    the true count (unlike row-random salting, which double-counts).
    Two shuffles, both skew-free; nulls are counted by neither phase,
    matching ``countDistinct``.

    Honest measurement note (r10): for countDistinct specifically,
    modern Spark's own distinct rewrite already shuffles phase 1 on
    (key, value) — itself skew-free — and phase 2 arrives map-side
    pre-counted, so the explicit salt buys nothing and costs one agg
    level (0.78 s vs 0.64 s native at sf0.1). The salting pattern
    EARNS its keep where the per-key reduction is NOT decomposable
    with map-side partials — collect_set/collect_list payloads, exact
    per-key medians, UDAF state — i.e. when a hot key's whole value
    set otherwise serializes through one reducer. This operator stays
    as the pattern's exact-correctness reference (value-hash-gated
    against plain COUNT DISTINCT).
    """
    out = out_col or f"nunique_{distinct_col}"
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salt_buckets))
    per_bucket = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.countDistinct(distinct_col).alias("__partial"))
    )
    return per_bucket.groupBy(*keys).agg(
        F.sum("__partial").cast("long").alias(out)
    )


def approx_profile(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    quantile_col: str,
    quantiles: Sequence[float] = (0.5,),
    rsd: float = 0.05,
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based profile: HyperLogLog++ ``approx_count_distinct`` +
    GK ``percentile_approx`` — the constant-memory scale path the exact
    operators (A1 countDistinct, percentiles_cents) can't walk at
    100 TB. Engine-specific sketch results: rows-only driver check (no
    cross-engine oracle can hash-match an HLL estimate)."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(distinct_col, rsd).alias(f"approx_nunique_{distinct_col}"),
        *[
            F.percentile_approx(quantile_col, F.lit(q), F.lit(accuracy)).alias(
                f"approx_p{int(q * 100)}_{quantile_col}"
            )
            for q in quantiles
        ],
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters (round 5) — the FREQUENCY sketch tier
# next to approx_profile's cardinality (HLL) and quantile (GK) tiers.
# Unlike those, CMS is built from the repo's DETERMINISTIC md5 hash
# family, so the sketch — counters, estimates, and the top-k — is
# bit-identically re-derivable in DuckDB: a fully oracle-gated
# approximate operator (engine-native sketches can only ever get a
# rows-only check).
#
# Build: each value increments depth counters (row i, bucket
# H_i(v) mod width) — ONE map-side explode to (i, bucket) pairs and a
# map-combined groupBy; the whole sketch is depth·width rows, a
# BROADCAST no matter the corpus size. Estimate: min over the d
# probed counters (classic CMS guarantee: est ≥ true, over by at most
# εN with prob 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉).
#
# Batch heavy hitters enumerate candidates from the corpus's distinct
# values; at stream/100 TB scale where distinct() itself is the
# problem, candidates come from per-partition local top-k pre-pruning
# (TakeOrdered-style) probed against the same broadcast sketch — the
# sketch build is unchanged.
# ---------------------------------------------------------------------------


def cms_heavy_hitters(
    df: DataFrame,
    value: Column | str,
    width: int = 256,
    depth: int = 3,
    k: int = 20,
    seed: int = 7,
) -> DataFrame:
    """(value, est_count, rank 1..k): top-``k`` values by Count-Min
    estimated frequency (ties break on value asc). NULLs are not
    counted. See the section comment for guarantees and scale."""
    if width < 1 or depth < 1 or k < 1:
        raise ValueError(
            f"width/depth/k must be >= 1, got {width}/{depth}/{k}"
        )
    from ..functions.hashing import hash56

    v = (F.col(value) if isinstance(value, str) else value).alias("v")
    vals = df.select(v).filter(F.col("v").isNotNull())

    # ONE corpus-scaled pass: exact per-value counts (map-combined).
    # Everything downstream — sketch build, probes, top-k — runs on the
    # DISTINCT-value relation with the count as the increment weight
    # (identical counters to incrementing per occurrence, since bucket
    # assignment is a pure function of the value). A per-occurrence
    # grid explode + a separate distinct() was measured ~2× slower: it
    # pays the token stream twice and shuffles depth·N pairs instead
    # of depth·|vocab|.
    counts = vals.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # The counts relation feeds BOTH the counter build and the probe.
    # Catalyst's ReuseExchange does not unify the two subtrees (the
    # branches prune different columns below the broadcast), so without
    # help the corpus-scaled aggregation executes twice. persist() puts
    # an InMemoryRelation at the fork — the corpus pass runs ONCE
    # structurally, and what is cached is the vocab-sized (value,
    # count) table, not corpus rows (MEMORY_AND_DISK: spills, never
    # recomputes). Audited in tools/explain_audit.py via the
    # InMemoryTableScan pair. The pin is session-lifetime by design
    # (the registry builds one plan per session; callers looping over
    # MANY corpora in one session should unpersist between inputs) —
    # and what is pinned is the vocab-sized table, never corpus rows.
    counts = counts.persist()

    probes = [
        (i, (hash56(F.col("v"), seed=seed + i) % width).alias(f"__b{i}"))
        for i in range(depth)
    ]
    melted = counts.select(
        "v",
        "__n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), b.alias("b"))
                    for i, b in probes
                ]
            )
        ).alias("p"),
    ).select("v", "__n", F.col("p.i").alias("i"), F.col("p.b").alias("b"))
    counters = melted.groupBy("i", "b").agg(
        F.sum("__n").cast("long").alias("c")
    )

    # Probe with ONE broadcast join + min-agg: a join per depth row
    # would re-execute the counters subtree depth times (each filtered
    # broadcast is a distinct subtree — no reuse).
    est = (
        melted.join(F.broadcast(counters), ["i", "b"])
        .groupBy("v")
        .agg(F.min("c").alias("est_count"))
        .select(F.col("v").alias("value"), "est_count")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("est_count"), F.asc("value"))
    return (
        est.orderBy(F.desc("est_count"), F.asc("value"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


def duckdb_cms_sql(
    value_expr: str,
    source_sql: str,
    width: int = 256,
    depth: int = 3,
    k: int = 20,
    seed: int = 7,
) -> str:
    """DuckDB SQL computing exactly :func:`cms_heavy_hitters` over
    ``SELECT {value_expr} AS v FROM ({source_sql})``."""
    from ..functions.hashing import duckdb_hash56_sql

    hashes = [duckdb_hash56_sql("v", seed=seed + i) for i in range(depth)]
    grid = "\nUNION ALL\n".join(
        f"SELECT {i} AS i, ({hashes[i]}) % {width} AS b FROM vals"
        for i in range(depth)
    )
    probe_cols = ", ".join(
        f"({hashes[i]}) % {width} AS b{i}" for i in range(depth)
    )
    joins = "\n".join(
        f"JOIN counters c{i} ON c{i}.i = {i} AND c{i}.b = cand.b{i}"
        for i in range(depth)
    )
    least = "LEAST(" + ", ".join(f"c{i}.c" for i in range(depth)) + ")"
    return f"""
    WITH vals AS (
      SELECT {value_expr} AS v FROM ({source_sql}) WHERE {value_expr} IS NOT NULL
    ), grid AS (
      {grid}
    ), counters AS (
      SELECT i, b, COUNT(*)::BIGINT AS c FROM grid GROUP BY 1, 2
    ), cand AS (
      SELECT v, {probe_cols} FROM (SELECT DISTINCT v FROM vals)
    ), est AS (
      SELECT cand.v AS value, {least} AS est_count
      FROM cand
      {joins}
    )
    SELECT value, est_count,
           row_number() OVER (ORDER BY est_count DESC, value ASC)::BIGINT AS rank
    FROM est ORDER BY est_count DESC, value ASC LIMIT {k}
    """
