"""Incremental view maintenance (r10) — keep aggregate VIEWS current
from a row-level CHANGE FEED instead of recomputing them from the
table: the Delta-Live-Tables / materialized-view refresh shape, built
on the engine's own CDC reader (sources/txtable.py:change_feed,
sources/txstream.py CDC).

Why this is the 100 TB answer: a nightly GROUP BY over a 100 TB fact
table costs a full scan per refresh; folding the feed costs
O(changed rows) — the view's state is a tiny keyed relation and every
refresh is one map-side delta aggregate + one co-partitioned merge.

Algebra (classic IVM over the multiset semiring): every change row
carries a WEIGHT — +1 for ``insert``/``update_postimage``, −1 for
``delete``/``update_preimage`` — and a decomposable aggregate is
maintained by summing weighted contributions:

    count   : Σ w
    sum(c)  : Σ w·c          (NULL c contributes nothing, like SUM)
    count(c): Σ w·[c IS NOT NULL]
    avg(c)  : sum(c) / count(c)   — derived at finalize, never stored
    countDistinct(c): maintain the VALUE-level state (keys+c, Σw) and
        count its live rows at finalize — exactly maintainable, the
        two-level trick MIN/MAX lacks.

MIN/MAX are not maintainable from the ADDITIVE state alone (deleting
the current max requires knowing the runner-up), which is exactly why
:func:`finalize_state` does not offer them — but the VALUE-LEVEL
state used for countDistinct IS the auxiliary store the textbook
asks for, so :func:`finalize_minmax` derives exact MIN/MAX from live
value multiplicities at read time.

Exactness: weights and counts are exact integers; measures should be
integer/decimal-encoded (e.g. cents — functions/scalar.py's money
doctrine) for bit-exact parity with a from-scratch recompute. Float
measures maintain correctly up to summation reassociation (documented
ulp caveat).

State relations are plain DataFrames (storable in a TxTable), so the
refresh loop is: read feed slice → :func:`delta_state` →
:func:`merge_states` with the stored state → write back. All three
are one shuffle each on the view keys at any scale.
:func:`refresh_view` packages the loop crash-safe and exactly-once:
the view lives in its own TxTable and every refresh commit carries
the folded SOURCE VERSION as a transactional watermark.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHANGE_TYPE_COL = "_change_type"
_ADD_TYPES = ("insert", "update_postimage")
_DEL_TYPES = ("delete", "update_preimage")


def _weight() -> Column:
    return (
        F.when(F.col(CHANGE_TYPE_COL).isin(*_ADD_TYPES), F.lit(1))
        .when(F.col(CHANGE_TYPE_COL).isin(*_DEL_TYPES), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ivm: unknown _change_type "),
                    F.col(CHANGE_TYPE_COL),
                )
            ).cast("int")
        )
        .cast("long")
    )


def _state_aggs(sums: Sequence[str]) -> list[Column]:
    aggs = [F.sum("__ivm_w").alias("__w")]
    for c in sums:
        aggs.append(
            F.sum(F.col("__ivm_w") * F.col(c)).alias(f"__s_{c}")
        )
        aggs.append(
            F.sum(
                F.when(F.col(c).isNotNull(), F.col("__ivm_w")).otherwise(0)
            ).alias(f"__c_{c}")
        )
    return aggs


def state_of(
    df: DataFrame, keys: Sequence[str], sums: Sequence[str] = ()
) -> DataFrame:
    """Base state from a SNAPSHOT (the one full scan a view ever
    needs): (keys..., __w count, __s_<c> sum, __c_<c> non-null count
    per measure). One partial/final hash aggregate."""
    return (
        df.withColumn("__ivm_w", F.lit(1).cast("long"))
        .groupBy(*keys)
        .agg(*_state_aggs(sums))
    )


def delta_state(
    changes: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Per-key DELTA state from a change-feed slice (rows carrying
    ``_change_type``). Same schema as :func:`state_of`; costs one
    aggregate over O(changed rows). An update arrives as its
    pre+post image pair, so an update that doesn't touch the view's
    columns cancels to zero and an update that moves a row between
    groups transfers its weight — no special-casing.

    ``weight_col`` (r11): fold rows that ALREADY carry an explicit
    multiset weight (e.g. the products :func:`join_delta` emits)
    instead of deriving ±1 from ``_change_type``."""
    w = F.col(weight_col).cast("long") if weight_col else _weight()
    return (
        changes.withColumn("__ivm_w", w)
        .groupBy(*keys)
        .agg(*_state_aggs(sums))
    )


def join_delta(
    a_old: DataFrame,
    a_changes: DataFrame,
    b_new: DataFrame,
    b_changes: DataFrame,
    on: Sequence[str] | str,
    weight_col: str = "__ivm_w",
) -> DataFrame:
    """Weighted delta of an inner JOIN view (r11): given each source's
    change-feed slice, emit the join rows that entered/left ``A ⋈ B``
    with multiset weights — feed straight to
    ``delta_state(..., weight_col=...)``.

    Algebra (join is bilinear over the multiset semiring, where a
    change row weighs ±1 and a base row weighs 1):

        Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB

    because ΔA ⋈ B_new = ΔA ⋈ (B_old + ΔB) = ΔA ⋈ B_old + ΔA ⋈ ΔB —
    the cross term lands exactly once. Weights multiply; here one
    side of each term is a base relation (weight 1), so the product
    is just the change row's ±1.

    Cost: two joins each sized O(|Δ| × matching partners) — the
    textbook IVM join cost; the base relations are only PROBED on
    the join key (columns pruned to the view's needs), never
    re-aggregated. Spark-first: deltas are usually the small side, so
    AQE broadcasts them and neither base relation shuffles.

    Requirements: ``on`` columns exist on both sides; non-key columns
    must be disjoint between A and B (standard join hygiene — rename
    first). Inner-join semantics: NULL join keys match nothing,
    exactly like the from-scratch recompute.
    """
    on = [on] if isinstance(on, str) else list(on)
    da = a_changes.withColumn(weight_col, _weight()).drop(CHANGE_TYPE_COL)
    db = b_changes.withColumn(weight_col, _weight()).drop(CHANGE_TYPE_COL)
    left = da.join(b_new, on)
    right = a_old.join(db, on)
    return left.unionByName(right.select(*left.columns))


def merge_states(
    base: DataFrame, delta: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a delta into a base state: co-partitioned union-aggregate
    on the view keys (NULL keys group, as everywhere in the engine);
    keys whose live count reaches zero leave the state. For a
    consistent feed a zero-count key has all-zero sums, so dropping
    the row loses nothing."""
    cols = [c for c in base.columns if c not in keys]
    if set(base.columns) != set(delta.columns):
        raise ValueError(
            f"state schemas differ: {sorted(base.columns)} vs "
            f"{sorted(delta.columns)}"
        )
    merged = (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in cols])
    )
    return merged.filter(F.col("__w") != 0)


def finalize_state(
    state: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    avgs: Sequence[str] = (),
    avg_scale: int | None = 4,
    count_alias: str = "n_rows",
) -> DataFrame:
    """Present a state as the view relation: (keys..., count,
    sum_<c>, avg_<c>). ``avgs`` must be a subset of ``sums`` (avg is
    derived Σ/​count at read time, never stored — the IVM invariant
    that keeps every stored column additive)."""
    bad = [c for c in avgs if c not in sums]
    if bad:
        raise ValueError(f"avgs {bad} not maintained in sums")
    out: list[Column] = [F.col(k) for k in keys]
    out.append(F.col("__w").alias(count_alias))
    for c in sums:
        # SUM over an all-NULL group is NULL (not 0) — the stored
        # additive state can't distinguish, the non-null count can
        out.append(
            F.when(F.col(f"__c_{c}") > 0, F.col(f"__s_{c}")).alias(
                f"sum_{c}"
            )
        )
    for c in avgs:
        # a live group whose measure is all-NULL has __c = 0: AVG is
        # NULL there (F.avg semantics), not a division error
        a = F.when(
            F.col(f"__c_{c}") > 0, F.col(f"__s_{c}") / F.col(f"__c_{c}")
        )
        if avg_scale is not None:
            a = F.round(a, avg_scale)
        out.append(a.alias(f"avg_{c}"))
    return state.select(*out)


def distinct_delta_state(
    changes: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Value-level delta for an exactly-maintained COUNT DISTINCT:
    state over (keys..., col) with live multiplicities. NULL values
    are excluded up front (countDistinct semantics)."""
    return delta_state(
        changes.filter(F.col(col).isNotNull()), [*keys, col], sums=()
    )


def distinct_state_of(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Value-level base state for COUNT DISTINCT maintenance."""
    return state_of(
        df.filter(F.col(col).isNotNull()), [*keys, col], sums=()
    )


def finalize_minmax(
    state: DataFrame,
    keys: Sequence[str],
    col: str,
    want_min: bool = True,
    want_max: bool = True,
) -> DataFrame:
    """Exact MIN/MAX view from a value-level state: min/max over the
    LIVE values (multiplicity > 0) per key — deleting the current
    extreme simply uncovers the runner-up, because the state retains
    every live value with its count. Same O(changed rows) refresh as
    the distinct count; the read is a second-level aggregate over the
    (small) per-key value sets."""
    if not (want_min or want_max):
        raise ValueError("finalize_minmax: request at least one of min/max")
    aggs = []
    if want_min:
        aggs.append(F.min(F.col(col)).alias(f"min_{col}"))
    if want_max:
        aggs.append(F.max(F.col(col)).alias(f"max_{col}"))
    # merge_states drops __w == 0, but a NEGATIVE multiplicity (an
    # inconsistent feed, or a delta folded twice outside refresh_view's
    # txn guard) would otherwise count as a live value — fail loudly
    # instead of silently resurrecting a deleted extreme (ADVICE r10).
    return _live_values(state).groupBy(*keys).agg(*aggs)


def _live_values(state: DataFrame) -> DataFrame:
    """Keep only LIVE rows (multiplicity > 0) and raise on a negative
    multiplicity: a consistent feed never produces one (every delete is
    preceded by its insert), so __w < 0 means the state was corrupted —
    an inconsistent feed or a delta folded twice outside
    :func:`refresh_view`'s transactional guard. Counting such a row as
    live would silently corrupt distinct/min/max views; erroring at
    read time surfaces the operational bug instead (ADVICE r10)."""
    w = F.col("__w")
    return state.filter(
        F.when(
            w < 0,
            F.raise_error(
                F.lit(
                    "ivm: negative multiplicity in value-level state — "
                    "feed is inconsistent or a delta was folded twice"
                )
            ).cast("boolean"),
        ).otherwise(w > 0)
    )


def finalize_distinct(
    state: DataFrame, keys: Sequence[str], col: str, alias: str | None = None
) -> DataFrame:
    """COUNT DISTINCT view from a value-level state: count the live
    (multiplicity > 0) values per key — merge_states already dropped
    zero-count ones; :func:`_live_values` guards against negatives."""
    return _live_values(state).groupBy(*keys).agg(
        F.count(F.col(col)).alias(alias or f"nunique_{col}")
    )


def _require_watermark_readable(source, wm: int, what: str) -> None:
    """Raise the retention error CONTRACT (the same clear shape the
    streaming reader gives at txstream.py:_commit_actions) when a
    refresh's watermark version has been expired by ``expire_log`` /
    ``vacuum`` — the fold time-travels to the watermark snapshot, so
    LOG RETENTION MUST OUTLAST REFRESH CADENCE. Without this guard the
    log layer surfaces whatever it throws (a bare ValueError /
    FileNotFoundError from snapshot reconstruction), which reads like
    corruption instead of an operational retention mistake
    (VERDICT r11 #5)."""
    try:
        source.snapshot(wm)
    except (ValueError, FileNotFoundError) as e:
        raise RuntimeError(
            f"ivm: {what} watermark version {wm} is no longer "
            f"reconstructable from the source log at {source.path} — "
            f"it was expired by log retention (expire_log/vacuum). "
            f"Log retention must exceed the refresh cadence; "
            f"reinitialize the view from a fresh snapshot."
        ) from e


def refresh_view(
    spark,
    source,
    view_path: str,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    feed_key: str | Sequence[str] = (),
    app_id: str | None = None,
    measure_fn=None,
    log_store=None,
):
    """CRASH-SAFE incremental materialized-view refresh (r10): fold
    the source TxTable's change feed since the last refresh into a
    state stored in its OWN TxTable — the complete
    Delta-Live-Tables-style loop, exactly-once.

    The watermark is transactional: every view commit carries a
    ``txn`` action recording the SOURCE VERSION it reflects (the same
    mechanism as the exactly-once streaming sink), so:

    - a refresh that crashed AFTER committing but BEFORE its driver
      acknowledged simply no-ops on re-run (epoch ≤ high-water mark);
    - a refresh that crashed BEFORE committing left no partial state
      (the fold is computed lazily and lands in one atomic commit);
    - concurrent duplicate refreshers race on the commit version and
      the loser's replay no-ops.

    First call initializes: ONE full aggregate of the source snapshot
    (the only table-sized scan the view ever pays), stamped with that
    snapshot's version. Every later call reads only the feed between
    the watermark and the source head. Feed-read cost model (r13,
    measured by tools/text_index_cost.py): ``change_feed`` reads only
    files that DIFFER between the endpoint snapshots, so the read is
    O(files the DML rewrote) — O(changed rows) when source churn is
    key-clustered (range-partitioned writes, zone-mapped DML), but a
    predicate scattered across every file rewrites every file and the
    feed degenerates to a corpus re-read. Cluster churned keys, or read
    writer-side CDC files (change_data_feed=True + table_changes_native
    or readChangeFeed) for strict O(changed rows) at any churn shape.

    ``feed_key`` is REQUIRED: it is the source table's row identity,
    which ``change_feed`` diffs versions on — an empty key would
    degenerate that diff into a keyless full-outer join. Validated up
    front (even on the init path, where the feed isn't read yet) so a
    misconfigured pipeline fails at wiring time, not at its second
    refresh (ADVICE r10).

    ``measure_fn`` optionally derives measure columns from raw rows
    (e.g. integer cents) — it must be applied identically to snapshot
    and feed rows, so it is a function here, not a pre-derived frame.
    Returns the source version now reflected, or None if already
    current.
    """
    from ..sources.txtable import TxTable

    if isinstance(feed_key, str):
        feed_key = (feed_key,)
    if not feed_key:
        raise ValueError(
            "refresh_view: feed_key (the source table's row-identity "
            "columns, which change_feed diffs on) must be non-empty"
        )
    app_id = app_id or f"ivm:{view_path}"
    src_v = source.latest_version()
    view = TxTable(spark, view_path, log_store=log_store)

    def prep(df: DataFrame) -> DataFrame:
        return measure_fn(df) if measure_fn is not None else df

    if not view.exists():
        state = state_of(prep(source.read(version=src_v)), keys, sums)
        TxTable.create(spark, view_path, state, txn=(app_id, src_v))
        return src_v
    wm = view.snapshot().txns.get(app_id, -1)
    if wm < 0:
        raise ValueError(
            f"table at {view_path} exists but carries no {app_id!r} "
            f"watermark — it is not this view's state table"
        )
    if src_v <= wm:
        return None
    _require_watermark_readable(source, wm, "refresh_view")
    feed = prep(source.change_feed(feed_key, wm, src_v))
    merged = merge_states(
        view.read(), delta_state(feed, keys, sums), keys
    )
    view.overwrite(merged, txn=(app_id, src_v))
    return src_v


def refresh_join_view(
    spark,
    source_a,
    source_b,
    view_path: str,
    on: Sequence[str] | str,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    feed_key_a: str | Sequence[str] = (),
    feed_key_b: str | Sequence[str] = (),
    app_id: str | None = None,
    measure_fn=None,
    log_store=None,
):
    """CRASH-SAFE incremental refresh of an aggregate view over an
    INNER JOIN of two TxTables (r11) — the multi-source materialized
    view: GROUP BY ``keys`` aggregates over ``A ⋈ B`` stay current by
    folding BOTH sources' change feeds, never re-joining the tables
    from scratch after initialization.

    Exactly-once across both sources: every refresh commit carries TWO
    transactional watermarks — (app_id:a, version_a) and (app_id:b,
    version_b) — in ONE atomic commit (``overwrite(txn=[...])``), so a
    crash can never leave the view reflecting source A's new commits
    but not source B's recorded mark (the double-fold window a
    two-commit design would have). A replay where neither source
    advanced no-ops.

    Per refresh: Δ(A⋈B) via :func:`join_delta` — ΔA probes B at its
    NEW version, ΔB probes A at its OLD (watermark) version, read
    through the log's time travel; cost O(|ΔA| + |ΔB| + their join
    partners), not O(|A⋈B|).

    Because the fold TIME-TRAVELS to each source's watermark version,
    BOTH sources' log retention must exceed the refresh cadence: an
    ``expire_log``/``vacuum`` that drops a watermark version makes the
    next refresh impossible (it raises the pointed retention error,
    mirroring the streaming reader's contract) and the view must be
    reinitialized from a fresh snapshot.

    ``measure_fn`` derives measure columns from JOINED rows and is
    applied identically to the snapshot join and the delta join.
    Returns (version_a, version_b) now reflected, or None if already
    current.
    """
    from ..sources.txtable import TxTable

    for nm, fk in (("feed_key_a", feed_key_a), ("feed_key_b", feed_key_b)):
        if not fk:
            raise ValueError(
                f"refresh_join_view: {nm} (that source's row-identity "
                "columns, which change_feed diffs on) must be non-empty"
            )
    on = [on] if isinstance(on, str) else list(on)
    app_id = app_id or f"ivm-join:{view_path}"
    id_a, id_b = f"{app_id}:a", f"{app_id}:b"
    va, vb = source_a.latest_version(), source_b.latest_version()
    view = TxTable(spark, view_path, log_store=log_store)

    def prep(df: DataFrame) -> DataFrame:
        return measure_fn(df) if measure_fn is not None else df

    if not view.exists():
        j = prep(source_a.read(version=va).join(source_b.read(version=vb), on))
        state = state_of(j, keys, sums)
        TxTable.create(
            spark, view_path, state, txn=[(id_a, va), (id_b, vb)]
        )
        return (va, vb)
    txns = view.snapshot().txns
    wma, wmb = txns.get(id_a, -1), txns.get(id_b, -1)
    if wma < 0 or wmb < 0:
        raise ValueError(
            f"table at {view_path} exists but carries no {app_id!r} "
            f"watermarks — it is not this view's state table"
        )
    if va <= wma and vb <= wmb:
        return None
    _require_watermark_readable(source_a, wma, "refresh_join_view source A")
    _require_watermark_readable(source_b, wmb, "refresh_join_view source B")

    def feed_or_empty(source, fk, lo, hi):
        if hi > lo:
            return source.change_feed(fk, lo, hi)
        # typed empty slice: same columns as a feed, zero rows
        return source.read(version=hi).limit(0).withColumn(
            CHANGE_TYPE_COL, F.lit("insert")
        )

    da = feed_or_empty(source_a, feed_key_a, wma, va)
    db = feed_or_empty(source_b, feed_key_b, wmb, vb)
    dj = prep(
        join_delta(
            source_a.read(version=wma), da, source_b.read(version=vb), db, on
        )
    )
    merged = merge_states(
        view.read(), delta_state(dj, keys, sums, weight_col="__ivm_w"), keys
    )
    # only ADVANCED sources stamp a new watermark: an unchanged
    # source's stored epoch stays (re-stamping it equal would trip the
    # all-epochs-replayed no-op guard on a genuinely novel refresh)
    stamps = []
    if va > wma:
        stamps.append((id_a, va))
    if vb > wmb:
        stamps.append((id_b, vb))
    view.overwrite(merged, txn=stamps)
    return (va, vb)
