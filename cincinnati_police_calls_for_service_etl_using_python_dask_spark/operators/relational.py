"""Relational core: projections, filters, joins, unions, sorts
(SURVEY.md §2.2 P1–P8, §2.3 J1–J3, §2.6 O1–O3, §2.7 U1).

Thin, intention-revealing wrappers over the DataFrame API. They exist
to (a) name the reference's operators for parity auditing, and (b) pin
the scale-correct defaults: broadcast small dims, semi/anti joins
instead of ``isin`` value lists, ``unionByName`` instead of positional
concat.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rename_all(df: DataFrame, names: Sequence[str]) -> DataFrame:
    """P3 — positional bulk rename (app.py:434-461)."""
    if len(names) != len(df.columns):
        raise ValueError(f"expected {len(df.columns)} names, got {len(names)}")
    return df.toDF(*names)


def semi_join(
    left: DataFrame, right: DataFrame, on: str | list[str], broadcast_right: bool = True
) -> DataFrame:
    """P7 — membership filter as a LEFT SEMI join.

    The reference collected repeated event numbers to the driver and
    used ``isin`` (app.py:408-414) — a driver-side value list that dies
    at scale. A broadcast left-semi join keeps the whole thing
    distributed; drop ``broadcast_right`` for large right sides and let
    AQE pick shuffle strategy."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how="left_semi")


def anti_join(
    left: DataFrame, right: DataFrame, on: str | list[str], broadcast_right: bool = True
) -> DataFrame:
    """NOT-IN complement of P7 (not in the reference; standard surface)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how="left_anti")


def multiway_join(
    dfs: Sequence[DataFrame],
    keys: Sequence[str | list[str]],
    how: str = "left",
) -> DataFrame:
    """J3 — n-way reduce-fold join (``functools.reduce(merge_dfs, dfs)``,
    app.py:399-401). ``keys[i]`` joins ``dfs[i+1]`` onto the running
    result. Catalyst + AQE handle ordering/strategy; small sides are
    broadcast automatically under the 10 MB threshold."""
    if len(keys) != len(dfs) - 1:
        raise ValueError("need one key (set) per join")
    result = dfs[0]
    for df, key in zip(dfs[1:], keys):
        result = result.join(df, on=key, how=how)
    return result


def bucketed_range_join(
    fact: DataFrame,
    bands: Sequence[tuple[str, float, float]],
    value_col: str,
    bucket_width: float,
    label_col: str = "band",
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Point-in-interval range join as a broadcast HASH join.

    The naive spelling (``fact.join(broadcast(bands), (v >= lo) &
    (v < hi))``, SURVEY.md §2.3 "Not present" row) has no equi-key, so
    Spark plans BroadcastNestedLoopJoin: every fact row is tested
    against every band — O(rows × bands) comparisons with no codegen
    hash probe. Fine at 4 bands, catastrophic at 10⁴ bands × 10¹¹ rows.

    The scale-correct plan quantizes the value domain into fixed-width
    buckets: each band is pre-exploded (driver-side, bands are small by
    construction) into one row per bucket it overlaps, the fact side
    computes its single bucket id, and the join becomes an equi-join on
    the bucket id — a BroadcastHashJoin, O(rows) probes — with the
    original range predicate kept as a residual filter for exactness.
    Intervals are half-open ``[lo, hi)``. Unbounded/huge upper bands
    are folded into a cap bucket at the largest finite boundary, so an
    open-topped band costs one dim row, not infinity.

    Row-identical to the nested-loop spelling (tests/test_operators.py)
    including NULL handling: NULL values get a NULL bucket id, which an
    inner equi-join drops — exactly as ``NULL >= lo`` is never true.

    Both tails are capped symmetrically: ±inf and huge (``|b| >= 1e17``)
    boundaries are excluded from the bucket domain, and everything
    beyond the largest/smallest FINITE boundary folds into a single
    cap/floor bucket. An open band (``-inf``/``+inf`` on either side)
    therefore costs one dim row per tail — never an unbounded
    ``range()`` enumeration — and the residual range predicate keeps
    the result exact.
    """
    import math

    w = float(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be positive")

    def _bounded(b: float) -> bool:
        return not math.isinf(b) and abs(b) < 1e17

    finite = [b for _, lo, hi in bands for b in (lo, hi) if _bounded(b)]
    if not finite:
        raise ValueError("bands need at least one finite boundary")
    cap_idx = math.floor(max(finite) / w)
    floor_idx = math.floor(min(finite) / w)
    exploded: list[tuple[str, float, float, int]] = []
    for label, lo, hi in bands:
        if hi <= lo:
            continue
        # Unbounded/huge tails clamp to the finite bucket domain —
        # math.floor(inf/w) raises, and a -1e18 lo would otherwise make
        # range() enumerate quintillions of buckets (ADVICE r1, low).
        first = (
            floor_idx
            if not _bounded(lo)
            else min(max(math.floor(lo / w), floor_idx), cap_idx)
        )
        if not _bounded(hi):
            last = cap_idx
        else:
            # last bucket holding values < hi: step back when hi sits on
            # a bucket boundary (half-open interval excludes it)
            last_raw = math.floor(hi / w)
            if hi / w == last_raw:
                last_raw -= 1
            last = min(max(last_raw, floor_idx), cap_idx)
        exploded.extend((label, lo, hi, b) for b in range(first, last + 1))
    spark = fact.sparkSession

    # VALUES LocalRelation, not createDataFrame: an RDD-backed local
    # frame re-runs a (tiny) job to rebuild its broadcast at every
    # action (~0.25 s fixed tax per execution — same lesson as the IVF
    # probe set, similarity.py:ivf_index_topk); a LocalTableScan
    # broadcasts driver-side with no job. Double literals round-trip
    # exactly through their shortest repr; infinities spell as the SQL
    # 'Infinity' cast.
    def _dlit(x: float) -> str:
        if math.isinf(x):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    vals = ",".join(
        "('%s', %s, %s, %dL)"
        % (label.replace("'", "''"), _dlit(lo), _dlit(hi), b)
        for label, lo, hi, b in exploded
    )
    dim = spark.sql(
        f"SELECT col1 AS {label_col}, col2 AS {lo_col},"
        f" col3 AS {hi_col}, col4 AS __bkt FROM VALUES {vals}"
    )
    v = F.col(value_col)
    fact_b = fact.withColumn(
        "__bkt",
        F.greatest(
            F.least(F.floor(v / F.lit(w)), F.lit(cap_idx)), F.lit(floor_idx)
        ).cast("long"),
    )
    joined = fact_b.join(F.broadcast(dim), "__bkt").where(
        (v >= F.col(lo_col)) & (v < F.col(hi_col))
    )
    return joined.drop("__bkt")


def union_all(dfs: Iterable[DataFrame], allow_missing_columns: bool = True) -> DataFrame:
    """U1 — vertical concat (``dd.concat`` accumulator loop,
    app.py:165-186). ``unionByName`` aligns by name, and
    ``allowMissingColumns`` handles ragged chunks (the reference's
    schema-from-chunks behavior, where API months can differ)."""
    dfs = list(dfs)
    if not dfs:
        raise ValueError("union of zero dataframes")
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing_columns), dfs
    )


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    key: Sequence[str] | str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """SCD-1 merge (MERGE INTO semantics as pure DataFrames): apply a
    change set onto a base table — a change row replaces the base row
    with its key (insert-or-update), and rows marked ``delete_op`` in
    ``op_col`` are removed. ``changes`` must be unique per key (dedup a
    CDC stream with latest_per_key first).

    Plan: one anti join (base keys minus change keys) + a union — the
    standard incremental-refresh shape, contrast the reference's
    drop-everything-and-reload (app.py:957-968). Scale: the anti join
    shuffles on the key unless the change set is broadcast-small (the
    common case for daily deltas — Spark auto-broadcasts under the
    threshold); on a lakehouse table format the same semantics push
    down to MERGE INTO, this operator is the format-free equivalent.

    NULL-op contract: a change row with NULL in ``op_col`` is treated
    as an upsert ('U'), NOT a delete — a malformed CDC row must never
    silently destroy data. (Without the coalesce, the anti join would
    remove the key from base while ``op != delete_op`` evaluates NULL
    and drops the change row too: net deletion.) Callers that want
    strict validation should assert ``op_col`` non-null upstream.
    """
    keys = [key] if isinstance(key, str) else list(key)
    surviving = base.join(changes.select(*keys), keys, "left_anti")
    applied = changes.filter(
        F.coalesce(F.col(op_col), F.lit("U")) != F.lit(delete_op)
    ).drop(op_col)
    return surviving.unionByName(applied)


def top_k(df: DataFrame, k: int, by: Sequence[str], ascending: bool = False) -> DataFrame:
    """O3 — global top-k. ``orderBy().limit()`` compiles to
    TakeOrderedAndProject: each partition keeps k rows, the driver merges
    — no full global sort even at 100 TB."""
    order = [F.col(c).asc() if ascending else F.col(c).desc() for c in by]
    return df.orderBy(*order).limit(k)
