"""Output checks, one per workload. Each returns ``ok`` and a one-line
``detail`` first.

The checks are plain Python/DuckDB over the generated inputs and the
engine's outputs, so they never share code with the engine they check.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np

# ---------------------------------------------------------------------------
# cfs_daily_etl: a DuckDB recompute of the aggregate must hash-match.
# ---------------------------------------------------------------------------

CFS_DURATIONS = {
    # name: (end column, start column) — the reference's four metrics
    "close": ("closed_time_incident", "create_time_incident"),
    "dispatch": ("dispatch_time_primary_unit", "create_time_incident"),
    "arrival": ("arrival_time_primary_unit", "create_time_incident"),
    "travel": ("arrival_time_primary_unit", "dispatch_time_primary_unit"),
}
CFS_KEYS = ("year", "month", "incident_type_id", "priority", "district")
# canonical column order and types both sides are cast to before hashing
CFS_OUTPUT = (
    [(k, "VARCHAR") for k in CFS_KEYS]
    + [("nunique_event_number", "BIGINT"), ("n_rows", "BIGINT")]
    + [(f"cmin_{d}", "BIGINT") for d in CFS_DURATIONS]
    + [(f"n_{d}", "BIGINT") for d in CFS_DURATIONS]
)


def _centi_minutes(end: str, start: str) -> str:
    """Duration in 1/100 minute, rounded half away from zero, in
    integer arithmetic."""
    us = f"date_diff('microsecond', {start}, {end})"
    return (
        f"(CASE WHEN {us} < 0 THEN -1 ELSE 1 END)"
        f" * ((abs({us}) + 300000) // 600000)"
    )


def cfs_expected_sql(fixture_path: str) -> str:
    """The ETL job's aggregate, recomputed from the raw fixture."""
    times = {
        "create_time_incident": "create_time_incident",
        **{
            c: f"try_strptime({c}, '%Y-%m-%dT%H:%M:%S.%f')"
            for c in (
                "closed_time_incident",
                "arrival_time_primary_unit",
                "dispatch_time_primary_unit",
            )
        },
    }
    parsed = ", ".join(f"{e} AS {c}" for c, e in times.items())
    durs = ", ".join(
        f"{_centi_minutes(e, s)} AS d_{d}" for d, (e, s) in CFS_DURATIONS.items()
    )
    aggs = ", ".join(
        [f"sum(d_{d}) AS cmin_{d}" for d in CFS_DURATIONS]
        + [f"count(d_{d}) AS n_{d}" for d in CFS_DURATIONS]
    )
    return f"""
    WITH raw AS (
        SELECT event_number, incident_type_id, priority, district, {parsed}
        FROM read_parquet('{fixture_path}')
        WHERE district IS NOT NULL
    ), latest AS (
        SELECT *, {durs},
               year(create_time_incident) AS year,
               month(create_time_incident) AS month,
               row_number() OVER (
                   PARTITION BY event_number
                   ORDER BY create_time_incident DESC) AS rn
        FROM raw
    )
    SELECT year, month, incident_type_id, priority, district,
           count(event_number) AS nunique_event_number,
           count(*) AS n_rows, {aggs}
    FROM latest WHERE rn = 1
    GROUP BY ALL
    """


def _canonical(rel_sql: str) -> str:
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in CFS_OUTPUT)
    return f"SELECT {cols} FROM ({rel_sql})"


def _table_hash(con, rel_sql: str) -> tuple[int, int]:
    """Order-insensitive (row count, sum of row hashes) of a relation."""
    names = ", ".join(c for c, _ in CFS_OUTPUT)
    n, h = con.execute(
        f"SELECT count(*), sum(hash({names})::HUGEINT) % 18446744073709551616"
        f" FROM ({_canonical(rel_sql)})"
    ).fetchone()
    return int(n), int(h or 0)


def check_cfs(fixture_path: str, output_glob: str, n_docs: int) -> tuple[bool, str]:
    """The engine's parquet output must hash-match the DuckDB recompute,
    and the document store must hold one document per output row."""
    con = duckdb.connect()
    try:
        want = _table_hash(con, cfs_expected_sql(fixture_path))
        got = _table_hash(con, f"SELECT * FROM read_parquet('{output_glob}')")
    finally:
        con.close()
    ok = want == got and n_docs == got[0]
    return ok, f"rows {got[0]} vs {want[0]}, hash match {want[1] == got[1]}, docs {n_docs}"


# ---------------------------------------------------------------------------
# corpus_curation: every reported pair must be a true near duplicate;
# recall of the planted clusters is reported.
# ---------------------------------------------------------------------------

_WS = re.compile(r"\s+")


def token_set(text: str) -> frozenset[str]:
    """The engine's tokenization: lowercased, trimmed, split on \\s+."""
    return frozenset(_WS.split(text.strip().lower()))


def jaccard(a: str, b: str) -> float:
    ta, tb = token_set(a), token_set(b)
    return len(ta & tb) / len(ta | tb)


def check_curation(
    texts: dict[int, str],
    truth,
    pairs: list[tuple[int, int, float]],
    components: dict[int, int],
    unique: list[int],
    kept: list[int],
    threshold: float,
) -> tuple[bool, str, float]:
    """Returns (ok, detail, cluster recall). ``truth`` is the generator's
    corpus (its planted clusters, exact duplicates and must-keep docs);
    ``unique`` are the docs the engine kept after the quality filter
    and the exact dedup, ``kept`` the docs it output.

    Nothing wrong is kept:
    - every reported pair's exact Jaccard is >= ``threshold``;
    - each component is labelled by its smallest member and is
      represented in the output by exactly that member;
    - no two kept docs are exact duplicates after normalization.

    Nothing right is dropped:
    - ``kept`` is exactly ``unique`` minus the non-representative
      component members;
    - every good doc in no cluster and with no exact copy is kept;
    - one doc of each exact-duplicate pair is kept, and at least one
      member of each planted cluster.

    Recall = planted clusters whose members all landed in one component
    and left exactly one member in the output, over planted clusters."""
    problems = []
    bad_pairs = [
        (a, b) for a, b, _ in pairs if jaccard(texts[a], texts[b]) < threshold
    ]
    if bad_pairs:
        problems.append(f"{len(bad_pairs)} pairs below threshold")
    members: dict[int, list[int]] = {}
    for node, comp in components.items():
        members.setdefault(comp, []).append(node)
    if any(min(m) != c for c, m in members.items()):
        problems.append("component not labelled by its smallest member")
    kept_set = set(kept)
    if len(kept_set) != len(kept):
        problems.append("duplicate ids in output")
    if any(node in kept_set and node != comp for node, comp in components.items()):
        problems.append("non-representative component member kept")
    if any(c not in kept_set for c in members):
        problems.append("component representative missing")
    if not kept_set <= texts.keys():
        problems.append("unknown ids in output")
    norm = [texts[i].strip().lower() for i in kept_set & texts.keys()]
    if len(set(norm)) != len(norm):
        problems.append("exact duplicates kept")
    want = {i for i in unique if components.get(i, i) == i}
    if kept_set != want:
        problems.append(
            f"output is not the unique docs minus duplicates: "
            f"{len(want - kept_set)} missing, {len(kept_set - want)} extra"
        )
    lost = [i for i in truth.singles if i not in kept_set]
    if lost:
        problems.append(f"{len(lost)} distinct good docs dropped")
    if any((a in kept_set) == (b in kept_set) for a, b in truth.exact_dups):
        problems.append("exact-duplicate pair not kept exactly once")
    if any(not kept_set & set(cl) for cl in truth.clusters):
        problems.append("planted cluster dropped entirely")
    collapsed = 0
    for cl in truth.clusters:
        comps = {components.get(m) for m in cl}
        if len(comps) == 1 and None not in comps and len(kept_set & set(cl)) == 1:
            collapsed += 1
    recall = collapsed / len(truth.clusters) if truth.clusters else 1.0
    ok = not problems
    detail = "; ".join(problems) or (
        f"{len(pairs)} pairs verified, {len(members)} components, "
        f"{len(kept_set)} kept, cluster recall {recall:.3f}"
    )
    return ok, detail, recall


# ---------------------------------------------------------------------------
# corpus_curation, publish and serve: exhaustive probes equal brute
# force over the served snapshot; the view equals a recompute.
# ---------------------------------------------------------------------------


def brute_topk_scores(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``vecs`` with ``q``, in float64."""
    m = vecs.astype(np.float64)
    qd = q.astype(np.float64)
    return (m @ qd) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qd))


def check_topk(
    got_ids: list[int],
    ids: np.ndarray,
    vecs: np.ndarray,
    q: np.ndarray,
    k: int,
    tol: float = 1e-6,
) -> bool:
    """``got_ids`` (in rank order) must be a brute-force top-k over
    (``ids``, ``vecs``): k distinct ids whose scores are non-increasing
    and none below the k-th best score, up to float32 noise ``tol``."""
    scores = brute_topk_scores(vecs, q)
    want_n = min(k, len(ids))
    if len(got_ids) != want_n or len(set(got_ids)) != want_n:
        return False
    pos = {int(i): j for j, i in enumerate(ids)}
    if any(int(i) not in pos for i in got_ids):
        return False
    kth = np.sort(scores)[::-1][want_n - 1]
    got = [scores[pos[int(i)]] for i in got_ids]
    return all(s >= kth - tol for s in got) and all(
        a >= b - tol for a, b in zip(got, got[1:])
    )


def check_view(view: dict, rows: list[tuple]) -> bool:
    """``view`` maps group -> (count, sum); ``rows`` are the served
    table's (group, value) pairs. The view must equal a from-scratch
    aggregate of them."""
    want: dict = {}
    for g, v in rows:
        acc = want.setdefault(g, [0, 0])
        acc[0] += 1
        acc[1] += int(v)
    return {g: tuple(a) for g, a in want.items()} == {
        g: (int(c), int(s)) for g, (c, s) in view.items()
    }
