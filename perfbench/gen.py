"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs (pinned by tests/test_perfbench.py).
The engine only ever sees what these functions return; ground truth
(the planted near-duplicate clusters and exact duplicates) stays here.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# cfs_daily_etl: the reference's 19-column all-string calls-for-service
# table (FIXTURES.md §1).
# ---------------------------------------------------------------------------

CFS_COLUMNS = (
    "address_x", "agency", "create_time_incident", "disposition_text",
    "event_number", "incident_type_id", "incident_type_desc", "priority",
    "priority_color", "closed_time_incident", "beat", "district",
    "sna_neighborhood", "cpd_neighborhood", "community_council_neighborhood",
    "latitude_x", "longitude_x", "arrival_time_primary_unit",
    "dispatch_time_primary_unit",
)
CFS_START = dt.date(2021, 1, 1)
CFS_END = dt.date(2023, 12, 31)
MALFORMED_TIMES = ("UNKNOWN", "N/A", "1/2/2022 10:00 AM", "--")
_US_PER_MIN = 60_000_000


def _pick(rng, values, n, null_rate):
    """n draws from ``values`` with a ``null_rate`` share of None."""
    idx = rng.integers(0, len(values), n)
    out = np.asarray(values, dtype=object)[idx]
    out[rng.random(n) < null_rate] = None
    return out


def _times(base_us, rng, n, lo_min, hi_min, null_rate, malformed_rate):
    """ISO ``YYYY-MM-DDTHH:MM:SS.ffffff`` strings at base + U(lo, hi)
    minutes (µs resolution), with NULLs and malformed strings mixed in."""
    off = rng.integers(lo_min * _US_PER_MIN, hi_min * _US_PER_MIN, n)
    ts = (base_us + off).astype("datetime64[us]")
    out = np.datetime_as_string(ts, unit="us").astype(object)
    bad = rng.random(n) < malformed_rate
    out[bad] = np.asarray(MALFORMED_TIMES, dtype=object)[
        rng.integers(0, len(MALFORMED_TIMES), int(bad.sum()))
    ]
    out[rng.random(n) < null_rate] = None
    return out


def cfs_calls(seed: int, n_events: int) -> pa.Table:
    """Raw CFS table, sorted by ``create_time_incident``.

    ~10% of events carry 2-3 rows with distinct create times (some with
    a NULL district), NULL rates per column span 0-60%, the three
    non-key time columns hold a few malformed strings, and create times
    span 2021-2023. ``create_time_incident`` is stored as a timestamp:
    it is the column the REST source windows on, as the live API does;
    every other column is a string."""
    rng = np.random.default_rng([seed, 1])
    dup = rng.random(n_events) < 0.10
    reps = np.where(dup, rng.integers(2, 4, n_events), 1)
    n = int(reps.sum())
    event = np.repeat(np.arange(n_events), reps)
    first = np.concatenate([[True], event[1:] != event[:-1]])

    span_us = (
        (CFS_END - CFS_START).days + 1
    ) * 86_400_000_000 - 1
    start_us = np.datetime64(CFS_START, "us").astype(np.int64)
    base = start_us + rng.integers(0, span_us - 600 * _US_PER_MIN, n_events)
    # duplicates of one event: distinct create times, minutes apart
    step = np.where(first, 0, rng.integers(1, 300, n) * _US_PER_MIN + 1)
    create = base[event] + np.cumsum(step) - np.repeat(
        np.cumsum(step)[first], reps
    )

    districts = ("1", "2", "3", "4", "5", "CENTRAL", "XX")
    district = _pick(rng, districts, n, 0.10)
    district[~first & (rng.random(n) < 0.3)] = None
    types = tuple(f"T{i:02d}" for i in range(40))
    type_idx = rng.integers(0, len(types), n)
    cols = {
        "address_x": np.array(
            [f"{a}XX BLOCK ST {b}" for a, b in zip(
                rng.integers(1, 99, n), rng.integers(1, 400, n))],
            dtype=object,
        ),
        "agency": _pick(rng, ("CPD", "CFD", "CPOP"), n, 0.0),
        "create_time_incident": create.astype("datetime64[us]"),
        "disposition_text": _pick(
            rng, tuple(f"DISP{i}" for i in range(12)), n, 0.05),
        "event_number": np.array(
            [f"CPD{e:08d}" for e in event], dtype=object),
        "incident_type_id": np.asarray(types, dtype=object)[type_idx],
        "incident_type_desc": np.where(
            rng.random(n) < 0.30, None,
            np.asarray([f"DESC {t}" for t in types], dtype=object)[type_idx],
        ),
        "priority": _pick(
            rng, tuple(str(i) for i in range(1, 10)) + ("HIGH", "LOW"), n, 0.03),
        "priority_color": _pick(rng, ("RED", "AMBER", "GREEN"), n, 0.60),
        "closed_time_incident": _times(create, rng, n, 1, 600, 0.05, 0.005),
        "beat": _pick(rng, tuple(f"B{i}" for i in range(30)), n, 0.15),
        "district": district,
        "sna_neighborhood": _pick(
            rng, tuple(f"SNA{i}" for i in range(50)), n, 0.60),
        "cpd_neighborhood": _pick(
            rng, tuple(f"CPD{i}" for i in range(50)), n, 0.10),
        "community_council_neighborhood": _pick(
            rng, tuple(f"CC{i}" for i in range(50)), n, 0.25),
        "latitude_x": np.where(
            rng.random(n) < 0.08, None,
            np.char.mod("%.6f", 39.0 + rng.random(n)).astype(object)),
        "longitude_x": np.where(
            rng.random(n) < 0.08, None,
            np.char.mod("%.6f", -84.9 + rng.random(n)).astype(object)),
        # arrival can precede dispatch: negative durations on purpose
        "arrival_time_primary_unit": _times(
            create, rng, n, -5, 60, 0.20, 0.005),
        "dispatch_time_primary_unit": _times(
            create, rng, n, 0, 30, 0.10, 0.005),
    }
    order = np.argsort(cols["create_time_incident"], kind="stable")
    arrays = []
    for name in CFS_COLUMNS:
        col = cols[name][order]
        if name == "create_time_incident":
            arrays.append(pa.array(col, type=pa.timestamp("us")))
        else:
            arrays.append(pa.array(col, type=pa.string()))
    return pa.table(arrays, names=list(CFS_COLUMNS))


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted near-duplicate clusters, exact
# duplicates and low-quality docs.
# ---------------------------------------------------------------------------


EMBED_DIM = 16


@dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    # one embedding per doc (row i belongs to ids[i]), float32
    embeddings: np.ndarray
    # ground truth only: planted near-duplicate clusters, and
    # (source, copy) pairs of exact duplicates, as doc ids
    clusters: list[list[int]] = field(default_factory=list)
    exact_dups: list[tuple[int, int]] = field(default_factory=list)
    # ids of the good base docs in no cluster and with no exact copy:
    # every correct curation keeps all of them
    singles: list[int] = field(default_factory=list)


def _vocab(rng, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


def corpus(seed: int, n_base: int) -> Corpus:
    """``n_base`` distinct good documents, plus: near-duplicate variants
    of ~15% of them (clusters of 2-4, ~4% of tokens substituted), exact
    duplicates of ~5% (case/whitespace changes only) and ~10% low-quality
    docs (too short, symbol-heavy or numeric) that the Gopher rules
    reject. Doc ids are a seeded permutation, so cluster members are not
    id-adjacent."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(_vocab(rng, 4000), dtype=object)
    texts: list[str] = []
    clusters: list[list[int]] = []

    def doc(n_tok: int) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), n_tok)])

    bases = [doc(int(rng.integers(60, 160))) for _ in range(n_base)]
    texts.extend(" ".join(b) for b in bases)
    for b in range(n_base):
        if rng.random() < 0.15:
            members = [b]
            for _ in range(int(rng.integers(1, 4))):
                toks = list(bases[b])
                for i in np.flatnonzero(rng.random(len(toks)) < 0.04):
                    toks[i] = vocab[rng.integers(0, len(vocab))]
                members.append(len(texts))
                texts.append(" ".join(toks))
            clusters.append(members)
    in_cluster = {m for c in clusters for m in c}
    dups: list[tuple[int, int]] = []
    for b in range(n_base):
        if b not in in_cluster and rng.random() < 0.05:
            dups.append((b, len(texts)))
            texts.append("  " + texts[b].upper() + " ")
    n_bad = n_base // 10
    for i in range(n_bad):
        kind = i % 3
        if kind == 0:  # too short
            texts.append(" ".join(doc(int(rng.integers(5, 40)))))
        elif kind == 1:  # symbol-heavy
            texts.append(" ".join(w if rng.random() < 0.7 else "#" for w in doc(80)))
        else:  # mostly numeric tokens
            texts.append(" ".join(str(x) for x in rng.integers(0, 10**6, 80)))
    perm = rng.permutation(len(texts))
    ids = [int(x) + 1 for x in perm]  # position -> doc id
    duped = {b for b, _ in dups}
    return Corpus(
        ids=ids,
        texts=texts,
        embeddings=_embeddings(seed, clusters, dups, len(texts)),
        clusters=[sorted(ids[m] for m in c) for c in clusters],
        exact_dups=[(ids[b], ids[c]) for b, c in dups],
        singles=sorted(
            ids[b] for b in range(n_base) if b not in in_cluster and b not in duped
        ),
    )


def _embeddings(seed, clusters, dups, n) -> np.ndarray:
    """Clustered doc embeddings from their own stream (the texts do not
    depend on them): a near-duplicate variant sits close to its base
    doc, an exact copy on it."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.standard_normal((24, EMBED_DIM))
    emb = centers[rng.integers(0, len(centers), n)] + 0.35 * rng.standard_normal(
        (n, EMBED_DIM)
    )
    for c in clusters:
        emb[c[1:]] = emb[c[0]] + 0.02 * rng.standard_normal((len(c) - 1, EMBED_DIM))
    for b, c in dups:
        emb[c] = emb[b]
    return emb.astype(np.float32)


@dataclass
class ServeChanges:
    upserts: list[int]       # doc ids re-embedded by the change batch
    vectors: np.ndarray      # their new embeddings, float32
    deletes: list[int]       # doc ids the change batch deletes
    queries: np.ndarray      # top-k probe vectors, float32
    points: list[int]        # doc ids for point reads (still served)


def serve_changes(
    seed: int, corpus: Corpus, n_upserts: int, n_deletes: int,
    n_queries: int, n_points: int,
) -> ServeChanges:
    """The serve phase's inputs. Every id is a must-keep doc
    (``corpus.singles``), so it is served whatever else curation drops;
    upserts, deletes and point reads are disjoint."""
    rng = np.random.default_rng([seed, 5])
    picked = rng.choice(len(corpus.singles), n_upserts + n_deletes + n_points, replace=False)
    ids = [corpus.singles[int(j)] for j in picked]
    # the corpus's embedding centres (the first draw of its stream)
    centers = np.random.default_rng([seed, 4]).standard_normal((24, EMBED_DIM))

    def near_centers(n):
        c = centers[rng.integers(0, len(centers), n)]
        return (c + 0.35 * rng.standard_normal((n, EMBED_DIM))).astype(np.float32)

    return ServeChanges(
        upserts=ids[:n_upserts],
        vectors=near_centers(n_upserts),
        deletes=ids[n_upserts:n_upserts + n_deletes],
        queries=near_centers(n_queries),
        points=ids[n_upserts + n_deletes:],
    )
