"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402


def _ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


# ---------------------------------------------------------------------------
# generators are byte-identical per seed
# ---------------------------------------------------------------------------


def test_cfs_generator_is_deterministic():
    a, b = gen.cfs_calls(7, 400), gen.cfs_calls(7, 400)
    assert _ipc(a) == _ipc(b)
    assert _ipc(a) != _ipc(gen.cfs_calls(8, 400))
    assert a.column_names == list(gen.CFS_COLUMNS)


def test_cfs_generator_properties():
    t = gen.cfs_calls(3, 4000).to_pydict()
    n = len(t["event_number"])
    dup_share = 1 - len(set(t["event_number"])) / n
    assert 0.05 < dup_share < 0.25
    years = {ts.year for ts in t["create_time_incident"]}
    assert years == {2021, 2022, 2023}
    nulls = {c: sum(v is None for v in t[c]) / n for c in gen.CFS_COLUMNS}
    assert nulls["agency"] == 0 and 0.5 < nulls["sna_neighborhood"] < 0.7
    assert any(v in gen.MALFORMED_TIMES for v in t["closed_time_incident"])


def test_corpus_generator_is_deterministic():
    a, b = gen.corpus(5, 300), gen.corpus(5, 300)
    assert (a.ids, a.texts, a.clusters) == (b.ids, b.texts, b.clusters)
    assert (a.exact_dups, a.singles) == (b.exact_dups, b.singles)
    assert a.embeddings.tobytes() == b.embeddings.tobytes()
    assert a.texts != gen.corpus(6, 300).texts
    assert a.clusters and sorted(a.ids) == list(range(1, len(a.ids) + 1))
    assert a.embeddings.shape == (len(a.ids), gen.EMBED_DIM)


def test_corpus_ground_truth_is_consistent():
    c = gen.corpus(3, 400)
    texts = dict(zip(c.ids, c.texts))
    for src, copy in c.exact_dups:
        assert texts[src].strip().lower() == texts[copy].strip().lower()
    in_cluster = {m for cl in c.clusters for m in cl}
    duped = {i for pair in c.exact_dups for i in pair}
    assert c.singles and not set(c.singles) & (in_cluster | duped)


def test_serve_changes_are_deterministic_and_disjoint():
    c = gen.corpus(2, 400)
    a, b = gen.serve_changes(2, c, 10, 5, 4, 2), gen.serve_changes(2, c, 10, 5, 4, 2)
    assert (a.upserts, a.deletes, a.points) == (b.upserts, b.deletes, b.points)
    assert a.vectors.tobytes() == b.vectors.tobytes()
    assert a.queries.tobytes() == b.queries.tobytes()
    ids = a.upserts + a.deletes + a.points
    assert len(set(ids)) == len(ids) == 17 and set(ids) <= set(c.singles)


# ---------------------------------------------------------------------------
# printed metric names match BENCHMARK.json
# ---------------------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    from perfbench.run import END_TO_END
    from perfbench.workloads import LAYER_METRICS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == LAYER_METRICS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [n for n, _ in END_TO_END + LAYER_METRICS]
    assert len(set(names)) == len(names)
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


# ---------------------------------------------------------------------------
# each output check rejects a planted wrong answer
# ---------------------------------------------------------------------------


def test_cfs_check_rejects_wrong_aggregate(tmp_path):
    import duckdb

    fixture = str(tmp_path / "raw.parquet")
    pq.write_table(gen.cfs_calls(4, 800), fixture)
    good = duckdb.connect().execute(checks.cfs_expected_sql(fixture)).arrow()
    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(good, str(out / "part-0.parquet"))
    glob_ = str(out / "*.parquet")
    assert checks.check_cfs(fixture, glob_, good.num_rows)[0]
    # wrong document count
    assert not checks.check_cfs(fixture, glob_, good.num_rows - 1)[0]
    # one aggregate value off by one
    rows = good.to_pylist()
    rows[0]["n_rows"] += 1
    pq.write_table(pa.Table.from_pylist(rows, good.schema), str(out / "part-0.parquet"))
    assert not checks.check_cfs(fixture, glob_, good.num_rows)[0]


def _curation_answer(corpus):
    """The ideal engine output: planted clusters as components, every
    other doc kept unless it is an exact duplicate."""
    texts = dict(zip(corpus.ids, corpus.texts))
    comps = {m: min(cl) for cl in corpus.clusters for m in cl}
    pairs = [
        (cl[0], m, checks.jaccard(texts[cl[0]], texts[m]))
        for cl in corpus.clusters for m in cl[1:]
    ]
    seen, unique = set(), []
    for i in sorted(texts):
        norm = texts[i].strip().lower()
        if norm in seen:
            continue
        seen.add(norm)
        unique.append(i)
    kept = [i for i in unique if comps.get(i, i) == i]
    return texts, pairs, comps, unique, kept


def test_curation_check_accepts_ideal_and_rejects_planted_errors():
    corpus = gen.corpus(11, 200)
    texts, pairs, comps, unique, kept = _curation_answer(corpus)

    def check(pairs=pairs, comps=comps, unique=unique, kept=kept):
        return checks.check_curation(texts, corpus, pairs, comps, unique, kept, 0.7)

    ok, _, recall = check()
    assert ok and recall == 1.0
    # a reported pair that is not a near duplicate
    a, b = corpus.clusters[0][0], next(i for i in texts if i not in comps)
    assert not check(pairs=pairs + [(a, b, 0.9)])[0]
    # two members of one component kept
    extra = corpus.clusters[0][1]
    assert not check(kept=kept + [extra])[0]
    # an exact duplicate kept
    norm = {}
    dup = next(
        i for i in sorted(texts)
        if norm.setdefault(texts[i].strip().lower(), i) != i
    )
    assert not check(kept=kept + [dup])[0]


def test_curation_check_rejects_dropped_docs():
    corpus = gen.corpus(12, 200)
    texts, pairs, comps, unique, kept = _curation_answer(corpus)

    def check(unique=unique, kept=kept):
        return checks.check_curation(texts, corpus, pairs, comps, unique, kept, 0.7)

    # a distinct good doc dropped by the quality filter: missing from the
    # unique docs and from the output alike
    single = corpus.singles[0]
    assert not check(
        unique=[i for i in unique if i != single], kept=[i for i in kept if i != single]
    )[0]
    # a unique doc lost by the final join (an inner join, say)
    assert not check(kept=[i for i in kept if i != single])[0]
    # both docs of an exact-duplicate pair dropped
    gone = set(corpus.exact_dups[0])
    assert not check(
        unique=[i for i in unique if i not in gone], kept=[i for i in kept if i not in gone]
    )[0]
    # a whole planted cluster dropped
    gone = set(corpus.clusters[0])
    assert not check(
        unique=[i for i in unique if i not in gone], kept=[i for i in kept if i not in gone]
    )[0]
    # an empty result
    assert not check(unique=[], kept=[])[0]


def test_topk_check_rejects_wrong_neighbour():
    rng = np.random.default_rng(0)
    ids = np.arange(100, 150)
    vecs = rng.standard_normal((50, gen.EMBED_DIM)).astype(np.float32)
    q = rng.standard_normal(gen.EMBED_DIM).astype(np.float32)
    order = np.argsort(-checks.brute_topk_scores(vecs, q), kind="stable")
    best = [int(ids[j]) for j in order[:5]]
    assert checks.check_topk(best, ids, vecs, q, 5)
    assert not checks.check_topk(best[:4] + [int(ids[order[-1]])], ids, vecs, q, 5)
    assert not checks.check_topk(best[:4], ids, vecs, q, 5)
    assert not checks.check_topk(best[::-1], ids, vecs, q, 5)
    assert not checks.check_topk(best[:4] + [999], ids, vecs, q, 5)


def test_view_check_rejects_wrong_aggregate():
    rows = [(1, 10), (1, 5), (2, 7)]
    assert checks.check_view({1: (2, 15), 2: (1, 7)}, rows)
    assert not checks.check_view({1: (2, 15), 2: (1, 8)}, rows)
    assert not checks.check_view({1: (2, 15)}, rows)
    assert not checks.check_view({1: (3, 15), 2: (1, 7)}, rows)


@pytest.mark.parametrize("n,expect", [(5, (5.0, 100.0)), (20, (10.0, 50.0))])
def test_tail_percentile(n, expect):
    from perfbench.run import tail_percentile

    assert tail_percentile([float(x) for x in range(1, n + 1)]) == expect
