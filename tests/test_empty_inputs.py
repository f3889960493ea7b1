"""Empty-relation sweep: every operator must return an EMPTY frame
with its declared schema on empty input — never an error, never NULLs
masquerading as counts (the r3/r4-ADVICE class of bug: checks.py
reported NULL violations, SUM-over-zero-rows, on empty relations).

One parametrized test walks the operator surface so a future operator
that breaks the contract fails here before the advisor finds it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    asof as ao,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    dedup as dd,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    multimodal as mm,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    packing as pk,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    pandas_ext as pe,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    sampling as sp,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    similarity as sim,
)
from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
    text as tx,
)


def _mp4_mod():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import mp4

    return mp4


def _audio_mod():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import audio

    return audio


def _temporal_mod():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.functions import (
        temporal,
    )

    return temporal


def _tokenizer_mod():
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        tokenizer,
    )

    return tokenizer


def _docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, lang string, n_chars long")


def _emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>, label string")


def _events(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )


_CASES = {
    "paragraph_dedup": lambda s: dd.paragraph_dedup(_docs(s)),
    "winnow_fingerprints": lambda s: dd.winnow_fingerprints(_docs(s)),
    "exact_dedup": lambda s: dd.exact_dedup(_docs(s)),
    "minhash_signatures": lambda s: dd.minhash_signatures(_docs(s)),
    "simhash32": lambda s: dd.simhash32(_docs(s)),
    "bloom_both_sides_empty": lambda s: dd.bloom_decontaminate(_docs(s), _docs(s)),
    "ngram_contamination": lambda s: dd.ngram_contamination(_docs(s), _docs(s)),
    "top_ngram_stats": lambda s: tx.top_ngram_stats(_docs(s)),
    "chunk_documents": lambda s: tx.chunk_documents(_docs(s)),
    "bpe_pair_counts": lambda s: tx.bpe_pair_counts(_docs(s)),
    "hashed_ngram_classifier": lambda s: tx.hashed_ngram_classifier(_docs(s)),
    "trained_quality_classifier": lambda s: tx.trained_quality_classifier(_docs(s)),
    "hash_split": lambda s: sp.hash_split(_docs(s), ["doc_id"], {"train": 0.8, "test": 0.2}),
    "weighted_sample_topk": lambda s: sp.weighted_sample_topk(
        _docs(s).select("doc_id", "text", F.lit(1).alias("w")), "w", 5, key_cols=["doc_id"]
    ),
    "pack_sequences": lambda s: pk.pack_sequences(
        _docs(s).select("doc_id", F.lit(3).alias("n_tok")), "n_tok", 10, key_cols=["doc_id"]
    ),
    "synth_video_frames": lambda s: _mp4_mod().synth_video_frames(_docs(s)),
    "synth_audio_metadata": lambda s: _audio_mod().synth_audio_metadata(_docs(s)),
    "synth_h264_metadata": lambda s: mm.synth_h264_metadata(_docs(s)),
    "synth_aac_metadata": lambda s: mm.synth_aac_metadata(_docs(s)),
    "synth_decode_jpeg_color_wav": lambda s: mm.synth_decode_jpeg_color_wav(
        _docs(s)
    ),
    "shuffle_shards": lambda s: sp.shuffle_shards(_docs(s)),
    "multimodal_pipeline": lambda s: mm.multimodal_pipeline(_docs(s)),
    "brute_force_topk": lambda s: sim.brute_force_topk(
        _emb(s),
        _emb(s).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
        dim=64,
    ),
    "semdedup": lambda s: sim.semdedup(_emb(s)),
    "int8_rerank_topk": lambda s: sim.int8_rerank_topk(
        _emb(s),
        _emb(s).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
    ),
    "lm_surprise_filter": lambda s: tx.lm_surprise_filter(_docs(s)),
    "bpe_merge_table": lambda s: _tokenizer_mod().bpe_merge_table(s, _docs(s)),
    "domain_cap": lambda s: sp.domain_cap(
        _docs(s).select("doc_id", F.lit("s").alias("source")), cap=3
    ),
    "interleave_by_source": lambda s: sp.interleave_by_source(
        _docs(s).select("doc_id", F.lit("s").alias("source"))
    ),
    # PQ/PCA (r8): the TRAINED artifacts cannot come from an empty
    # corpus (train_pq/pca_fit raise, pinned in test_llm_ops) — the
    # empty-input contract applies to the transform stages given a model
    "pq_encode": lambda s: sim.pq_encode(
        _emb(s), __import__("numpy").zeros((8, 16, 8))
    ),
    "pca_transform": lambda s: sim.pca_transform(
        _emb(s),
        {
            "mean": __import__("numpy").zeros(64),
            "components": __import__("numpy").eye(4, 64),
            "explained_variance": __import__("numpy").ones(4),
        },
    ),
    "sessionize": lambda s: ao.sessionize(_events(s), key=["user_id"]),
    "user_event_gaps_native": lambda s: pe.user_event_gaps_native(_events(s)),
    "interpolate_daily": lambda s: _temporal_mod().interpolate_daily(
        _events(s), "user_id", "ts", "value"
    ),
}


@pytest.mark.parametrize("name", sorted(_CASES))
def test_operator_empty_input_yields_empty_frame(spark, name):
    out = _CASES[name](spark)
    rows = out.collect()
    assert rows == [], f"{name} produced rows from empty input: {rows[:3]}"
    assert len(out.schema) >= 1  # schema survives (not a degenerate frame)
