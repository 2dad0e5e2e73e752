"""SQL surface: spark.sql BM25 over registered index views must match the
Python executor exactly; audio resample stub shapes."""

import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.textproc import preprocess_query_terms
from awesome_spark_search.views import bm25_sql, register_index_views


def test_sql_bm25_matches_executor(spark):
    src = spark.createDataFrame(corpus.generate_pandas(200, seed=31))
    idx = build_index(spark, src, do_stem=True)
    names = register_index_views(spark, idx)
    assert set(names) == {"doc_map", "postings", "term_stats", "packed"}
    terms = preprocess_query_terms("buffer merge scan", do_stem=True)
    got = spark.sql(bm25_sql(terms, idx, k=10)).collect()
    want = QueryExecutor(spark, idx).search("buffer merge scan", k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_resample_audio_shapes(spark):
    from awesome_spark_search.multimodal import resample_audio, synth_media

    media = synth_media(spark, 30)
    rows = resample_audio(media, sample_rate=8000, max_samples=64).collect()
    assert rows
    for r in rows:
        assert r["sample_rate"] == 8000
        assert r["n_samples"] == 64
        assert len(bytes(r["payload"])) == 128  # int16
        assert r["rms"] >= 0.0
