"""Library operations over index roots opened with jobs/query.load_index,
which reads the packed table and no long postings: a merge of two opened
roots and streaming onto an opened base must each equal a build of the
whole corpus. The job mains run in-process, on the test session."""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))

import build_index as build_job  # noqa: E402
from query import load_index  # noqa: E402

from awesome_spark_search import corpus  # noqa: E402
from awesome_spark_search.build import build_index  # noqa: E402
from awesome_spark_search.executor import QueryExecutor  # noqa: E402
from awesome_spark_search.merge import merge_packed_indexes  # noqa: E402
from awesome_spark_search.streaming import IncrementalIndexer  # noqa: E402

N_DOCS = 120
QUERIES = ["buffer merge scan", '"merge sort" buffer', "token*", "buffer AND merge"]


@pytest.fixture(scope="module")
def halves(spark, tmp_path_factory):
    """The whole corpus as a source frame, and one index root per half."""
    d = tmp_path_factory.mktemp("opened_roots")
    pdf = corpus.generate_pandas(N_DOCS, seed=21)
    roots = []
    for name, part in (("a", pdf[pdf.doc_id < N_DOCS // 2]), ("b", pdf[pdf.doc_id >= N_DOCS // 2])):
        src = str(d / f"{name}.parquet")
        part.to_parquet(src, index=False)
        roots.append(str(d / f"ix_{name}"))
        assert build_job.main(["--source", src, "--out", roots[-1]]) == 0
    return spark.createDataFrame(pdf), pdf, roots


@pytest.fixture(scope="module")
def full(spark, halves):
    return build_index(spark, halves[0])


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return tuple(map(_norm, v)) if isinstance(v, list) else v


def _sorted_rows(df, cols):
    return sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())


def _term_stats(ix):
    return _sorted_rows(ix.term_stats, ["term", "df", "cf", "term_bucket"])


def test_merge_of_opened_roots_equals_rebuild(spark, halves, full):
    _, _, roots = halves
    merged = merge_packed_indexes(spark, [load_index(spark, r) for r in roots])
    cols = sorted(full.packed.columns)
    assert _sorted_rows(merged.packed, cols) == _sorted_rows(full.packed, cols)
    assert _term_stats(merged) == _term_stats(full)
    assert merged.stats == full.stats


def test_streaming_onto_an_opened_base_equals_rebuild(spark, halves, full, tmp_path):
    src, _, roots = halves
    ingest = IncrementalIndexer(spark, str(tmp_path / "delta"))
    ingest.foreach_batch(src.filter(f"doc_id >= {N_DOCS // 2}").select("doc_id", "content"), 0)
    streamed = ingest.to_index(base=load_index(spark, roots[0]))
    assert _term_stats(streamed) == _term_stats(full)
    assert streamed.stats == full.stats
    ex_s, ex_f = QueryExecutor(spark, streamed), QueryExecutor(spark, full)
    for q in QUERIES:
        want = [(r["doc_id"], r["score"]) for r in ex_f.search(q, k=10).collect()]
        assert want, q
        assert [(r["doc_id"], r["score"]) for r in ex_s.search(q, k=10).collect()] == want, q
