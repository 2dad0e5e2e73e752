"""The executions of one packed plan give the same answers. With the path
rule ``wand._one_shard`` forced each way on the same multi-shard index, the
driver path — its rows sliced from the executor's copy of the packed table
(``wand.PackedCopy``), or with the copy's gate shut, taken by one collect;
the shard kernel per doc_shard in the calling thread, pandas tails — and
the distributed path (applyInPandas per doc_shard, Spark tails) return
equal (doc_id, repr(score)) rows for every query type: all run the same
kernel over the same rows in the same order."""

import pytest

from awesome_spark_search import corpus, wand
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.pagerank import pack_citations

N_DOCS = 250
TARGET = 3

QUERIES = [
    "buffer merge scan",       # keyword
    "token*",                  # prefix, expanded from the dictionary
    "mrege bufer",             # corrected
    '"merge sort"',            # phrase
    '"merge sort" buffer',     # Mixed
    "buffer merge #3",         # PRF
    "buffer AND NOT merge",    # Boolean
    "scan OR LinkTo:3",        # Boolean with a LinkTo leaf
    "LinkTo:3",                # bare LinkTo: the one-leaf Boolean
    "zzzznothing",             # no rows
]
BATCH = {"q0": "buffer merge", "q1": '"merge sort"', "q2": '"merge sort" scan', "q3": "mrege"}


@pytest.fixture(scope="module")
def src(spark):
    return spark.createDataFrame(corpus.generate_pandas(N_DOCS, seed=42))


@pytest.fixture(scope="module")
def index(spark, src):
    return build_index(spark, src, do_stem=True, doc_shard_size=64)


@pytest.fixture(scope="module")
def citations(spark):
    edges = [(d, TARGET) for d in range(N_DOCS) if d % 7 == TARGET and d != TARGET]
    return pack_citations(spark.createDataFrame(edges, "src long, dst long"))


def _rows(df, key=("doc_id", "score")):
    return [tuple(repr(r[c]) if c == "score" else r[c] for c in key) for r in df.collect()]


def _each_path(monkeypatch, run):
    """run() (which builds its own executor, so each path loads its own
    dictionary) on the driver path from the copy, on the driver path with
    the copy's gate shut, then on the distributed path."""
    out = []
    for local, copy in ((True, True), (True, False), (False, False)):
        monkeypatch.setattr(wand, "_one_shard", lambda index, local=local: local)
        monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", 1 << 62 if copy else -1)
        out.append(run())
    return out


@pytest.mark.parametrize("scorer", ["bm25", "ql"])
def test_search_is_equal_on_both_paths(spark, src, index, citations, monkeypatch, scorer):
    assert not wand._one_shard(index)  # the fixture really has several shards

    def run():
        ex = QueryExecutor(spark, index, source_df=src, packed_citations=citations, scorer=scorer)
        got = {q: _rows(ex.search(q, k=10)) for q in QUERIES}
        ex.PREFIX_EXPAND_MAX = 0  # the prefix as a term range
        got["token* range"] = _rows(ex.search("token* scan", k=10))
        got["copy"] = ex._dictionary.copy is not None
        return got

    copied, collected, distributed = _each_path(monkeypatch, run)
    assert (copied.pop("copy"), collected.pop("copy"), distributed.pop("copy")) == (
        True, False, False
    )
    assert copied == collected == distributed
    assert all(copied[q] for q in QUERIES if q != "zzzznothing")


@pytest.mark.parametrize("scorer", ["bm25", "ql"])
def test_search_many_is_equal_on_both_paths(spark, index, monkeypatch, scorer):
    key = ("query_id", "rank", "doc_id", "score")
    copied, collected, distributed = _each_path(
        monkeypatch,
        lambda: _rows(QueryExecutor(spark, index, scorer=scorer).search_many(BATCH, k=10), key),
    )
    assert copied == collected == distributed
    assert {r[0] for r in copied} == set(BATCH)


def test_two_field_index_is_equal_on_both_paths(spark, src, monkeypatch):
    idx = build_index(
        spark, src.select("doc_id", "content", "path"), do_stem=True, doc_shard_size=64,
        field_weights={"content": 1.0, "path": 0.5},
    )
    queries = ["buffer merge", '"merge sort" buffer', "buffer merge #3", "buffer AND merge"]

    def run():
        ex = QueryExecutor(spark, idx, source_df=src.select("doc_id", "content"))
        return (
            {q: _rows(ex.search(q, k=10)) for q in queries},
            _rows(ex.search_many(BATCH, k=10), ("query_id", "rank", "doc_id", "score")),
        )

    copied, collected, distributed = _each_path(monkeypatch, run)
    assert copied == collected == distributed
    assert all(copied[0].values())
