"""The executor's driver-side copy of a one-shard index's packed rows
(``wand.PackedCopy``): every query type answers the same from the copy, from
the one-collect path with the copy's gate shut, and from a multi-shard index
over the same documents; and the copy is taken only under its gate — one
doc_shard, a cached dictionary, ``total_tokens`` at most
``QueryExecutor.PACKED_COPY_MAX_TOKENS``."""

import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.pagerank import pack_citations

N_DOCS = 250
TARGET = 3
FIELDS = {"content": 1.0, "path": 0.5}

QUERIES = [
    "buffer merge scan",       # keyword
    "token*",                  # prefix, expanded from the dictionary
    "mrege bufer",             # corrected
    '"merge sort"',            # phrase
    '"merge sort" buffer',     # Mixed
    "buffer merge #3",         # PRF
    "buffer AND merge",        # Boolean AND
    "buffer OR scan",          # Boolean OR
    "buffer AND NOT merge",    # Boolean NOT
    "tok* AND NOT merge",      # Boolean with a prefix leaf
    "scan OR LinkTo:3",        # Boolean with a LinkTo leaf
    "LinkTo:3",                # bare LinkTo: the one-leaf Boolean
    "zzzznothing",             # no rows
]
# prefix ranges past PREFIX_EXPAND_MAX, as ranked and Boolean leaves
RANGE_QUERIES = ["token* scan", "buf* AND NOT scan"]
BATCH = {"q0": "buffer merge", "q1": '"merge sort"', "q2": '"merge sort" scan', "q3": "mrege"}


@pytest.fixture(scope="module")
def src(spark):
    return spark.createDataFrame(corpus.generate_pandas(N_DOCS, seed=42))


@pytest.fixture(scope="module")
def citations(spark):
    edges = [(d, TARGET) for d in range(N_DOCS) if d % 7 == TARGET and d != TARGET]
    return pack_citations(spark.createDataFrame(edges, "src long, dst long"))


@pytest.fixture(scope="module")
def indexes(spark, src):
    """{(fields, one_shard): index} over the same documents."""
    out = {}
    for fields in ("plain", "two-field"):
        weights = FIELDS if fields == "two-field" else None
        source = src.select("doc_id", "content", "path") if weights else src
        for one in (True, False):
            out[fields, one] = build_index(
                spark, source, do_stem=True, field_weights=weights,
                **({} if one else {"doc_shard_size": 64}),
            )
    return out


def _rows(df, key=("doc_id", "score")):
    return [tuple(repr(r[c]) if c == "score" else r[c] for c in key) for r in df.collect()]


def _answers(ex: QueryExecutor, scorer: str) -> dict:
    queries = QUERIES if scorer == "bm25" else [q for q in QUERIES if "LinkTo" not in q]
    got = {q: _rows(ex.search(q, k=10)) for q in queries}
    ex.PREFIX_EXPAND_MAX = 0  # prefixes as term ranges
    got.update({q: _rows(ex.search(q, k=10)) for q in RANGE_QUERIES})
    del ex.PREFIX_EXPAND_MAX
    got["batch"] = _rows(ex.search_many(BATCH, k=10), ("query_id", "rank", "doc_id", "score"))
    return got


@pytest.mark.parametrize(
    "fields,scorer", [("plain", "bm25"), ("plain", "ql"), ("two-field", "bm25")]
)
def test_copy_collect_and_multi_shard_answer_alike(
    spark, src, citations, indexes, monkeypatch, fields, scorer
):
    """Rank+score identical across three executions: the copy, the forced
    one-collect path and a multi-shard index of the same documents."""
    source = src.select("doc_id", "content")
    executions = {}
    for name, one, limit in (
        ("copy", True, QueryExecutor.PACKED_COPY_MAX_TOKENS),
        ("collect", True, -1),
        ("multi-shard", False, QueryExecutor.PACKED_COPY_MAX_TOKENS),
    ):
        monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", limit)
        ex = QueryExecutor(
            spark, indexes[fields, one], source_df=source, packed_citations=citations,
            scorer=scorer,
        )
        executions[name] = _answers(ex, scorer)
        assert (ex._dictionary.copy is not None) == (name == "copy"), name
    copied = executions["copy"]
    assert copied == executions["collect"]
    assert copied == executions["multi-shard"]
    assert all(rows for q, rows in copied.items() if q != "zzzznothing"), copied


def _copied(ex: QueryExecutor) -> bool:
    ex._get_vocab()
    return ex._dictionary is not None and ex._dictionary.copy is not None


def test_copy_is_taken_only_under_its_gate(spark, src, citations, indexes, monkeypatch):
    """No copy past the total_tokens bound (one token is enough), on a
    multi-shard index, or without a cached dictionary; those executors
    still answer as the copy does."""
    source = src.select("doc_id", "content")
    one = indexes["plain", True]
    queries = ["buffer merge", "tok*", '"merge sort" buffer', "buffer AND NOT merge",
               "scan OR LinkTo:3", "mrege"]

    def executor(index):
        return QueryExecutor(spark, index, source_df=source, packed_citations=citations)

    ex = executor(one)
    assert _copied(ex)
    want = {q: _rows(ex.search(q, k=10)) for q in queries}
    assert all(want.values())

    tokens = one.stats.total_tokens
    monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", tokens)
    assert _copied(executor(one))  # the bound is inclusive
    monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", tokens - 1)
    past_bound = executor(one)
    assert not _copied(past_bound)
    monkeypatch.undo()

    multi = executor(indexes["plain", False])
    assert not _copied(multi)

    monkeypatch.setattr(QueryExecutor, "VOCAB_CACHE_MAX", 0)  # no cached dictionary
    uncached = executor(one)
    uncached._get_vocab()
    assert uncached._dictionary is None

    for name, other in (("past bound", past_bound), ("multi-shard", multi), ("uncached", uncached)):
        assert {q: _rows(other.search(q, k=10)) for q in queries} == want, name
