"""Golden query battery (FIXTURES.md F2): ~25 queries across every query
type, rank- and score-identical to the pure-pandas oracle; plus the NDCG
evaluation loop (engine vs oracle ranking == 1.0)."""

import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.snippets import ndcg
from awesome_spark_search.textproc import preprocess_query_terms

from oracle import OracleIndex

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus_pdf():
    return corpus.generate_pandas(N_DOCS, seed=77)


@pytest.fixture(scope="module")
def executor(spark, corpus_pdf):
    src = spark.createDataFrame(corpus_pdf)
    idx = build_index(spark, src, do_stem=True)
    return QueryExecutor(spark, idx, source_df=src)


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return OracleIndex(dict(zip(corpus_pdf["doc_id"], corpus_pdf["content"])), do_stem=True)


KEYWORD_QUERIES = [
    "buffer",
    "merge",
    "compress encode",
    "posting list merge",
    "hash join shuffle spill",
    "the a of to buffer",          # stopword-heavy
    "vector matrix tensor kernel thread",
    "scan index token stream batch shard",
    "rareterma",                   # planted one-doc term
    "import",                      # hottest Zipf term (>30% of docs)
    "import def return",           # all hot terms
]


@pytest.mark.parametrize("q", KEYWORD_QUERIES)
def test_keyword_golden(executor, oracle, q):
    rows = executor.search(q, k=10).collect()
    expected = oracle.bm25_topk(preprocess_query_terms(q, do_stem=True), 10)
    assert [r["doc_id"] for r in rows] == [d for d, _ in expected], q
    for r, (_, s) in zip(rows, expected):
        assert abs(r["score"] - s) < 1e-9, q


PHRASE_QUERIES = ['"merge sort buffer"', '"merge sort"', '"sort buffer"']


@pytest.mark.parametrize("q", PHRASE_QUERIES)
def test_phrase_golden(executor, oracle, q):
    rows = executor.search(q, k=10).collect()
    terms = preprocess_query_terms(q.strip('"'), do_stem=True)
    docs = oracle.phrase_docs(terms)
    expected = oracle.bm25_topk(terms, 10, restrict=docs)
    assert [r["doc_id"] for r in rows] == [d for d, _ in expected], q


BOOL_CASES = [
    ("buffer AND merge", "and"),
    ("buffer OR varint", "or"),
    ("buffer NOT merge", "not"),
    ("import AND buffer", "and"),
]


@pytest.mark.parametrize("q,op", BOOL_CASES)
def test_boolean_golden(executor, oracle, q, op):
    rows = executor.search(q, k=10).collect()
    parts = q.split()
    a = set(oracle.postings.get(preprocess_query_terms(parts[0], do_stem=True)[0], {}))
    b = set(oracle.postings.get(preprocess_query_terms(parts[2], do_stem=True)[0], {}))
    combined = {"and": a & b, "or": a | b, "not": a - b}[op]
    assert [r["doc_id"] for r in rows] == sorted(combined, reverse=True)[:10], q


PREFIX_QUERIES = ["token*", "compr*", "po*"]


@pytest.mark.parametrize("q", PREFIX_QUERIES)
def test_prefix_golden(executor, oracle, q):
    rows = executor.search(q, k=10).collect()
    expected = oracle.bm25_topk([q], 10)
    assert [r["doc_id"] for r in rows] == [d for d, _ in expected], q


def test_ndcg_of_engine_vs_oracle_is_one(executor, oracle):
    """NDCG@10 of the engine ranking against the oracle ranking as gold."""
    rows = executor.search("buffer merge scan", k=10).collect()
    gold = [d for d, _ in oracle.bm25_topk(
        preprocess_query_terms("buffer merge scan", do_stem=True), 10
    )]
    results = [r["doc_id"] for r in rows]
    assert ndcg(gold, results, 10) == pytest.approx(1.0)
    # a scrambled ranking scores strictly lower
    assert ndcg(gold, list(reversed(results)), 10) < 1.0
