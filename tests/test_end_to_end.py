"""End-to-end: build index on the synthetic F1 corpus, run every query type,
assert rank-identical vs the pure-pandas oracle (SURVEY.md §5 item 2)."""

import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.textproc import preprocess_query_terms

from oracle import OracleIndex

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus_pdf():
    return corpus.generate_pandas(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def index(spark, corpus_pdf):
    src = spark.createDataFrame(corpus_pdf)
    return build_index(spark, src, do_stem=True)


@pytest.fixture(scope="module")
def executor(spark, index, corpus_pdf):
    src = spark.createDataFrame(corpus_pdf)
    return QueryExecutor(spark, index, source_df=src)


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    docs = dict(zip(corpus_pdf["doc_id"], corpus_pdf["content"]))
    return OracleIndex(docs, do_stem=True)


def _terms(q):
    return preprocess_query_terms(q, do_stem=True)


def assert_topk_equal(spark_rows, oracle_ranked, tol=1e-9):
    got = [(r["doc_id"], r["score"]) for r in spark_rows]
    assert [g[0] for g in got] == [o[0] for o in oracle_ranked], (
        f"rank mismatch\nspark={got}\noracle={oracle_ranked}"
    )
    for (gd, gs), (od, os_) in zip(got, oracle_ranked):
        assert abs(gs - os_) < tol, f"score mismatch doc {gd}: {gs} vs {os_}"


def test_stats_match(index, oracle):
    assert index.stats.n_docs == oracle.n_docs
    assert index.stats.total_tokens == oracle.total_tokens
    assert abs(index.stats.avgdl - oracle.avgdl) < 1e-9


def test_keyword_single_term(executor, oracle):
    rows = executor.search("buffer", k=10).collect()
    assert_topk_equal(rows, oracle.bm25_topk(_terms("buffer"), 10))


def test_keyword_multi_term(executor, oracle):
    rows = executor.search("buffer merge scan", k=10).collect()
    assert_topk_equal(rows, oracle.bm25_topk(_terms("buffer merge scan"), 10))


def test_keyword_with_stopwords(executor, oracle):
    rows = executor.search("the a of buffer", k=10).collect()
    assert_topk_equal(rows, oracle.bm25_topk(_terms("the a of buffer"), 10))


def test_rare_term_exact(executor, oracle):
    rows = executor.search("rareterma", k=10).collect()  # doc 0 plants it
    oracle_r = oracle.bm25_topk(_terms("rareterma"), 10)
    assert len(oracle_r) == 1
    assert_topk_equal(rows, oracle_r)


def test_prefix_query(executor, oracle):
    rows = executor.search("token*", k=10).collect()
    assert_topk_equal(rows, oracle.bm25_topk(["token*"], 10))


def test_phrase_query(executor, oracle):
    rows = executor.search('"merge sort buffer"', k=10).collect()
    terms = _terms("merge sort buffer")
    docs = oracle.phrase_docs(terms)
    assert docs, "planted phrase must match"
    expected = oracle.bm25_topk(terms, 10, restrict=docs)
    assert_topk_equal(rows, expected)


def test_phrase_no_match(executor, oracle):
    rows = executor.search('"buffer buffer buffer buffer"', k=10).collect()
    terms = _terms("buffer buffer buffer buffer")
    docs = oracle.phrase_docs(terms)
    expected = oracle.bm25_topk(terms, 10, restrict=docs)
    assert_topk_equal(rows, expected)


def test_boolean_and(executor, oracle):
    rows = executor.search("buffer AND merge", k=10).collect()
    a = set(oracle.postings.get("buffer", {}))
    b = set(oracle.postings.get("merg", {}))
    expected = sorted(a & b, reverse=True)[:10]
    assert [r["doc_id"] for r in rows] == expected
    assert all(r["score"] is None for r in rows)


def test_boolean_or(executor, oracle):
    rows = executor.search("varint OR atomic", k=10).collect()
    a = set(oracle.postings.get("varint", {}))
    b = set(oracle.postings.get("atom", {}))
    expected = sorted(a | b, reverse=True)[:10]
    assert [r["doc_id"] for r in rows] == expected


def test_boolean_not(executor, oracle):
    rows = executor.search("buffer NOT merge", k=10).collect()
    a = set(oracle.postings.get("buffer", {}))
    b = set(oracle.postings.get("merg", {}))
    expected = sorted(a - b, reverse=True)[:10]
    assert [r["doc_id"] for r in rows] == expected


def test_mixed_query(executor, oracle):
    rows = executor.search('"merge sort" compress', k=10).collect()
    ph_terms = _terms("merge sort")
    kw_terms = _terms("compress")
    docs = oracle.phrase_docs(ph_terms)
    # scoring = union of phrase-term matches (restricted) + keyword matches
    import collections
    scores = collections.defaultdict(float)
    for d, s in oracle.bm25_topk(ph_terms, 10**9, restrict=docs):
        scores[d] += s
    for d, s in oracle.bm25_topk(kw_terms, 10**9):
        scores[d] += s
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert_topk_equal(rows, expected)


def test_spelling_correction(executor, oracle):
    # 'bufer' is not an indexed term; nearest by DL<=3 sharing 'b', len±2
    rows = executor.search("bufer", k=10).collect()
    expected = oracle.bm25_topk(["buffer"], 10)
    assert_topk_equal(rows, expected)


def test_spelling_correction_with_partial_match(executor, oracle):
    """Reference semantics: a missing token is corrected even when the other
    tokens already produce matches (QueryProcessor.java:397-417)."""
    rows = executor.search("compress bufer", k=10).collect()
    expected = oracle.bm25_topk(_terms("compress buffer"), 10)
    assert_topk_equal(rows, expected)


def test_empty_result(executor):
    rows = executor.search("zzzyxqqwv", k=10).collect()
    assert rows == []


def test_prf_query(executor, oracle, corpus_pdf):
    """Reference parity: PRF terms come from the GENERATED SNIPPETS of the
    top docs concatenated in rank order (QueryProcessor.java:427-438), not
    from full contents. The snippet algorithm itself is pinned by
    tests/test_snippets_golden.py."""
    from collections import Counter

    from awesome_spark_search.snippets import generate_snippet
    from awesome_spark_search.textproc import tokenize_text

    rows = executor.search("compress #3", k=10).collect()
    base = oracle.bm25_topk(_terms("compress"), 3)
    top_ids = [d for d, _ in base]
    base_terms = set(_terms("compress"))
    contents = dict(zip(corpus_pdf["doc_id"], corpus_pdf["content"]))
    concatenated = " ".join(
        generate_snippet(contents[d], sorted(base_terms), do_stem=True)
        for d in top_ids
    )
    _, pairs = tokenize_text(concatenated, do_stem=True)
    counter = Counter(t for t, _ in pairs)
    ranked = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))
    prf_terms = [t for t, _ in ranked if t not in base_terms][:10]
    weights = {t: 0.25 for t in prf_terms}
    weights.update({t: 1.0 for t in base_terms})
    expected = oracle.bm25_topk(list(base_terms) + prf_terms, 10, weights=weights)
    assert_topk_equal(rows, expected)


def test_sha256_invariant(spark, index, corpus_pdf):
    import hashlib

    got = {r["doc_id"]: r["content_sha256"] for r in index.doc_map.collect()}
    for _, row in corpus_pdf.iterrows():
        want = hashlib.sha256(row["content"].encode()).hexdigest()
        assert got[row["doc_id"]] == want


def test_posting_invariants(index):
    from pyspark.sql import functions as F

    p = index.postings
    bad_sort = p.filter(
        F.col("positions") != F.sort_array("positions")
    ).count()
    assert bad_sort == 0
    # df == number of postings rows per term; cf == sum of tfs
    agg = p.groupBy("term").agg(
        F.count(F.lit(1)).alias("df2"), F.sum("tf").alias("cf2")
    )
    joined = index.term_stats.join(agg, "term")
    mism = joined.filter(
        (F.col("df") != F.col("df2")) | (F.col("cf") != F.col("cf2"))
    ).count()
    assert mism == 0
