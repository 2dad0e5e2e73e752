"""Packed-only serving: with the decoder of the long posting rows made to
raise (``build.unpack_postings``, behind ``Index.postings``), search()
answers EVERY query type off the packed index — under bm25, under ql, and
on a fielded executor — rank+score identical to the pure-Python oracle
(tests/oracle.py). With
``VOCAB_CACHE_MAX = 0`` no prefix can be expanded from a cached vocabulary,
so prefixes reach the packed plans as term ranges."""

import pytest
from pyspark.sql import functions as F

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.pagerank import pack_citations

from oracle import OracleIndex

pytestmark = pytest.mark.usefixtures("no_long_postings")

N_DOCS = 250
TARGET = 3  # LinkTo target, cited by every doc d with d % 7 == 3
CITING = {TARGET: {d for d in range(N_DOCS) if d % 7 == TARGET and d != TARGET}}


@pytest.fixture(scope="module")
def pdf():
    return corpus.generate_pandas(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def src(spark, pdf):
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def index(spark, src):
    return build_index(spark, src, do_stem=True, doc_shard_size=64)


@pytest.fixture(scope="module")
def citations(spark):
    edges = [(d, TARGET) for d in CITING[TARGET]] + [(d, 5) for d in range(0, N_DOCS, 11)]
    return pack_citations(spark.createDataFrame(edges, "src long, dst long"))


@pytest.fixture(scope="module")
def oracle(pdf):
    return OracleIndex(dict(zip(pdf["doc_id"], pdf["content"])), do_stem=True)


RANKED = [
    "buffer merge scan",       # keyword
    "token*",                  # prefix
    "mrege",                   # corrected (-> merg)
    '"merge sort"',            # phrase
    '"merge sort" buffer',     # Mixed
    '"merge sort" token*',     # Mixed with a prefix keyword
    "buffer merge #3",         # PRF
    "token* scan #3",          # PRF over a prefix
]
UNRANKED = [
    "token* AND merge",        # Boolean with a prefix leaf
    f"merge AND LinkTo:{TARGET}",
    f"LinkTo:{TARGET} NOT merge",
    f"LinkTo:{TARGET}",
]


def _rows(ex, query):
    return [(r["doc_id"], r["score"]) for r in ex.search(query, k=10).collect()]


def assert_rows_equal(got, want, query):
    """Same ranking; scores within 1e-9, NULL exactly where expected."""
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, g), (_, w) in zip(got, want):
        assert (g is None) if w is None else abs(g - w) < 1e-9, query


@pytest.mark.parametrize("vocab_cache", [True, False])
@pytest.mark.parametrize("scorer", ["bm25", "ql"])
def test_every_query_type_serves_packed_only(
    spark, index, src, citations, oracle, pdf, scorer, vocab_cache
):
    ex = QueryExecutor(
        spark, index, source_df=src, packed_citations=citations, scorer=scorer
    )
    if not vocab_cache:
        ex.VOCAB_CACHE_MAX = 0  # prefixes stay term ranges
    contents = dict(zip(pdf["doc_id"], pdf["content"]))
    for query in RANKED + UNRANKED:
        got = _rows(ex, query)
        want = oracle.search(
            query, scorer=scorer, corrections=ex.last_corrections,
            contents=contents, citations=CITING,
        )
        assert want, query  # the fixture must exercise the query type
        assert_rows_equal(got, want, query)
    ex.search("mrege")
    assert ex.last_corrections == {"mrege": "merg"}


def test_fielded_executor_serves_packed_only(spark, citations):
    """A fielded executor ranks every query type zone-weighted off the
    packed fielded index; with prefixes as term ranges it must return
    EXACTLY what the same executor returns with the vocabulary cached."""
    pdf = corpus.generate_pandas(N_DOCS, seed=42)
    pdf["title"] = [" ".join(c.split()[:5]) for c in pdf["content"]]
    fsrc = spark.createDataFrame(pdf[["doc_id", "content", "title"]])
    fidx = build_index(
        spark, fsrc, do_stem=True, doc_shard_size=64,
        field_weights={"content": 1.0, "title": 0.5},
    )
    plain = fsrc.select("doc_id", F.concat_ws(" ", "content", "title").alias("content"))

    def executor():
        return QueryExecutor(spark, fidx, source_df=plain, packed_citations=citations)

    cached, ranges = executor(), executor()
    ranges.VOCAB_CACHE_MAX = 0
    for query in RANKED + UNRANKED:
        want = _rows(cached, query)
        assert want, query
        assert _rows(ranges, query) == want, query


def test_boolean_unions_a_terms_fields(spark, citations):
    """Boolean and LinkTo on a multi-field index: a term's doc set is the
    union over its field rows, so every unranked query returns exactly the
    rows of the plain index over the joined fields. Each title is lifted
    from the NEXT doc, so a term's content-only and title-only docs both
    exist and losing either field's rows shows."""
    pdf = corpus.generate_pandas(N_DOCS, seed=42)
    nxt = pdf["content"].tolist()[1:] + pdf["content"].tolist()[:1]
    pdf["title"] = [" ".join(c.split()[:5]) for c in nxt]
    fsrc = spark.createDataFrame(pdf[["doc_id", "content", "title"]])
    fidx = build_index(
        spark, fsrc, do_stem=True, doc_shard_size=64,
        field_weights={"content": 1.0, "title": 0.5},
    )
    plain = fsrc.select("doc_id", F.concat_ws(" ", "content", "title").alias("content"))
    pidx = build_index(spark, plain, do_stem=True, doc_shard_size=64)
    ex_f = QueryExecutor(spark, fidx, packed_citations=citations)
    ex_p = QueryExecutor(spark, pidx, packed_citations=citations)
    for query in UNRANKED:
        want = _rows(ex_p, query)
        assert want, query
        assert _rows(ex_f, query) == want, query


def _persisted(spark) -> set:
    """Ids of the session's persisted RDDs (a cached frame's, once built)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_in_memory_build_persists_postings_only_when_read_again(spark, src, pdf, tmp_path):
    """A one-field in-memory build reads its tokenized posting rows once
    (the pack job), so it does not persist them: once its frames are
    computed, the session holds exactly three new caches (doc_map, packed,
    term_stats). A two-field build reads them again for term_stats
    (``any_field_term_stats``), so it holds a fourth; a checkpointed
    two-field build drops it once term_stats is written. The one-field
    build's answers still equal the oracle's."""
    # a source no other build of the session reads (an equal plan would
    # share that build's caches), and the checkpointed build first, so its
    # tokenized rows are a cache of its own
    own = src.filter(F.col("doc_id") < N_DOCS - 1)
    fielded = own.select("doc_id", "content", "path")
    weights = {"content": 1.0, "path": 0.5}

    def new_caches(**kw):
        before = _persisted(spark)
        ix = build_index(spark, kw.pop("source", own), do_stem=True, doc_shard_size=64, **kw)
        ix.packed.count(), ix.term_stats.count(), ix.doc_map.count()
        return ix, len(_persisted(spark) - before)

    _, n_ckpt = new_caches(source=fielded, field_weights=weights,
                           checkpoint_dir=str(tmp_path / "stages"))
    two, n_two = new_caches(source=fielded, field_weights=weights)
    one, n_one = new_caches()
    assert (n_one, n_two, n_ckpt) == (3, 4, 0)
    for ix in (one, two):
        assert ix.doc_map.is_cached and ix.packed.is_cached and ix.term_stats.is_cached
    ex = QueryExecutor(spark, one, source_df=own)
    contents = {d: c for d, c in zip(pdf["doc_id"], pdf["content"]) if d < N_DOCS - 1}
    oracle = OracleIndex(contents, do_stem=True)
    for query in ["buffer merge scan", '"merge sort" buffer', "token* AND merge"]:
        want = oracle.search(query, scorer="bm25", corrections={}, contents=contents)
        assert want, query
        assert_rows_equal(_rows(ex, query), want, query)
