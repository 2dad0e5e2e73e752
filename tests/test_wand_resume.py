"""Packed serving (block-max WAND, phrase, Mixed, PRF, QL, Boolean) vs the
pure-Python oracle, and checkpoint-resume semantics of the stage runner
(SURVEY.md §5 items 4-5)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.textproc import doc_postings_flat, preprocess_query_terms
from awesome_spark_search.wand import wand_topk

from oracle import OracleIndex

N_DOCS = 250


@pytest.fixture(scope="module")
def packed_index(spark):
    src = spark.createDataFrame(corpus.generate_pandas(N_DOCS, seed=42))
    # tiny doc_shard_size so the test actually exercises multi-shard merging
    return build_index(spark, src, do_stem=True, doc_shard_size=64)


@pytest.fixture(scope="module")
def packed_src(spark):
    # same generator + seed as packed_index's corpus: doc_ids line up
    return spark.createDataFrame(corpus.generate_pandas(N_DOCS, seed=42))


@pytest.fixture(scope="module")
def contents():
    pdf = corpus.generate_pandas(N_DOCS, seed=42)
    return dict(zip(pdf["doc_id"], pdf["content"]))


@pytest.fixture(scope="module")
def oracle(contents):
    return OracleIndex(contents, do_stem=True)


def _assert_matches(rows, want, query):
    assert [r["doc_id"] for r in rows] == [d for d, _ in want], query
    for r, (_, w) in zip(rows, want):
        if w is None:
            assert r["score"] is None, query
        else:
            assert abs(r["score"] - w) < 1e-9, query


@pytest.mark.parametrize(
    "query",
    ["buffer", "buffer merge scan", "compress encode varint", "posting list merge sort"],
)
def test_wand_matches_dataframe_bm25(spark, packed_index, oracle, query):
    """wand_topk (block skipping on) is rank+score identical to exhaustive
    BM25 (the oracle)."""
    terms = preprocess_query_terms(query, do_stem=True)
    got = wand_topk(spark, packed_index, terms, k=10).collect()
    _assert_matches(got, oracle.bm25_topk(terms, 10), query)


@pytest.mark.parametrize("query", ['"merge sort buffer"', '"merge sort"'])
def test_phrase_topk_matches_dataframe_path(spark, packed_index, oracle, query):
    from awesome_spark_search.wand import phrase_topk

    terms = preprocess_query_terms(query.strip('"'), do_stem=True)
    got = phrase_topk(spark, packed_index, terms, k=10).collect()
    assert got, query
    _assert_matches(got, oracle.search(query), query)


@pytest.mark.parametrize(
    "query",
    [
        "buffer merge scan",
        '"merge sort buffer"',
        "mrege",
        "buffer AND merge",
        "buffer NOT merge",
        "varint OR atomic",
        "token*",
    ],
)
def test_packed_serving_mode_matches_dataframe_path(spark, packed_index, oracle, query):
    """search() agrees with the oracle for every dispatchable query type,
    including the spelling correction and the Boolean set algebra."""
    ex = QueryExecutor(spark, packed_index)
    got = ex.search(query, k=10).collect()
    assert got, query
    _assert_matches(got, oracle.search(query, corrections=ex.last_corrections), query)


@pytest.mark.parametrize(
    "query",
    [
        '"merge sort" buffer',        # Mixed: phrase + keyword
        '"merge" buffer scan',        # Mixed with one-word phrase
        '"merge sort buffer" token*', # Mixed with prefix keyword
        "buffer merge #3",            # PRF keyword two-pass
        "buffer merge scan #5",
    ],
)
def test_packed_mixed_and_prf_match_dataframe_path(
    spark, packed_index, packed_src, oracle, contents, query
):
    """Mixed (seeded WAND) and PRF (weighted two-pass WAND) queries rank
    and score like the oracle."""
    ex = QueryExecutor(spark, packed_index, source_df=packed_src)
    got = ex.search(query, k=10).collect()
    assert got, query
    _assert_matches(got, oracle.search(query, contents=contents), query)


@pytest.mark.parametrize("query", ["buffer", "buffer merge scan", "token*"])
def test_packed_ql_matches_dataframe_path(spark, packed_index, oracle, query):
    """The QL/JM scorer ranks+scores off the packed index (wand.ql_topk:
    per-shard decode, dl from dls_vb, broadcast cf) like the oracle."""
    ex = QueryExecutor(spark, packed_index, scorer="ql")
    got = ex.search(query, k=10).collect()
    assert len(got) > 0
    _assert_matches(got, oracle.search(query, scorer="ql"), query)


@pytest.mark.parametrize("scorer", ["bm25", "ql"])
def test_packed_serving_never_scans_long_postings(
    spark, packed_index, packed_src, scorer, no_long_postings
):
    """Serving needs no long postings table: with its decoder
    (``build.unpack_postings``) made to raise, every query type still
    answers under BOTH scorers (tests/test_packed_only.py checks the
    answers)."""
    ex = QueryExecutor(spark, packed_index, source_df=packed_src, scorer=scorer)
    for query in [
        "buffer merge scan",
        "token*",
        '"merge sort"',
        "buffer AND merge",
        '"merge sort" buffer',
        "buffer merge #3",
    ]:
        assert ex.search(query, k=5).collect(), query


def test_packed_linkto_via_search(spark, packed_index):
    """LinkTo through the full search() pipeline with ONLY the packed
    citation index registered (ref: CitationIndexReader.java:61-112 —
    serving happens off the compressed index)."""
    from awesome_spark_search.pagerank import pack_citations

    edges = spark.createDataFrame(
        [(1, 42), (7, 42), (3, 5), (42, 7)], "src long, dst long"
    )
    ex = QueryExecutor(
        spark, packed_index,
        packed_citations=pack_citations(edges),
    )
    got = ex.search("LinkTo:42", k=10).collect()
    assert [r["doc_id"] for r in got] == [7, 1]  # recency: doc_id DESC
    assert all(r["score"] is None for r in got)


def test_phrase_topk_no_match(spark, packed_index):
    from awesome_spark_search.wand import phrase_topk

    assert phrase_topk(spark, packed_index, ["buffer", "zzznope"], k=10).collect() == []


def test_decode_postings_roundtrip(spark, packed_index, packed_src):
    """The packed blobs decode back to the tokenizer's own posting rows."""
    from awesome_spark_search.wand import decode_postings

    tokenized = doc_postings_flat(packed_src, do_stem=True).filter(F.col("term") == "buffer")
    want = {(r["doc_id"], r["tf"]) for r in tokenized.select("doc_id", "tf").collect()}
    got = {
        (r["doc_id"], r["tf"])
        for r in decode_postings(packed_index, "buffer").collect()
    }
    assert got == want and len(got) > 0

    want_pos = {
        (r["doc_id"], r["pos"])
        for r in tokenized.select("doc_id", F.explode("positions").alias("pos")).collect()
    }
    got_pos = {
        (r["doc_id"], r["pos"])
        for r in decode_postings(packed_index, "buffer", with_positions=True).collect()
    }
    assert got_pos == want_pos


def test_wand_unknown_term_empty(spark, packed_index):
    got = wand_topk(spark, packed_index, ["zzzznotaterm"], k=10).collect()
    assert got == []


# ---------------------------------------------------------------------------
# checkpoint-resume
# ---------------------------------------------------------------------------


def _manifests(d):
    return sorted(f for f in os.listdir(d) if f.endswith("._manifest.json"))


def test_checkpoint_resume_skips_completed_stages(spark, tmp_path):
    src = spark.createDataFrame(corpus.generate_pandas(80, seed=3))
    ckpt = str(tmp_path / "stages")

    idx1 = build_index(spark, src, do_stem=False, checkpoint_dir=ckpt)
    first = {r["term"]: (r["df"], r["cf"]) for r in idx1.term_stats.collect()}
    manifests = _manifests(ckpt)
    # packed is the only stored form of the postings: no long-table stage
    assert set(manifests) == {
        f"{s}._manifest.json" for s in ("doc_map", "stats", "packed", "term_stats")
    }

    # every manifest records per-partition lineage, each file relative to
    # its stage directory
    for name in manifests:
        with open(os.path.join(ckpt, name)) as f:
            m = json.load(f)
        assert m["complete"] and m["rows"] > 0 and len(m["partitions"]) > 0
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
        stage_dir = os.path.join(ckpt, m["stage"])
        for p in m["partitions"]:
            assert os.path.isfile(os.path.join(stage_dir, p["file"])), p["file"]

    # simulate a kill AFTER packed but BEFORE term_stats: delete downstream
    # manifests, corrupt nothing else
    for name in ("term_stats._manifest.json", "stats._manifest.json"):
        p = os.path.join(ckpt, name)
        if os.path.exists(p):
            os.remove(p)
    packed_mtime = os.path.getmtime(os.path.join(ckpt, "packed._manifest.json"))

    idx2 = build_index(spark, src, do_stem=False, checkpoint_dir=ckpt)
    second = {r["term"]: (r["df"], r["cf"]) for r in idx2.term_stats.collect()}

    # identical results after resume
    assert first == second
    # completed upstream stages were skipped (manifest untouched)
    assert os.path.getmtime(os.path.join(ckpt, "packed._manifest.json")) == packed_mtime
    # only the re-run stages appear in the second run's metrics
    rerun = {m["stage"] for m in idx2.build_metrics}
    assert "packed" not in rerun and "doc_map" not in rerun
    assert "term_stats" in rerun


def test_checkpoint_idempotent_rebuild(spark, tmp_path):
    """Full rerun over a complete checkpoint dir re-runs nothing."""
    src = spark.createDataFrame(corpus.generate_pandas(40, seed=5))
    ckpt = str(tmp_path / "stages2")
    build_index(spark, src, do_stem=False, checkpoint_dir=ckpt)
    idx2 = build_index(spark, src, do_stem=False, checkpoint_dir=ckpt)
    assert idx2.build_metrics == []
