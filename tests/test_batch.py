"""Batched multi-query serving (wand.batch_topk / executor.search_many):
the whole query workload in ONE Spark action, rank+score identical to
per-query search(). The reference answers one query per call
(src/SearchEngine/SearchEngineTest.java:19-56 driving
AwesomeSearchEngine.java); batching amortizes the per-action fixed cost —
the real queries/sec lever at cluster scale."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.textproc import preprocess_query_terms
from awesome_spark_search.wand import batch_topk, wand_topk

N_DOCS = 250

BATCH = {
    "q0": "buffer merge scan",
    "q1": "compress encode varint",
    "q2": "posting list merge sort",  # shares 'merge' with q0
    "q3": "buffer",
    "q4": "zzzznothing",  # no hits at all
}


@pytest.fixture(scope="module")
def packed_index(spark):
    src = spark.createDataFrame(corpus.generate_pandas(N_DOCS, seed=42))
    idx = build_index(spark, src, do_stem=True, doc_shard_size=64)
    idx.doc_shard_size = 64
    return idx


def test_batch_matches_per_query_wand(spark, packed_index):
    term_sets = {
        qid: preprocess_query_terms(q, do_stem=True) for qid, q in BATCH.items()
    }
    got = batch_topk(
        spark, packed_index, {qid: ([], ts) for qid, ts in term_sets.items()}, k=10
    ).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    assert "q4" not in by_qid  # no postings -> no rows for that query only
    for qid, terms in term_sets.items():
        want = wand_topk(spark, packed_index, terms, k=10).collect()
        rows = by_qid.get(qid, [])
        assert [r["doc_id"] for r in rows] == [w["doc_id"] for w in want], qid
        assert [r["rank"] for r in rows] == list(range(1, len(want) + 1)), qid
        # one builder, one kernel: the batch scores are EQUAL
        assert [r["score"] for r in rows] == [w["score"] for w in want], qid


def test_search_many_matches_search(spark, packed_index):
    """Full pipeline parity for every batchable type: keyword bags, a typo'd
    query (batched correction), a dictionary-expanded prefix query, an exact
    phrase, and a Mixed query."""
    batch = dict(
        BATCH,
        q5="mrege",
        q6="token*",
        q7='"merge sort buffer"',
        q8='"merge sort" scan',
    )
    ex = QueryExecutor(spark, packed_index)
    got = ex.search_many(batch, k=10).collect()
    # the index is stemmed, so the correction target is the stemmed form —
    # exactly what single-query search("mrege") applies too
    assert ex.last_corrections.get("mrege") == "merg"
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in batch.items():
        want = ex.search(q, k=10).collect()
        rows = by_qid.get(qid, [])
        assert [(r["doc_id"], r["score"]) for r in rows] == [
            (w["doc_id"], w["score"]) for w in want
        ], qid


def test_search_many_is_lazy_and_never_scans_long_postings(
    spark, packed_index, no_long_postings
):
    """The batch is ONE user-level action by construction (a single collect
    on one composed plan); pinned here: building the plan schedules NO Spark
    job (laziness — a typo-free batch has zero driver-side actions once the
    vocab is warm; a typo'd term costs the usual single batched correction
    job, same as search()), and the long postings table is not needed: its
    decoder (``build.unpack_postings``) raises."""
    ex = QueryExecutor(spark, packed_index)
    ex._get_vocab()  # warm the vocab cache (one-time per executor, not per query)
    clean = {k: v for k, v in BATCH.items() if k != "q4"}  # q4 is a typo
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    plan = ex.search_many(clean, k=5)  # plan construction: zero actions
    assert len(tracker.getJobIdsForGroup() or []) == before
    assert len(plan.collect()) > 0


def test_search_many_rejects_unbatchable_types(spark, packed_index):
    ex = QueryExecutor(spark, packed_index)
    with pytest.raises(ValueError, match="one-pass queries only"):
        ex.search_many({"b": "buffer AND merge"})  # unranked (recency)
    with pytest.raises(ValueError, match="one-pass queries only"):
        ex.search_many({"l": "LinkTo:42"})
    with pytest.raises(ValueError, match="one-pass queries only"):
        ex.search_many({"p": "buffer merge #3"})  # PRF is two-pass
    # the packed index is the only serving path: there is nothing to opt out to
    with pytest.raises(ValueError, match="use_packed"):
        QueryExecutor(spark, packed_index, use_packed=False)
    with pytest.raises(ValueError, match="packed"):
        QueryExecutor(spark, dataclasses.replace(packed_index, packed=None))


def test_empty_batch_and_empty_terms(spark, packed_index):
    ex = QueryExecutor(spark, packed_index)
    empty = ex.search_many({}, k=5)
    # degenerate batches keep the full 4-column result shape — a downstream
    # select of 'rank' must not break only when the batch happens to be empty
    assert empty.columns == ["query_id", "rank", "doc_id", "score"]
    assert empty.select("query_id", "rank", "doc_id", "score").collect() == []
    # stop-word-only query tokenizes to nothing -> contributes no rows
    out = ex.search_many({"q0": "buffer", "q1": "the of and"}, k=5).collect()
    assert {r["query_id"] for r in out} == {"q0"}


def test_search_many_fielded_stays_zone_weighted(spark):
    """The fielded invariant extends to batches: search_many over a fielded
    index ranks EVERY query zone-weighted (wand.batch_topk on the fielded
    index), identical to per-query search() on the same executor — never a
    silent unfielded fallback."""
    from pyspark.sql import functions as F

    def word(i):
        return ["merge", "buffer", "sort", "alpha", "beta", "gamma", "delta"][i % 7]

    rows = [
        (
            d,
            " ".join(word(d + j) for j in range(1 + (d * 3) % 9)),
            " ".join(word(d * 2 + j) for j in range(1 + d % 3)),
        )
        for d in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    weights = {"body": 1.0, "title": 0.5}
    fidx = build_index(
        spark, df, do_stem=False, doc_shard_size=8, field_weights=weights
    )
    idx = build_index(
        spark,
        df.select("doc_id", F.concat_ws(" ", "body", "title").alias("content")),
        do_stem=False,
    )
    ex = QueryExecutor(spark, fidx)
    batch = {
        "kw": "merge buffer gamma",
        "ph": '"merge buffer"',
        "mx": '"merge buffer" delta',
    }
    got = ex.search_many(batch, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in batch.items():
        want = ex.search(q, k=10).collect()
        rows_q = by_qid.get(qid, [])
        assert [r["doc_id"] for r in rows_q] == [w["doc_id"] for w in want], qid
        for g, w in zip(rows_q, want):
            assert abs(g["score"] - w["score"]) < 1e-9, qid
    # and the batch really is zone-weighted: it must differ from the
    # UNFIELDED batch over the concatenated-field index for some query
    unfielded = QueryExecutor(spark, idx).search_many(
        batch, k=10
    ).collect()
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in got] != [
        (r["query_id"], r["doc_id"], r["score"]) for r in unfielded
    ]


def test_search_many_ql_matches_search(spark, packed_index):
    """Batched QL/JM (shared per-term decode across the batch) must return
    EXACTLY per-query search()'s ranks and scores under scorer='ql' (both
    sum contributions in sorted term order) — including the no-hit query,
    a typo'd query (batched correction), a dictionary-expanded prefix, an
    exact phrase and a Mixed query, the same coverage as the bm25 batch
    test."""
    batch = dict(
        BATCH, q5="mrege", q6="token*", q7='"merge sort buffer"', q8='"merge sort" scan'
    )
    ex = QueryExecutor(spark, packed_index, scorer="ql")
    got = ex.search_many(batch, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in batch.items():
        want = ex.search(q, k=10).collect()
        rows = by_qid.get(qid, [])
        assert [(r["doc_id"], r["score"]) for r in rows] == [
            (w["doc_id"], w["score"]) for w in want
        ], qid
    assert by_qid.get("q7") and by_qid.get("q8")  # the phrase forms do match
