"""Field/zone-weighted scoring (reference ContentType weights analog): a
fielded index is ``build_index(..., field_weights=...)``, served by the same
plans as a plain one and checked against the zone-weighted oracle
(tests/oracle.py FieldedOracleIndex)."""

from awesome_spark_search.build import build_index
from awesome_spark_search.wand import mixed_topk, phrase_topk, wand_topk

from oracle import FieldedOracleIndex


def _corpus(spark):
    rows = [
        (0, "merge buffer merge", "title merge here"),
        (1, "merge buffer", "other title"),
        (2, "buffer only text", "title merge here"),
        (3, "nothing relevant", "other title"),
    ]
    return spark.createDataFrame(rows, "doc_id long, body string, title string")


def _fielded(spark, df, weights, **kw):
    return build_index(spark, df, do_stem=False, field_weights=weights, **kw)


def _oracle(df, weights):
    return FieldedOracleIndex(
        {r["doc_id"]: {f: r[f] for f in weights} for r in df.collect()},
        weights, do_stem=False,
    )


def _assert_matches(got, want, label):
    """Same ranking as the oracle, scores within 1e-9."""
    assert [r["doc_id"] for r in got] == [d for d, _ in want], label
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) < 1e-9, (label, r, s)


def test_title_weight_boosts_title_matches(spark):
    df = _corpus(spark)
    weights = {"body": 1.0, "title": 2.0}
    top = wand_topk(spark, _fielded(spark, df, weights), ["merge"], k=4).collect()
    got = [r["doc_id"] for r in top]
    # doc 0 matches in both fields -> highest; doc 3 matches nowhere
    assert got[0] == 0
    assert 3 not in got
    # title-only match (doc 2, w=2) outranks body-only match (doc 1, w=1)
    assert got.index(2) < got.index(1)


def test_zero_weight_field_is_ignored(spark):
    df = _corpus(spark)
    weights = {"body": 1.0, "title": 0.0}
    top = wand_topk(spark, _fielded(spark, df, weights), ["merge"], k=4).collect()
    ids = {r["doc_id"] for r in top if r["score"] > 0}
    assert ids == {0, 1}  # title-only matches score 0


def _four_zone_df(spark):
    rows = [
        (0, "merge sort", "merge", "alpha", "merge merge alpha"),
        (1, "alpha beta", "merge sort", "merge", "beta gamma"),
        (2, "sort sort", "gamma", "beta alpha", "alpha"),
        (3, "delta", "delta", "delta", "delta"),
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, title string, abstract string, "
        "claims string, description string",
    )


def test_reference_four_zone_preset_golden(spark):
    """The pinned Title/Abstract/Claims/Description preset (ContentType.java:
    6-9 weights 0.5/0.25/0.15/0.1) against hand-computed BM25: every score
    of the full search() pipeline, and of the oracle, must match the
    closed-form weighted sum to 1e-9."""
    import math

    from awesome_spark_search.build import K1, B, REFERENCE_ZONES
    from awesome_spark_search.executor import QueryExecutor

    assert REFERENCE_ZONES == {
        "title": 0.5, "abstract": 0.25, "claims": 0.15, "description": 0.1
    }
    assert abs(sum(REFERENCE_ZONES.values()) - 1.0) < 1e-12

    df = _four_zone_df(spark)
    idx = _fielded(spark, df, REFERENCE_ZONES)
    top = QueryExecutor(spark, idx).search("merge", k=4).collect()

    # hand-computed: df(merge)=2 of n_docs=4 -> idf = ln((4-2+.5)/(2+.5)+1)
    idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1.0)
    avgdl = {"title": 1.75, "abstract": 1.25, "claims": 1.25, "description": 1.75}

    def tfnorm(tf, dl, av):
        return tf / (tf + K1 * (1 - B + B * dl / av))

    want = {
        0: (
            0.5 * idf * tfnorm(1, 2, avgdl["title"])
            + 0.25 * idf * tfnorm(1, 1, avgdl["abstract"])
            + 0.1 * idf * tfnorm(2, 3, avgdl["description"])
        ),
        1: (
            0.25 * idf * tfnorm(1, 2, avgdl["abstract"])
            + 0.15 * idf * tfnorm(1, 1, avgdl["claims"])
        ),
    }
    got = {r["doc_id"]: r["score"] for r in top}
    assert set(got) == {0, 1}  # docs 2 and 3 contain no query term
    for d, w in want.items():
        assert abs(got[d] - w) < 1e-9, (d, got[d], w)
    assert [r["doc_id"] for r in top] == [0, 1]
    assert idx.stats.avgdl_by_field == avgdl
    oracle = dict(_oracle(df, REFERENCE_ZONES).bm25_topk(["merge"], k=4))
    for d, w in want.items():
        assert abs(oracle[d] - w) < 1e-9, (d, oracle[d], w)


def _word(i: int) -> str:
    return ["merge", "buffer", "sort", "alpha", "beta", "gamma", "delta"][i % 7]


def _big_corpus(spark, n=40):
    """Deterministic multi-field corpus: varied lengths/frequencies so the
    engine and the oracle genuinely disagree unless the math matches."""
    rows = []
    for d in range(n):
        body = " ".join(_word(d + j) for j in range(1 + (d * 3) % 9))
        title = " ".join(_word(d * 2 + j) for j in range(1 + d % 3))
        rows.append((d, body, title))
    return spark.createDataFrame(rows, "doc_id long, body string, title string")


def test_packed_fielded_matches_long_table(spark):
    """wand_topk on a two-field index (per-field avgdl, w_f scaling idf)
    must be rank+score identical to the zone-weighted oracle — multiple doc
    shards, multi-term query, a zone weight != 1."""
    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    idx = _fielded(spark, df, weights, doc_shard_size=8)
    oracle = _oracle(df, weights)
    for terms in (["merge"], ["merge", "buffer", "gamma"], ["delta", "sort"]):
        got = wand_topk(spark, idx, terms, k=10).collect()
        _assert_matches(got, oracle.bm25_topk(terms, k=10), terms)


def test_packed_fielded_four_zone_preset(spark):
    """The pinned four-zone preset through the packed WAND entry point
    reproduces the same hand-computed golden as the search() path."""
    import math

    from awesome_spark_search.build import K1, B, REFERENCE_ZONES

    idx = _fielded(spark, _four_zone_df(spark), REFERENCE_ZONES)
    top = wand_topk(spark, idx, ["merge"], k=4).collect()
    idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1.0)
    avgdl = {"title": 1.75, "abstract": 1.25, "claims": 1.25, "description": 1.75}

    def tfnorm(tf, dl, av):
        return tf / (tf + K1 * (1 - B + B * dl / av))

    want = {
        0: (
            0.5 * idf * tfnorm(1, 2, avgdl["title"])
            + 0.25 * idf * tfnorm(1, 1, avgdl["abstract"])
            + 0.1 * idf * tfnorm(2, 3, avgdl["description"])
        ),
        1: (
            0.25 * idf * tfnorm(1, 2, avgdl["abstract"])
            + 0.15 * idf * tfnorm(1, 1, avgdl["claims"])
        ),
    }
    got = {r["doc_id"]: r["score"] for r in top}
    assert set(got) == {0, 1}
    for d, w in want.items():
        assert abs(got[d] - w) < 1e-9, (d, got[d], w)


def test_executor_serves_fielded_keyword(spark):
    """QueryExecutor over a fielded index runs keyword queries through the
    zone-weighted packed scorer — full search() pipeline (tokenize, vocab,
    localization) with fielded ranking, like the reference's always-zoned
    DocumentRanker."""
    from awesome_spark_search.executor import QueryExecutor

    df = _big_corpus(spark)
    idx = _fielded(spark, df, {"body": 1.0, "title": 0.5})
    got = QueryExecutor(spark, idx).search("merge buffer gamma", k=10).collect()
    want = wand_topk(spark, idx, ["merge", "buffer", "gamma"], k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_fielded_phrase_packed_matches_long_table(spark):
    """phrase_topk on a two-field index (per-field _phrase_eval merged
    across zones) must be rank+score identical to the oracle's per-(doc,
    field) adjacency then zone-weighted scoring."""
    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    idx = _fielded(spark, df, weights, doc_shard_size=8)
    oracle = _oracle(df, weights)
    for terms in (["buffer", "sort"], ["merge"], ["sort", "alpha", "beta"]):
        want = oracle._ranked("bm25", terms, [])[:10]
        assert len(want) > 0, terms  # fixture must exercise the phrase
        _assert_matches(phrase_topk(spark, idx, terms, k=10).collect(), want, terms)


def test_fielded_phrase_zone_restriction(spark):
    """A phrase spanning a zone boundary must NOT match: doc 0 holds
    'merge' at the end of body and 'gamma' at the start of title — adjacent
    in a naive concat, but in no single zone."""
    rows = [
        (0, "alpha merge", "gamma beta"),
        (1, "merge gamma", "beta beta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    idx = _fielded(spark, df, {"body": 1.0, "title": 0.5})
    got = phrase_topk(spark, idx, ["merge", "gamma"], k=5).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_fielded_mixed_packed_matches_long_table(spark):
    """mixed_topk on a two-field index (per-field phrase seeds +
    zone-weighted WAND) vs the oracle — including a term in BOTH lists
    (survivors double-count it, like the unfielded Mixed semantics)."""
    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    idx = _fielded(spark, df, weights, doc_shard_size=8)
    oracle = _oracle(df, weights)
    cases = [
        (["buffer", "sort"], ["merge", "delta"]),
        (["buffer", "sort"], ["sort"]),   # overlapping term
        (["merge"], ["gamma"]),           # one-word phrase
    ]
    for ph, kw in cases:
        want = oracle._ranked("bm25", ph, kw)[:10]
        assert len(want) > 0, (ph, kw)
        _assert_matches(mixed_topk(spark, idx, ph, kw, k=10).collect(), want, (ph, kw))


def _fielded_executor(spark, df, weights):
    """An executor over a fielded index; PRF snippets come from the fields
    joined into one content column."""
    from pyspark.sql import functions as F

    from awesome_spark_search.executor import QueryExecutor

    src = df.select(
        "doc_id", F.concat_ws(" ", "body", "title").alias("content")
    )
    return QueryExecutor(spark, _fielded(spark, df, weights), source_df=src), src


def test_executor_fielded_never_falls_back_to_unfielded(spark):
    """An executor over a fielded index must rank EVERY ranked query type
    zone-weighted — keyword, phrase, Mixed, and PRF (ref:
    DocumentRanker.java:138-167 weights every ranked ContentType): each
    query's rows equal the zone-weighted oracle's, and for at least one
    query they differ from a plain index over the joined fields (ranking
    that index instead is the silent-fallback bug this test pins)."""
    from awesome_spark_search.executor import QueryExecutor

    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    ex, src = _fielded_executor(spark, df, weights)
    plain = QueryExecutor(spark, build_index(spark, src, do_stem=False), source_df=src)
    oracle = _oracle(df, weights)
    contents = {r["doc_id"]: r["content"] for r in src.collect()}
    differs = False
    for query in [
        "merge buffer",
        '"buffer sort"',
        '"buffer sort" merge',
        "merge buffer #3",
    ]:
        rows = ex.search(query, k=5).collect()
        assert len(rows) > 0, query
        want = oracle.search(query, k=5, contents=contents)
        _assert_matches(rows, want, query)
        differs |= [(r["doc_id"], r["score"]) for r in rows] != [
            (r["doc_id"], r["score"]) for r in plain.search(query, k=5).collect()
        ]
    assert differs
    # Boolean stays unranked (recency order, score NULL) by design
    rows = ex.search("merge AND buffer", k=5).collect()
    assert all(r["score"] is None for r in rows)


def test_executor_fielded_prf_matches_long_table_two_pass(spark):
    """Fielded PRF end-to-end vs an independent recomputation: pass 1 =
    zone-weighted oracle BM25 top-3, expansion = 10 most frequent new
    snippet tokens (Counter reimplementation), pass 2 = zone-weighted
    oracle BM25 with expansion terms at weight 0.25 (overlaps at 1.25)."""
    from collections import Counter

    from awesome_spark_search.scoring import PRF_WEIGHT
    from awesome_spark_search.textproc import tokenize_text

    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    ex, _ = _fielded_executor(spark, df, weights)
    oracle = _oracle(df, weights)

    got = ex.search("merge buffer #3", k=10).collect()

    base = ["merge", "buffer"]
    pass1 = oracle.bm25_topk(base, k=10)
    top3 = [d for d, _ in pass1[:3]]
    contents = {
        r["doc_id"]: r["content"]
        for r in ex.source_df.filter(ex.source_df.doc_id.isin(top3)).collect()
    }
    # corpus rows carry no sentence punctuation -> snippet == whole content
    joined = " ".join(contents[d] for d in top3)
    _, pairs = tokenize_text(joined, do_stem=False)
    counter = Counter(t for t, _ in pairs)
    ranked = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))
    exp = [t for t, _ in ranked if t not in set(base)][:10]
    assert exp, "fixture must yield expansion terms"
    tw = {t: PRF_WEIGHT for t in exp}
    want = oracle.bm25_topk(base + exp, k=10, weights=tw)
    _assert_matches(got, want, "merge buffer #3")


def test_packed_fielded_empty_and_missing_terms(spark):
    df = _big_corpus(spark, n=8)
    idx = _fielded(spark, df, {"body": 1.0, "title": 2.0})
    assert wand_topk(spark, idx, [], k=5).collect() == []
    assert wand_topk(spark, idx, ["zzznotaterm"], k=5).collect() == []


def test_ql_refuses_a_multi_field_index(spark):
    """QL has no zone-weighted form: a multi-field index raises on every QL
    path (executor and direct calls) before any job, instead of ranking the
    index without its zones."""
    import pytest

    from awesome_spark_search.executor import QueryExecutor
    from awesome_spark_search.wand import ql_topk, ql_topk_many

    idx = _fielded(spark, _big_corpus(spark, n=8), {"body": 1.0, "title": 0.5})
    ex = QueryExecutor(spark, idx, scorer="ql")
    for call in (
        lambda: ex.search("merge buffer"),
        lambda: ex.search_many({"q": "merge"}),
        lambda: ql_topk(spark, idx, ["merge"]),
        lambda: ql_topk_many(spark, idx, {"q": ([], ["merge"])}),
    ):
        with pytest.raises(ValueError, match="one-field"):
            call()
