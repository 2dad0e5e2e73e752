"""Field/zone-weighted scoring (reference ContentType weights analog)."""

from awesome_spark_search.fields import (
    build_fielded_packed,
    build_fielded_postings,
    fielded_bm25_topk,
    fielded_wand_topk,
)


def _corpus(spark):
    rows = [
        (0, "merge buffer merge", "title merge here"),
        (1, "merge buffer", "other title"),
        (2, "buffer only text", "title merge here"),
        (3, "nothing relevant", "other title"),
    ]
    return spark.createDataFrame(rows, "doc_id long, body string, title string")


def test_title_weight_boosts_title_matches(spark):
    df = _corpus(spark)
    weights = {"body": 1.0, "title": 2.0}
    postings, lens, ts = build_fielded_postings(df, weights, do_stem=False)
    top = fielded_bm25_topk(spark, postings, lens, ts, weights, ["merge"], k=4).collect()
    got = [r["doc_id"] for r in top]
    # doc 0 matches in both fields -> highest; doc 3 matches nowhere
    assert got[0] == 0
    assert 3 not in got
    # title-only match (doc 2, w=2) outranks body-only match (doc 1, w=1)
    assert got.index(2) < got.index(1)


def test_zero_weight_field_is_ignored(spark):
    df = _corpus(spark)
    weights = {"body": 1.0, "title": 0.0}
    postings, lens, ts = build_fielded_postings(df, weights, do_stem=False)
    top = fielded_bm25_topk(spark, postings, lens, ts, weights, ["merge"], k=4).collect()
    ids = {r["doc_id"] for r in top if r["score"] > 0}
    assert ids == {0, 1}  # title-only matches score 0


def test_reference_four_zone_preset_golden(spark):
    """The pinned Title/Abstract/Claims/Description preset (ContentType.java:
    6-9 weights 0.5/0.25/0.15/0.1) against hand-computed BM25: every score
    must match the closed-form weighted sum to 1e-9."""
    import math

    from awesome_spark_search.build import K1, B
    from awesome_spark_search.fields import REFERENCE_ZONES

    assert REFERENCE_ZONES == {
        "title": 0.5, "abstract": 0.25, "claims": 0.15, "description": 0.1
    }
    assert abs(sum(REFERENCE_ZONES.values()) - 1.0) < 1e-12

    rows = [
        (0, "merge sort", "merge", "alpha", "merge merge alpha"),
        (1, "alpha beta", "merge sort", "merge", "beta gamma"),
        (2, "sort sort", "gamma", "beta alpha", "alpha"),
        (3, "delta", "delta", "delta", "delta"),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, title string, abstract string, "
        "claims string, description string",
    )
    postings, lens, ts = build_fielded_postings(df, REFERENCE_ZONES, do_stem=False)
    top = fielded_bm25_topk(
        spark, postings, lens, ts, REFERENCE_ZONES, ["merge"], k=4
    ).collect()

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


def _word(i: int) -> str:
    return ["merge", "buffer", "sort", "alpha", "beta", "gamma", "delta"][i % 7]


def _big_corpus(spark, n=40):
    """Deterministic multi-field corpus: varied lengths/frequencies so the
    two plans genuinely disagree unless the math matches."""
    rows = []
    for d in range(n):
        body = " ".join(_word(d + j) for j in range(1 + (d * 3) % 9))
        title = " ".join(_word(d * 2 + j) for j in range(1 + d % 3))
        rows.append((d, body, title))
    return spark.createDataFrame(rows, "doc_id long, body string, title string")


def test_packed_fielded_matches_long_table(spark):
    """fielded_wand_topk (packed, per-field avgdl override, w_f folded into
    idf) must be rank+score identical to fielded_bm25_topk (long table) —
    multiple doc shards, multi-term query, a zone weight != 1."""
    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    postings, lens, ts = build_fielded_postings(df, weights, do_stem=False)
    fidx = build_fielded_packed(
        spark, df, weights, do_stem=False, doc_shard_size=8
    )
    for terms in (["merge"], ["merge", "buffer", "gamma"], ["delta", "sort"]):
        long_rows = fielded_bm25_topk(
            spark, postings, lens, ts, weights, terms, k=10
        ).collect()
        packed_rows = fielded_wand_topk(spark, fidx, terms, k=10).collect()
        assert [r["doc_id"] for r in packed_rows] == [
            r["doc_id"] for r in long_rows
        ], terms
        for p, l in zip(packed_rows, long_rows):
            assert abs(p["score"] - l["score"]) < 1e-9, (terms, p, l)


def test_packed_fielded_four_zone_preset(spark):
    """The pinned four-zone preset through the PACKED path reproduces the
    same hand-computed golden as the long-table path."""
    import math

    from awesome_spark_search.build import K1, B
    from awesome_spark_search.fields import REFERENCE_ZONES

    rows = [
        (0, "merge sort", "merge", "alpha", "merge merge alpha"),
        (1, "alpha beta", "merge sort", "merge", "beta gamma"),
        (2, "sort sort", "gamma", "beta alpha", "alpha"),
        (3, "delta", "delta", "delta", "delta"),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, title string, abstract string, "
        "claims string, description string",
    )
    fidx = build_fielded_packed(spark, df, REFERENCE_ZONES, do_stem=False)
    top = fielded_wand_topk(spark, fidx, ["merge"], k=4).collect()
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
    """QueryExecutor(fielded_index=...) routes keyword queries through the
    zone-weighted packed scorer — full search() pipeline (tokenize, vocab,
    localization) with fielded ranking, like the reference's always-zoned
    DocumentRanker."""
    from pyspark.sql import functions as F

    from awesome_spark_search.build import build_index
    from awesome_spark_search.executor import QueryExecutor

    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    fidx = build_fielded_packed(spark, df, weights, do_stem=False)
    # the plain index (concat of fields) supplies vocab/corrections/snippets
    idx = build_index(
        spark,
        df.select(
            "doc_id",
            F.concat_ws(" ", "body", "title").alias("content"),
        ),
        do_stem=False,
    )
    ex = QueryExecutor(spark, idx, fielded_index=fidx)
    got = ex.search("merge buffer gamma", k=10).collect()
    want = fielded_wand_topk(
        spark, fidx, ["merge", "buffer", "gamma"], k=10
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_fielded_phrase_packed_matches_long_table(spark):
    """fielded_phrase_topk (packed: per-field _phrase_eval merged across
    zones) must be rank+score identical to fielded_phrase_bm25_topk (long
    table: per-(doc, field) adjacency semi-join then zone-weighted scoring)."""
    from awesome_spark_search.fields import (
        fielded_phrase_bm25_topk,
        fielded_phrase_topk,
    )

    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    postings, lens, ts = build_fielded_postings(df, weights, do_stem=False)
    fidx = build_fielded_packed(
        spark, df, weights, do_stem=False, doc_shard_size=8
    )
    for terms in (["buffer", "sort"], ["merge"], ["sort", "alpha", "beta"]):
        long_rows = fielded_phrase_bm25_topk(
            spark, postings, lens, ts, weights, terms, k=10
        ).collect()
        packed_rows = fielded_phrase_topk(spark, fidx, terms, k=10).collect()
        assert len(long_rows) > 0, terms  # fixture must exercise the phrase
        assert [r["doc_id"] for r in packed_rows] == [
            r["doc_id"] for r in long_rows
        ], terms
        for p, l in zip(packed_rows, long_rows):
            assert abs(p["score"] - l["score"]) < 1e-9, (terms, p, l)


def test_fielded_phrase_zone_restriction(spark):
    """A phrase spanning a zone boundary must NOT match: doc 0 holds
    'merge' at the end of body and 'gamma' at the start of title — adjacent
    in a naive concat, but in no single zone."""
    from awesome_spark_search.fields import fielded_phrase_topk

    rows = [
        (0, "alpha merge", "gamma beta"),
        (1, "merge gamma", "beta beta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    weights = {"body": 1.0, "title": 0.5}
    fidx = build_fielded_packed(spark, df, weights, do_stem=False)
    got = fielded_phrase_topk(spark, fidx, ["merge", "gamma"], k=5).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_fielded_mixed_packed_matches_long_table(spark):
    """fielded_mixed_topk (per-field phrase seeds + zone-weighted WAND) vs
    the long-table union plan — including a term in BOTH lists (survivors
    double-count it, like the unfielded Mixed semantics)."""
    from awesome_spark_search.fields import (
        fielded_mixed_bm25_topk,
        fielded_mixed_topk,
    )

    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    postings, lens, ts = build_fielded_postings(df, weights, do_stem=False)
    fidx = build_fielded_packed(
        spark, df, weights, do_stem=False, doc_shard_size=8
    )
    cases = [
        (["buffer", "sort"], ["merge", "delta"]),
        (["buffer", "sort"], ["sort"]),   # overlapping term
        (["merge"], ["gamma"]),           # one-word phrase
    ]
    for ph, kw in cases:
        long_rows = fielded_mixed_bm25_topk(
            spark, postings, lens, ts, weights, ph, kw, k=10
        ).collect()
        packed_rows = fielded_mixed_topk(spark, fidx, ph, kw, k=10).collect()
        assert len(long_rows) > 0, (ph, kw)
        assert [r["doc_id"] for r in packed_rows] == [
            r["doc_id"] for r in long_rows
        ], (ph, kw)
        for p, l in zip(packed_rows, long_rows):
            assert abs(p["score"] - l["score"]) < 1e-9, (ph, kw, p, l)


def _fielded_executor(spark, df, weights):
    from pyspark.sql import functions as F

    from awesome_spark_search.build import build_index
    from awesome_spark_search.executor import QueryExecutor

    src = df.select(
        "doc_id", F.concat_ws(" ", "body", "title").alias("content")
    )
    idx = build_index(spark, src, do_stem=False)
    fidx = build_fielded_packed(spark, df, weights, do_stem=False)
    return QueryExecutor(
        spark, idx, source_df=src, fielded_index=fidx
    ), fidx


def test_executor_fielded_never_falls_back_to_unfielded(spark, monkeypatch):
    """A fielded executor must rank EVERY ranked query type zone-weighted —
    keyword, phrase, Mixed, and PRF all dispatch to the fielded plans (ref:
    DocumentRanker.java:138-167 weights every ranked ContentType); touching
    any unfielded scorer is the silent-fallback bug this test pins."""
    import awesome_spark_search.wand as wand_mod

    df = _big_corpus(spark)
    ex, _ = _fielded_executor(spark, df, {"body": 1.0, "title": 0.5})

    def boom(*a, **k):
        raise AssertionError("unfielded ranking path used by fielded executor")

    monkeypatch.setattr(wand_mod, "wand_topk", boom)
    monkeypatch.setattr(wand_mod, "phrase_topk", boom)
    monkeypatch.setattr(wand_mod, "mixed_topk", boom)
    for query in [
        "merge buffer",
        '"buffer sort"',
        '"buffer sort" merge',
        "merge buffer #3",
    ]:
        rows = ex.search(query, k=5).collect()
        assert len(rows) > 0, query
    # Boolean stays unranked (recency order, score NULL) by design
    rows = ex.search("merge AND buffer", k=5).collect()
    assert all(r["score"] is None for r in rows)


def test_executor_fielded_prf_matches_long_table_two_pass(spark):
    """Fielded PRF end-to-end vs an independent long-table recomputation:
    pass 1 = fielded BM25 top-3, expansion = 10 most frequent new snippet
    tokens (Counter reimplementation), pass 2 = fielded BM25 with expansion
    terms at weight 0.25 (overlaps at 1.25)."""
    from collections import Counter

    from awesome_spark_search.fields import fielded_bm25_topk
    from awesome_spark_search.scoring import PRF_WEIGHT
    from awesome_spark_search.textproc import tokenize_text

    df = _big_corpus(spark)
    weights = {"body": 1.0, "title": 0.5}
    ex, fidx = _fielded_executor(spark, df, weights)
    postings, lens, ts = build_fielded_postings(df, weights, do_stem=False)

    got = ex.search("merge buffer #3", k=10).collect()

    base = ["merge", "buffer"]
    pass1 = fielded_bm25_topk(
        spark, postings, lens, ts, weights, base, k=10
    ).collect()
    top3 = [r["doc_id"] for r in pass1[:3]]
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
    want = fielded_bm25_topk(
        spark, postings, lens, ts, weights, base + exp, k=10, term_weights=tw
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_packed_fielded_empty_and_missing_terms(spark):
    df = _big_corpus(spark, n=8)
    weights = {"body": 1.0, "title": 2.0}
    fidx = build_fielded_packed(spark, df, weights, do_stem=False)
    assert fielded_wand_topk(spark, fidx, [], k=5).collect() == []
    assert fielded_wand_topk(spark, fidx, ["zzznotaterm"], k=5).collect() == []
