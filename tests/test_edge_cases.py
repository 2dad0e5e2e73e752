"""Edge cases: empty/null/stopword-only documents, a term present in every
document (worst-case skew), single-doc corpus."""

import pytest
from pyspark.sql import functions as F

from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor


def _build(spark, rows, **kw):
    src = spark.createDataFrame(rows, "doc_id long, content string")
    return build_index(spark, src, do_stem=False,
                       doc_shard_size=4, **kw)


def test_empty_null_and_stopword_only_docs(spark):
    idx = _build(
        spark,
        [
            (0, "buffer merge"),
            (1, ""),             # empty
            (2, None),           # null
            (3, "the a of"),     # stopwords only ('a' is len-1, dropped)
            (4, "x y z"),        # all tokens below length 2
        ],
    )
    lens = {r["doc_id"]: r["doc_len"] for r in idx.doc_map.collect()}
    assert lens == {0: 2, 1: 0, 2: 0, 3: 2, 4: 0}
    assert idx.stats.n_docs == 5
    # only doc 0 produced postings
    assert {r["doc_id"] for r in idx.postings.select("doc_id").distinct().collect()} == {0}
    ex = QueryExecutor(spark, idx)
    rows = ex.search("buffer", k=10).collect()
    assert [r["doc_id"] for r in rows] == [0]


def test_term_in_every_document_bounded_groups(spark):
    """Worst-case skew: one term in 100% of docs. Pack groups stay bounded by
    doc_shard_size and df/cf are exact."""
    n = 40
    rows = [(i, f"common uniq{chr(97 + i % 26)}{chr(97 + i // 26)} common") for i in range(n)]
    idx = _build(spark, rows)
    ts = {r["term"]: (r["df"], r["cf"]) for r in idx.term_stats.collect()}
    assert ts["common"] == (n, 2 * n)
    packed = idx.packed.filter(F.col("term") == "common").collect()
    # shard_size=4 -> 10 bounded groups for the 100%-df term
    assert len(packed) == n // 4
    assert all(r["n"] <= 4 for r in packed)
    ex = QueryExecutor(spark, idx)
    assert len(ex.search("common", k=50).collect()) == n


def test_single_doc_corpus(spark):
    idx = _build(spark, [(0, "lonely document text")])
    assert idx.stats.n_docs == 1
    ex = QueryExecutor(spark, idx)
    rows = ex.search("lonely", k=5).collect()
    assert [r["doc_id"] for r in rows] == [0]
    assert rows[0]["score"] > 0


def test_linkto_without_packed_citations_raises(spark):
    ex = QueryExecutor(spark, _build(spark, [(0, "lonely document text")]))
    for q in ("LinkTo:0", "lonely AND LinkTo:0"):
        with pytest.raises(ValueError, match="packed_citations"):
            ex.search(q, k=5).collect()


def test_linkto_id_outside_the_long_range_raises_value_error(spark):
    """A LinkTo id past the signed 64-bit doc_id range is a ValueError from
    the parser, bare or as a Boolean leaf, never a py4j error from the
    plan; the largest long is still an id."""
    from awesome_spark_search.pagerank import pack_citations

    cit = pack_citations(spark.createDataFrame([(1, 0)], "src long, dst long"))
    ex = QueryExecutor(
        spark, _build(spark, [(0, "lonely document text"), (1, "other text")]),
        packed_citations=cit,
    )
    for q in ("LinkTo:9223372036854775808", "lonely OR LinkTo:99999999999999999999"):
        with pytest.raises(ValueError, match="64-bit"):
            ex.search(q, k=5)
    assert [r["doc_id"] for r in ex.search("LinkTo:0", k=5).collect()] == [1]
    assert ex.search("LinkTo:9223372036854775807", k=5).collect() == []


def test_spell_correction_exact_at_any_vocab_size(spark):
    """With the driver vocabulary cache disabled (VOCAB_CACHE_MAX=0, the
    10^8-term-corpus regime), a PARTIALLY matching query must still get its
    misspelled token corrected via the once-built Bloom filter's existence
    check — reference corrects every posting-less token, not only fully
    empty results (ref: QueryProcessor.java:397-417). The driver-side
    ranking of the cached path and the ``correct_terms`` job of the
    uncached one pick the same corrections, tie-breaks included, and so
    return the same rows."""
    idx = _build(
        spark,
        [
            (0, "buffer merge stream"),
            (1, "buffer compact stream"),
            (2, "merge window stream"),
            (3, "cart card lamp"),
            (4, "cart lame"),
        ],
    )
    ex = QueryExecutor(spark, idx)
    ex.VOCAB_CACHE_MAX = 0  # force the no-dictionary path
    assert ex._get_vocab() is None
    rows = ex.search("buffer mrege", k=10).collect()
    assert ex.last_corrections == {"mrege": "merge"}
    # identical to the well-spelled query on the cached-vocab path
    ex2 = QueryExecutor(spark, idx)
    want = ex2.search("buffer merge", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert ex2._get_vocab() is not None
    cases = {
        "buffer carx": {"carx": "cart"},    # distance tie: cart (cf 2) beats card (cf 1)
        "buffer lamx": {"lamx": "lame"},    # distance and cf tie: term ascending
        "buffer wxyzzq": {},                # no candidate within distance 3
        "buffer xindow": {},                # window is 1 edit away, first letter differs
        "carx lamx wxyzzq xindow mrege": {"carx": "cart", "lamx": "lame", "mrege": "merge"},
    }
    for query, corrections in cases.items():
        got = {}
        for name, e in (("cached", ex2), ("uncached", ex)):
            rows = e.search(query, k=10).collect()
            got[name] = (e.last_corrections, [(r["doc_id"], r["score"]) for r in rows])
        assert got["cached"] == got["uncached"], query
        assert got["cached"][0] == corrections, query


def test_typo_adds_no_spark_job_on_cached_path(spark):
    """With the cached dictionary the spelling correction runs on the
    driver: a typo'd search costs exactly as many Spark jobs as the same
    search spelled right."""
    idx = _build(
        spark,
        [
            (0, "buffer merge stream window"),
            (1, "buffer compact stream scan"),
            (2, "merge window stream batch"),
        ],
    )
    ex = QueryExecutor(spark, idx)
    ex.search("buffer merge", k=5).collect()  # warm: caches the dictionary
    sc = spark.sparkContext

    def jobs_for(group, query):
        sc.setJobGroup(group, group)
        try:
            rows = ex.search(query, k=5).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), rows

    j_typo, typo_rows = jobs_for("cached_typo", "bufer mrege")
    assert ex.last_corrections == {"bufer": "buffer", "mrege": "merge"}
    j_right, right_rows = jobs_for("cached_right", "buffer merge")
    assert j_typo == j_right, (j_typo, j_right)
    assert typo_rows == right_rows


def test_batched_spelling_one_job_for_three_typos(spark):
    """A query with 3 misspelled tokens runs ONE correction job (batched
    dictionary scan + pair-distance pass), not one per typo — asserted via
    the Spark status tracker on a dedicated job group. Results match the
    per-term API exactly."""
    from awesome_spark_search.spell import correct_term, correct_terms

    idx = _build(
        spark,
        [
            (0, "buffer merge stream window"),
            (1, "buffer compact stream scan"),
            (2, "merge window stream batch"),
        ],
    )
    # batched == per-term, including the (distance, cf desc, term asc) tie-break
    typos = ["mrege", "bufer", "windwo"]
    batched = correct_terms(typos, idx.term_stats)
    singles = {t: correct_term(t, idx.term_stats) for t in typos}
    assert batched == {t: c for t, c in singles.items() if c is not None}
    assert batched == {"mrege": "merge", "bufer": "buffer", "windwo": "window"}

    # ONE action either way — AQE splits an action into a few jobs, so the
    # invariant is: job count does NOT scale with typo count (was 3 jobs per
    # typo with the per-term loop)
    sc = spark.sparkContext

    def jobs_for(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j3 = jobs_for("spellbatch3", lambda: correct_terms(typos, idx.term_stats))
    j1 = jobs_for("spellbatch1", lambda: correct_terms(typos[:1], idx.term_stats))
    assert j3 == j1, (j3, j1)

    # end-to-end: multi-typo search applies all corrections
    ex = QueryExecutor(spark, idx)
    ex.search("bufer mrege", k=10).collect()
    assert ex.last_corrections == {"bufer": "buffer", "mrege": "merge"}


def test_unrestricted_dl_variant_changes_candidate_choice(spark):
    """The 'dl' variant (the reference's true Damerau-Levenshtein) admits
    corrections OSA rejects: 'aab' -> 'abcca' is distance 3 under
    unrestricted DL (edits across the transposed pair are allowed) but 4
    under OSA — only the 'dl' variant corrects it within MAX_DISTANCE=3.
    Both candidates share the first char and are within the length band, so
    the divergence is in the distance itself, not the candidate filter."""
    from awesome_spark_search.spell import correct_terms

    ts = spark.createDataFrame(
        [("abcca", 5, 0)], "term string, cf long, term_bucket int"
    )
    assert correct_terms(["aab"], ts, variant="dl") == {"aab": "abcca"}
    assert correct_terms(["aab"], ts, variant="osa") == {}


def test_localize_null_scores_without_arrow(spark):
    """Boolean/unranked scores must come back NULL (not NaN) regardless of
    the caller session's Arrow conf — the external driver's session is not
    ours to configure, and with arrow disabled a pandas Float64 NA lands as
    NaN unless the plan folds it back to NULL."""
    idx = _build(spark, [(0, "alpha beta"), (1, "beta gamma")])
    ex = QueryExecutor(spark, idx)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        for flag in ("false", "true"):
            spark.conf.set(key, flag)
            rows = ex.search("alpha AND beta", k=5).collect()
            assert [r["doc_id"] for r in rows] == [0]
            assert all(r["score"] is None for r in rows), (flag, rows)
    finally:
        spark.conf.set(key, old)


def test_lsh_exact_dup_prepass_and_bucket_cap(spark):
    """Boilerplate skew: k byte-identical docs alone would make a k^2 LSH
    bucket. The exact-dedup pre-pass collapses them to one canonical doc, and
    the bucket cap drops any oversized bucket (observable via
    lsh_bucket_sizes, never silent)."""
    from awesome_spark_search import dedup

    boiler = "copyright header license boilerplate text repeated everywhere"
    rows = [(i, boiler) for i in range(30)] + [
        (100, "unique document alpha beta gamma delta content here"),
        (101, "unique document alpha beta gamma delta content there"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # default guards: identical docs collapse -> no quadratic pair blowup;
    # the two genuine near-dups still pair
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    assert (100, 101) in pairs
    assert not any(a < 30 and b < 30 for a, b in pairs)

    # guards off: the boilerplate bucket exists and is k-sized (diagnostic
    # run with dedup_exact matching the capped run below)
    sizes = dedup.lsh_bucket_sizes(docs, dedup_exact=False)
    assert sizes.agg(F.max("n_docs")).collect()[0][0] == 30
    # with the default pre-pass the diagnostic sees the collapsed buckets
    assert (
        dedup.lsh_bucket_sizes(docs).agg(F.max("n_docs")).collect()[0][0] <= 2
    )

    # cap without dedup: the oversized bucket emits no pairs and is listed
    capped = dedup.lsh_candidate_pairs(
        docs, max_bucket_size=8, dedup_exact=False
    )
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert not any(a < 30 and b < 30 for a, b in got)
    assert (100, 101) in got
    dropped = sizes.filter(F.col("n_docs") > 8).count()
    assert dropped > 0

    # uncapped + no dedup: the quadratic blowup the guards prevent
    raw = dedup.lsh_candidate_pairs(
        docs, max_bucket_size=None, dedup_exact=False
    ).count()
    assert raw >= 30 * 29 // 2


def test_prf_terms_come_from_snippets_not_full_content(spark):
    """Snippet-parity discriminator: 'zzfiller' dominates the full document
    text but never shares a sentence with the query term, so the generated
    snippet (and therefore the PRF expansion, QueryProcessor.java:427-438)
    must exclude it — the old full-content PRF would rank it first."""
    from awesome_spark_search import queries as Q

    rows = [
        (i, "alpha signal beacon here. zzfiller zzfiller zzfiller zzfiller.")
        for i in range(3)
    ] + [(3, "beacon signal unrelated.")]
    src = spark.createDataFrame(rows, "doc_id long, content string")
    from awesome_spark_search.build import build_index as _bi

    idx = _bi(spark, src, do_stem=False)
    ex = QueryExecutor(spark, idx, source_df=src)
    top = ex.search("alpha", k=3).collect()
    pq = Q.parse("alpha #3", tokenize=ex._tokenize_query)
    terms = ex._prf_terms(pq, {}, top, 3)
    assert "zzfiller" not in terms
    assert {"beacon", "signal"} <= set(terms)


@pytest.mark.parametrize("doc_shard_size", [4, 1 << 20])
def test_k_zero_returns_no_rows_and_negative_k_raises(spark, doc_shard_size):
    """k = 0 returns no rows for every query type, on a multi-shard index
    (the distributed plan) and a one-shard one (the driver plan); k < 0 is
    a ValueError from search and search_many alike, never a Spark error or
    a silently shortened list."""
    from awesome_spark_search import wand

    src = spark.createDataFrame(
        [(0, "buffer merge stream"), (1, "buffer compact stream"),
         (2, "merge window stream"), (5, "buffer merge window")],
        "doc_id long, content string",
    )
    idx = build_index(spark, src, do_stem=False, doc_shard_size=doc_shard_size)
    assert wand._one_shard(idx) == (doc_shard_size > 5)
    ex = QueryExecutor(spark, idx, source_df=src)
    queries = ["buffer merge", '"buffer merge"', '"buffer merge" stream',
               "buffer AND merge", "buffer #2", "bufer"]
    for q in queries:
        assert ex.search(q, k=2).collect(), q
        assert ex.search(q, k=0).collect() == [], q
        with pytest.raises(ValueError, match="k must be >= 0"):
            ex.search(q, k=-1)
    batch = {"a": "buffer merge", "b": '"buffer merge"', "c": "stream"}
    assert ex.search_many(batch, k=0).collect() == []
    with pytest.raises(ValueError, match="k must be >= 0"):
        ex.search_many(batch, k=-1)


def test_one_shard_search_runs_one_job_without_arrow(spark, monkeypatch):
    """With the session's Arrow conf off (Spark's default), a one-shard
    search() runs at most ONE Spark job, its collect included, for a
    keyword and a Boolean query: the driver-path result is a local relation
    built from a pyarrow Table, never an RDD-backed frame re-collected and
    re-wrapped. Served from the executor's copy of the packed rows it runs
    none; with the copy's gate shut, one (the collect of the term rows).
    NULL scores stay NULL; a k = 0 search runs no job."""
    idx = _build(spark, [(0, "alpha beta"), (1, "beta gamma"), (2, "gamma alpha")])
    sc = spark.sparkContext
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for copy in (True, False):
            if not copy:
                monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", -1)
            ex = QueryExecutor(spark, idx)
            ex.search("beta", k=5).collect()  # warm: caches the dictionary
            assert (ex._dictionary.copy is not None) == copy
            for name, query, k, n_jobs in (
                ("keyword", "alpha beta", 5, 0 if copy else 1),
                ("boolean", "alpha AND beta", 5, 0 if copy else 1),
                ("k0", "alpha beta", 0, 0),
            ):
                group = f"no_arrow_{name}_{copy}"
                sc.setJobGroup(group, group)
                try:
                    df = ex.search(query, k=k)
                    rows = df.collect()
                finally:
                    sc.setJobGroup(None, None)
                assert df.isLocal(), name
                assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_jobs, name
                if name == "boolean":
                    assert [(r["doc_id"], r["score"]) for r in rows] == [(0, None)]
                elif name == "keyword":
                    assert rows and all(r["score"] > 0 for r in rows)
                else:
                    assert rows == []
    finally:
        spark.conf.set(key, old)
