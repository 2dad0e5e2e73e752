"""Packed-index merge (merge.merge_packed_indexes): fold delta indexes into
a base without re-tokenizing. Gate: a merged index must be observationally
IDENTICAL to the index built over the union corpus — postings round-trip,
term_stats, stats, WAND top-k rank+score, phrase results."""

import dataclasses

import numpy as np
import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.merge import merge_packed_indexes
from awesome_spark_search.wand import decode_postings, phrase_topk, wand_topk


def _split_indexes(spark, n=120, parity=True, shard=16):
    """Full corpus index + two half-corpus indexes. parity=True interleaves
    doc_ids so every doc_shard holds rows from BOTH sources (the full
    decode+re-encode merge path); parity=False splits contiguously so every
    group is single-source (the byte-passthrough path)."""
    pdf = corpus.generate_pandas(n, seed=7)
    src = spark.createDataFrame(pdf)
    if parity:
        a = src.filter("doc_id % 2 = 0")
        b = src.filter("doc_id % 2 = 1")
    else:
        a = src.filter(f"doc_id < {n // 2}")
        b = src.filter(f"doc_id >= {n // 2}")
    kw = dict(do_stem=False, doc_shard_size=shard)
    full = build_index(spark, src, **kw)
    ia = build_index(spark, a, **kw)
    ib = build_index(spark, b, **kw)
    return full, ia, ib


@pytest.mark.parametrize("parity", [True, False])
def test_merged_equals_rebuilt(spark, parity):
    full, ia, ib = _split_indexes(spark, parity=parity)
    merged = merge_packed_indexes(spark, [ia, ib])

    assert merged.stats.n_docs == full.stats.n_docs
    assert merged.stats.total_tokens == full.stats.total_tokens
    assert abs(merged.stats.avgdl - full.stats.avgdl) < 1e-12

    # term_stats identical
    ts_m = {r["term"]: (r["df"], r["cf"]) for r in merged.term_stats.collect()}
    ts_f = {r["term"]: (r["df"], r["cf"]) for r in full.term_stats.collect()}
    assert ts_m == ts_f

    # postings round-trip identical for a frequent and a rare term
    terms = sorted(ts_f, key=lambda t: -ts_f[t][0])
    for term in (terms[0], terms[len(terms) // 2]):
        got = {
            r["doc_id"]: r["tf"]
            for r in decode_postings(merged, term).collect()
        }
        want = {
            r["doc_id"]: r["tf"] for r in decode_postings(full, term).collect()
        }
        assert got == want, term
        gp = {
            (r["doc_id"], r["pos"])
            for r in decode_postings(merged, term, with_positions=True).collect()
        }
        wp = {
            (r["doc_id"], r["pos"])
            for r in decode_postings(full, term, with_positions=True).collect()
        }
        assert gp == wp, term

    # serving parity: WAND + phrase rank AND score identical to the rebuild
    q = [terms[0], terms[2], terms[5]]
    got = wand_topk(spark, merged, q, k=10).collect()
    want = wand_topk(spark, full, q, k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    assert np.allclose([r["score"] for r in got], [r["score"] for r in want])
    gph = phrase_topk(spark, merged, [terms[0], terms[1]], k=10).collect()
    wph = phrase_topk(spark, full, [terms[0], terms[1]], k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in gph] == [
        (r["doc_id"], round(r["score"], 9)) for r in wph
    ]


def test_contiguous_split_passes_bytes_through(spark):
    """Disjoint doc_shard ranges: every merged group must carry the SOURCE
    blob bytes verbatim (only block_max refreshed)."""
    full, ia, ib = _split_indexes(spark, parity=False)
    merged = merge_packed_indexes(spark, [ia, ib])
    blobs_a = {
        (r["term"], r["doc_shard"]): bytes(r["doc_ids_vb"]) + bytes(r["pos_vb"])
        for r in ia.packed.collect()
    }
    blobs_b = {
        (r["term"], r["doc_shard"]): bytes(r["doc_ids_vb"]) + bytes(r["pos_vb"])
        for r in ib.packed.collect()
    }
    # the split boundary (doc 60 with shard=16) lands inside shard 3: groups
    # present in BOTH sources legitimately re-encode; every other group must
    # be byte-identical to its single source
    both = set(blobs_a) & set(blobs_b)
    assert both and all(s == 3 for _, s in both)  # only the boundary shard
    checked = 0
    for r in merged.packed.collect():
        key = (r["term"], r["doc_shard"])
        if key in both:
            continue
        src = blobs_a.get(key) or blobs_b.get(key)
        assert bytes(r["doc_ids_vb"]) + bytes(r["pos_vb"]) == src, key
        checked += 1
    assert checked > 50  # the passthrough path is the common case


def test_block_max_refreshed_against_merged_avgdl(spark):
    """Sources with very different avgdl: the merged block_max must bound
    tfnorm under the MERGED avgdl (stale source bounds would break WAND
    exactness) — compare against the rebuilt index's bounds."""
    full, ia, ib = _split_indexes(spark, parity=True)
    assert abs(ia.stats.avgdl - ib.stats.avgdl) > 1e-9  # premise: they differ
    merged = merge_packed_indexes(spark, [ia, ib])
    bm_m = {
        (r["term"], r["doc_shard"]): np.asarray(r["block_max"])
        for r in merged.packed.collect()
    }
    for r in full.packed.collect():
        got = bm_m[(r["term"], r["doc_shard"])]
        assert np.allclose(got, np.asarray(r["block_max"])), r["term"]


def test_empty_delta_merge_is_identity(spark):
    """Compacting with an EMPTY delta (a no-new-docs day) must leave serving
    identical to the base — stats unchanged, bounds still exact."""
    pdf = corpus.generate_pandas(60, seed=3)
    src = spark.createDataFrame(pdf)
    kw = dict(do_stem=False, doc_shard_size=16)
    base = build_index(spark, src, **kw)
    empty = build_index(spark, src.filter("doc_id < 0"), **kw)
    merged = merge_packed_indexes(spark, [base, empty])
    assert merged.stats.n_docs == base.stats.n_docs
    assert abs(merged.stats.avgdl - base.stats.avgdl) < 1e-12
    terms = sorted(
        r["term"] for r in base.term_stats.orderBy("df", ascending=False)
        .limit(3).collect()
    )
    got = wand_topk(spark, merged, terms, k=10).collect()
    want = wand_topk(spark, base, terms, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_overlapping_doc_ids_rejected(spark):
    full, ia, _ = _split_indexes(spark)
    with pytest.raises(ValueError, match="share doc_ids"):
        merge_packed_indexes(spark, [ia, ia])


def test_mismatched_doc_shard_size_rejected(spark):
    """Input checks raise ValueError, so they hold under ``python -O`` too:
    sources sharded differently would merge into a wrong index."""
    src = spark.createDataFrame(
        [(0, "merge buffer"), (1, "buffer scan")], "doc_id long, content string"
    )
    ia = build_index(spark, src, do_stem=False, doc_shard_size=16)
    with pytest.raises(ValueError, match="doc_shard_size"):
        merge_packed_indexes(spark, [ia, dataclasses.replace(ia, doc_shard_size=32)])


def test_fielded_mismatched_doc_shard_size_rejected(spark):
    df = spark.createDataFrame(
        [(0, "merge buffer", "sort")], "doc_id long, body string, title string"
    )
    fa = build_index(
        spark, df, do_stem=False, doc_shard_size=8,
        field_weights={"body": 1.0, "title": 0.5},
    )
    with pytest.raises(ValueError, match="doc_shard_size"):
        merge_packed_indexes(spark, [fa, dataclasses.replace(fa, doc_shard_size=16)])


def test_mismatched_field_weights_rejected(spark):
    """Sources with different fields or zone weights would merge into an
    index no plan can serve consistently."""
    df = spark.createDataFrame(
        [(0, "merge buffer", "sort")], "doc_id long, body string, title string"
    )
    fa = build_index(
        spark, df, do_stem=False, field_weights={"body": 1.0, "title": 0.5},
    )
    with pytest.raises(ValueError, match="field_weights"):
        merge_packed_indexes(spark, [
            fa, dataclasses.replace(fa, field_weights={"body": 1.0, "title": 0.25}),
        ])


def test_fielded_merge_rejects_shared_doc_ids(spark):
    """The doc_map disjointness probe covers fielded sources: two sources
    sharing doc 0 — with no (field, term) group in common, so the merge
    kernel would never see a collision — raise before any packing."""
    fa, fb = (
        build_index(
            spark, spark.createDataFrame([row], "doc_id long, body string, title string"),
            do_stem=False, field_weights={"body": 1.0, "title": 0.5},
        )
        for row in [(0, "merge", "sort"), (0, "buffer", "alpha")]
    )
    with pytest.raises(ValueError, match="share doc_ids"):
        merge_packed_indexes(spark, [fa, fb])


def test_streamed_delta_merges_onto_batch_base(spark, tmp_path):
    """The incremental-deployment composition: a batch-built base + a
    streamed delta (IncrementalIndexer.to_index()) fold
    with merge_packed_indexes into an index that serves identically to a
    full rebuild — delta compaction without re-reading the base corpus."""
    from awesome_spark_search.executor import QueryExecutor
    from awesome_spark_search.streaming import IncrementalIndexer

    base_docs = [
        (0, "merge buffer scan merge"),
        (1, "buffer table scan"),
        (2, "merge table value table"),
    ]
    delta_docs = [
        (3, "merge value buffer value"),
        (4, "table scan scan"),
    ]
    base = build_index(
        spark, spark.createDataFrame(base_docs, "doc_id long, content string"),
        do_stem=False, doc_shard_size=2,
    )
    ingest = IncrementalIndexer(spark, str(tmp_path / "delta"), do_stem=False)
    ingest.foreach_batch(
        spark.createDataFrame(delta_docs, "doc_id long, content string"), 0
    )
    delta = ingest.to_index(doc_shard_size=2)
    merged = merge_packed_indexes(spark, [base, delta])

    full = build_index(
        spark,
        spark.createDataFrame(
            base_docs + delta_docs, "doc_id long, content string"
        ),
        do_stem=False, doc_shard_size=2,
    )
    assert merged.stats.n_docs == 5
    assert abs(merged.stats.avgdl - full.stats.avgdl) < 1e-12
    ex_m = QueryExecutor(spark, merged)
    ex_f = QueryExecutor(spark, full)
    for q in ["merge buffer", '"table value"', "merge AND value", "scan OR value"]:
        got = [(r["doc_id"], r["score"]) for r in ex_m.search(q, k=10).collect()]
        want = [(r["doc_id"], r["score"]) for r in ex_f.search(q, k=10).collect()]
        assert got == want, q


def test_fielded_merge_matches_rebuild(spark):
    """merge_packed_indexes over fielded sources: zone-weighted serving off
    the merged index must match the index rebuilt over the union corpus
    (per-field avgdl over the merged doc_map, summed global term_stats)."""

    def _word(i):
        return ["merge", "buffer", "sort", "alpha", "beta", "gamma", "delta"][i % 7]

    rows = []
    for d in range(40):
        body = " ".join(_word(d + j) for j in range(1 + (d * 3) % 9))
        title = " ".join(_word(d * 2 + j) for j in range(1 + d % 3))
        rows.append((d, body, title))
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    weights = {"body": 1.0, "title": 0.5}
    kw = dict(do_stem=False, doc_shard_size=8, field_weights=weights)
    full = build_index(spark, df, **kw)
    fa = build_index(spark, df.filter("doc_id % 2 = 0"), **kw)
    fb = build_index(spark, df.filter("doc_id % 2 = 1"), **kw)
    merged = merge_packed_indexes(spark, [fa, fb])
    assert merged.stats.n_docs == 40
    for f in weights:
        assert abs(merged.stats.avgdl_by_field[f] - full.stats.avgdl_by_field[f]) < 1e-9
    ts_m = {r["term"]: (r["df"], r["cf"]) for r in merged.term_stats.collect()}
    ts_f = {r["term"]: (r["df"], r["cf"]) for r in full.term_stats.collect()}
    assert ts_m == ts_f
    for terms in (["merge"], ["merge", "buffer", "gamma"]):
        got = wand_topk(spark, merged, terms, k=10).collect()
        want = wand_topk(spark, full, terms, k=10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], terms
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9


def test_fielded_merge_with_empty_field_source_matches_rebuild(spark):
    """Degenerate case (ADVICE r4): one source's field is EMPTY everywhere.
    The build floors that source's avgdl to 1.0 for scoring, but the merge
    must recompute the mean from the merged doc_map's field lengths —
    averaging the floored values would diverge from a full rebuild's avgdl,
    silently shifting every merged score and block_max."""
    from pyspark.sql import functions as F

    def _word(i):
        return ["merge", "buffer", "sort", "alpha", "beta", "gamma"][i % 6]

    rows = []
    for d in range(30):
        body = " ".join(_word(d + j) for j in range(2 + (d * 3) % 7))
        # title empty for the even half — source A has an all-empty field
        title = "" if d % 2 == 0 else " ".join(_word(d * 2 + j) for j in range(2))
        rows.append((d, body, title))
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    weights = {"body": 1.0, "title": 0.5}
    kw = dict(do_stem=False, doc_shard_size=8, field_weights=weights)
    full = build_index(spark, df, **kw)
    fa = build_index(spark, df.filter("doc_id % 2 = 0"), **kw)
    fb = build_index(spark, df.filter("doc_id % 2 = 1"), **kw)
    # the degenerate source: every title length is 0
    assert fa.doc_map.agg(F.max(F.col("field_lens")["title"])).first()[0] == 0
    assert fa.stats.avgdl_by_field["title"] == 1.0      # scoring floor intact
    merged = merge_packed_indexes(spark, [fa, fb])
    for f in weights:
        assert abs(
            merged.stats.avgdl_by_field[f] - full.stats.avgdl_by_field[f]
        ) < 1e-9, f
    for terms in (["merge"], ["merge", "gamma"]):
        got = wand_topk(spark, merged, terms, k=10).collect()
        want = wand_topk(spark, full, terms, k=10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], terms
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9


def test_three_way_merge(spark):
    pdf = corpus.generate_pandas(90, seed=11)
    src = spark.createDataFrame(pdf)
    kw = dict(do_stem=False, doc_shard_size=8)
    full = build_index(spark, src, **kw)
    parts = [
        build_index(spark, src.filter(f"doc_id % 3 = {i}"), **kw)
        for i in range(3)
    ]
    merged = merge_packed_indexes(spark, parts)
    ts_m = {r["term"]: (r["df"], r["cf"]) for r in merged.term_stats.collect()}
    ts_f = {r["term"]: (r["df"], r["cf"]) for r in full.term_stats.collect()}
    assert ts_m == ts_f
    t = max(ts_f, key=lambda x: ts_f[x][0])
    got = wand_topk(spark, merged, [t], k=5).collect()
    want = wand_topk(spark, full, [t], k=5).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]


# ---------------------------------------------------------------------------
# drop_docs: an index without some docs equals a build of the docs that remain
# ---------------------------------------------------------------------------

DROP_WORDS = ["merge", "buffer", "sort", "alpha", "beta", "gamma", "delta"]


def _drop_corpus():
    """300 docs: "common" is in every body, so its group spans three
    128-posting blocks; "zebra" is doc 5's alone."""
    rows = []
    for d in range(300):
        body = " ".join(["common"] + [DROP_WORDS[(d + j) % 7] for j in range(1 + d % 5)])
        if d == 5:
            body += " zebra"
        rows.append((d, body, " ".join(DROP_WORDS[(d * 3 + j) % 7] for j in range(1 + d % 2))))
    return rows


@pytest.fixture(scope="module", params=["plain", "two_field"])
def drop_case(request, spark):
    """(source frame, build kwargs, index over every doc)."""
    src = spark.createDataFrame(_drop_corpus(), "doc_id long, body string, title string")
    if request.param == "plain":
        src = src.selectExpr("doc_id", "body AS content")
        kw = dict(do_stem=False)
    else:
        kw = dict(do_stem=False, field_weights={"body": 1.0, "title": 0.5})
    return src, kw, build_index(spark, src, **kw)


def _packed_bytes(ix):
    return {
        (r["field"], r["term"], r["doc_shard"]): {
            c: bytes(v) if isinstance(v, (bytes, bytearray)) else v
            for c, v in r.asDict().items()
        }
        for r in ix.packed.collect()
    }


def _term_stats_rows(ix):
    return sorted(tuple(r) for r in ix.term_stats.select("term", "df", "cf", "term_bucket").collect())


@pytest.mark.parametrize("drop", [
    pytest.param([5], id="only_posting_of_a_group"),
    pytest.param([200], id="inside_a_multi_block_group"),
    pytest.param(list(range(300)), id="every_doc"),
    pytest.param([1000, 1001], id="ids_not_held"),
])
def test_drop_docs_equals_rebuild_of_the_rest(spark, drop_case, drop):
    from awesome_spark_search.merge import drop_docs

    src, kw, full = drop_case
    got = drop_docs(spark, full, drop)
    want = build_index(spark, src.filter(~src.doc_id.isin(drop)), **kw)
    packed = _packed_bytes(got)
    assert packed == _packed_bytes(want)
    assert _term_stats_rows(got) == _term_stats_rows(want)
    assert got.stats == want.stats
    assert sorted(r["doc_id"] for r in got.doc_map.collect()) == sorted(
        r["doc_id"] for r in want.doc_map.collect()
    )
    before = _packed_bytes(full)
    if drop == [5]:  # zebra's group held only doc 5 and is gone
        zebra = [k for k in before if k[1] == "zebra"]
        assert zebra and not any(k in packed for k in zebra)
    if drop == [200]:
        common = next(v for k, v in before.items() if k[1] == "common")
        assert common["n"] == 300 and len(common["blk_first_doc"]) == 3
    if drop == [1000, 1001]:
        assert packed == before


# ---------------------------------------------------------------------------
# kernel-level property: for ANY split of a posting group across sources,
# _merge_rows produces byte-identical output to packing the union directly
# (the merged == rebuilt invariant at codec granularity, incl. groups that
# cross the 128-posting block boundary)
# ---------------------------------------------------------------------------

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _split_groups(draw):
    n_srcs = draw(st.integers(min_value=2, max_value=3))
    ids = sorted(draw(st.sets(
        st.integers(min_value=0, max_value=600), min_size=n_srcs, max_size=300
    )))
    src_of = [draw(st.integers(min_value=0, max_value=n_srcs - 1)) for _ in ids]
    # every source must own at least one doc
    for s in range(n_srcs):
        if s not in src_of:
            src_of[s] = s
    docs = []
    for d in ids:
        tf = draw(st.integers(min_value=1, max_value=5))
        first = draw(st.integers(min_value=0, max_value=50))
        gaps = [draw(st.integers(min_value=1, max_value=9)) for _ in range(tf - 1)]
        positions = [first]
        for g in gaps:
            positions.append(positions[-1] + g)
        dl = draw(st.integers(min_value=1, max_value=300))
        docs.append((d, tf, dl, positions))
    avgdl = draw(st.floats(min_value=1.0, max_value=250.0))
    return n_srcs, src_of, docs, avgdl


def _pack_group(rows):
    from awesome_spark_search.build import _pack_many

    pdf = pd.DataFrame(
        {
            "field": ["content"] * len(rows),
            "term": ["t"] * len(rows),
            "doc_shard": [0] * len(rows),
            "doc_id": [r[0] for r in rows],
            "tf": [r[1] for r in rows],
            "doc_len": [r[2] for r in rows],
            "positions": [r[3] for r in rows],
        }
    ).sort_values("doc_id")
    return _pack_many(pdf, {"content": 10.0})  # pack-time avgdl irrelevant to blobs


@given(_split_groups())
@settings(max_examples=40, deadline=None)
def test_merge_rows_equals_direct_pack_property(case):
    from awesome_spark_search.build import _pack_many
    from awesome_spark_search.merge import _merge_rows

    n_srcs, src_of, docs, avgdl = case
    per_src = [[d for d, s in zip(docs, src_of) if s == i] for i in range(n_srcs)]
    rows = [_pack_group(p).iloc[0] for p in per_src if p]
    merged = _merge_rows(rows, avgdl)

    want = _pack_many(
        pd.DataFrame(
            {
                "field": ["content"] * len(docs),
                "term": ["t"] * len(docs),
                "doc_shard": [0] * len(docs),
                "doc_id": [d[0] for d in docs],
                "tf": [d[1] for d in docs],
                "doc_len": [d[2] for d in docs],
                "positions": [d[3] for d in docs],
            }
        ).sort_values("doc_id"),
        {"content": avgdl},
    ).iloc[0]
    for col in ("n", "cf", "doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb"):
        assert merged[col] == want[col], col
    for col in ("blk_doc_off", "blk_tf_off", "blk_dl_off", "blk_pos_off",
                "blk_first_doc"):
        assert list(merged[col]) == list(want[col]), col
    assert np.allclose(merged["block_max"], list(want["block_max"]))
