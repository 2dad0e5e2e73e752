"""Block-LEVEL skipping inside the packed WAND scorer.

Gates two properties of the BM25 shard step of the ranked-plan builder,
``wand._shard_step`` with ``wand._bm25``'s parse/score pair (ref
skipping-areas analog: src/io/index/UncompressedIndexWriter.java:101-118
writes per-block skip metadata; the read side :106-124 seeks past blocks):

1. EXACTNESS — the shard top-k (ids AND scores) is identical to a
   brute-force numpy BM25 over the same postings, on random corpora.
2. SKIPPING — on a skewed corpus (one rare high-idf term + one huge
   low-idf term) the decoded-posting count drops >= 10x vs exhaustive:
   once the rare term fills the top-k, the common term's blocks fail the
   admission bound and only candidate-bearing blocks decode.

The tests call the applyInPandas fn directly (driver-process), so the
module-level DECODE_STATS counter is visible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from awesome_spark_search import codec, wand
from awesome_spark_search.build import _pack_many, K1, B


def _shard_fn(spec, avgdl: float, k: int):
    """The builder's per-shard step for one BM25 query."""
    return wand._shard_step({"q": spec}, *wand._bm25({"content": (1.0, avgdl)}, k), k)


def _idf(df: int, n_docs: int) -> float:
    return float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))


def _pack_for_query(postings: dict[str, list[tuple[int, int]]], doc_lens: dict[int, int],
                    avgdl: float, n_docs: int) -> pd.DataFrame:
    """postings: term -> [(doc_id, tf)...] -> one-shard packed frame with the
    idf column attached, as the shard fn receives it from the broadcast join."""
    rows = []
    for term, plist in postings.items():
        for doc_id, tf in plist:
            rows.append((term, 0, doc_id, tf, list(range(tf)), doc_lens[doc_id]))
    rows.sort(key=lambda t: (t[0], t[1], t[2]))
    pdf = pd.DataFrame(
        {
            "field": ["content"] * len(rows),
            "term": [r[0] for r in rows],
            "doc_shard": [r[1] for r in rows],
            "doc_id": [r[2] for r in rows],
            "tf": [r[3] for r in rows],
            "positions": [r[4] for r in rows],
            "doc_len": [r[5] for r in rows],
        }
    )
    packed = _pack_many(pdf, {"content": avgdl})
    packed["idf"] = [
        _idf(len(postings[t]), n_docs) for t in packed["term"]
    ]
    return packed


def _brute_force(postings, doc_lens, avgdl, n_docs, k):
    scores: dict[int, float] = {}
    for term, plist in postings.items():
        idf = _idf(len(plist), n_docs)
        for doc_id, tf in plist:
            dl = doc_lens[doc_id]
            scores[doc_id] = scores.get(doc_id, 0.0) + idf * tf / (
                tf + K1 * (1 - B + B * dl / avgdl)
            )
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [d for d, _ in ranked], [s for _, s in ranked]


def test_skewed_corpus_skips_blocks_10x():
    rng = np.random.default_rng(7)
    n_docs = 60_000
    doc_lens = {}
    # rare term: 20 docs spread across the id space, large tf
    rare_ids = sorted(rng.choice(n_docs, 20, replace=False).tolist())
    # common term: 50k docs, tf=1 (low idf -> low bound)
    common_ids = sorted(rng.choice(n_docs, 50_000, replace=False).tolist())
    for d in set(rare_ids) | set(common_ids):
        doc_lens[d] = 100
    postings = {
        "zzrare": [(d, 8) for d in rare_ids],
        "common": [(d, 1) for d in common_ids],
    }
    avgdl = 100.0
    packed = _pack_for_query(postings, doc_lens, avgdl, n_docs)
    fn = _shard_fn(wand.QuerySpec([], list(postings)), avgdl, k=10)

    wand.reset_decode_stats()
    out = fn(packed)
    decoded = wand.DECODE_STATS["postings"]

    exhaustive = sum(len(p) for p in postings.values())
    assert decoded * 10 <= exhaustive, (decoded, exhaustive)

    want_ids, want_scores = _brute_force(postings, doc_lens, avgdl, n_docs, 10)
    assert out["doc_id"].tolist() == want_ids
    np.testing.assert_allclose(out["score"].to_numpy(), want_scores, rtol=0, atol=0)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_block_skip_exact_vs_brute_force(seed):
    """Random corpora: scores out of the skipping scorer are bit-identical to
    brute force (the skip criterion is provably exact, this pins it)."""
    rng = np.random.default_rng(seed)
    n_docs = 3000
    doc_lens = {d: int(rng.integers(20, 300)) for d in range(n_docs)}
    postings = {}
    for t in range(6):
        df = int(rng.integers(5, 1500))
        ids = sorted(rng.choice(n_docs, df, replace=False).tolist())
        postings[f"t{t}"] = [(d, int(rng.integers(1, 9))) for d in ids]
    avgdl = float(np.mean(list(doc_lens.values())))
    packed = _pack_for_query(postings, doc_lens, avgdl, n_docs)
    fn = _shard_fn(wand.QuerySpec([], list(postings)), avgdl, k=10)
    out = fn(packed)
    want_ids, want_scores = _brute_force(postings, doc_lens, avgdl, n_docs, 10)
    assert out["doc_id"].tolist() == want_ids
    np.testing.assert_allclose(out["score"].to_numpy(), want_scores, rtol=0, atol=1e-12)


def test_blocked_codec_slices_match_full_decode():
    rng = np.random.default_rng(3)
    ids = np.cumsum(rng.integers(1, 40, 1000).astype(np.int64))
    buf, off, first = codec.delta_vbyte_encode_blocked(ids)
    assert np.array_equal(first, ids[:: codec.BLOCK])
    assert np.array_equal(codec.delta_vbyte_decode_blocked(buf), ids)
    nb = len(off)
    for b in range(nb):
        seg = codec.decode_block_slice(buf, off, b, b + 1).astype(np.int64)
        got = np.cumsum(seg)
        assert np.array_equal(got, ids[b * codec.BLOCK : (b + 1) * codec.BLOCK])
    # multi-block run decodes with the restart-aware cumsum
    run = codec.decode_block_slice(buf, off, 2, 5).astype(np.int64)
    got = codec.cumsum_block_restart(run, codec.BLOCK)
    assert np.array_equal(got, ids[2 * codec.BLOCK : 5 * codec.BLOCK])


def test_phrase_positions_decode_candidate_blocks_only():
    """Packed phrase path: positions decode ONLY for blocks containing the
    doc-level candidates (docs holding ALL phrase terms). A 20k-doc common
    term whose intersection with the rare term is 8 docs must leave >= 90%
    of its position stream untouched, and the result must match the
    brute-force phrase evaluation."""
    rng = np.random.default_rng(13)
    n_docs = 20_000
    common_ids = np.arange(n_docs)
    rare_ids = np.sort(rng.choice(n_docs, 8, replace=False))
    match_ids = set(rare_ids[:3].tolist())  # adjacent only in these

    rows = []
    for d in common_ids:
        # 'aa' at positions [2, 7]
        rows.append(("aa", 0, int(d), 2, [2, 7], 50))
    for d in rare_ids:
        # 'bb' adjacent (pos 3) only for match_ids; else far away
        p = 3 if int(d) in match_ids else 30
        rows.append(("bb", 0, int(d), 1, [p], 50))
    rows.sort(key=lambda t: (t[0], t[1], t[2]))
    pdf = pd.DataFrame(
        {
            "field": ["content"] * len(rows),
            "term": [r[0] for r in rows],
            "doc_shard": [r[1] for r in rows],
            "doc_id": [r[2] for r in rows],
            "tf": [r[3] for r in rows],
            "positions": [r[4] for r in rows],
            "doc_len": [r[5] for r in rows],
        }
    )
    packed = _pack_many(pdf, {"content": 50.0})
    packed["idf"] = [
        _idf(n_docs if t == "aa" else 8, n_docs) for t in packed["term"]
    ]
    fn = _shard_fn(wand.QuerySpec(["aa", "bb"], []), avgdl=50.0, k=10)
    wand.reset_decode_stats()
    out = fn(packed)
    # total position-stream entries = sum(tf + 1 marker) over all postings
    total_entries = (pdf["tf"] + 1).sum()
    assert wand.DECODE_STATS["pos_entries"] * 10 <= total_entries, (
        wand.DECODE_STATS["pos_entries"], int(total_entries)
    )
    # doc lengths likewise slice to survivors' blocks (blk_dl_off): the 3
    # adjacency survivors live in <= 3 blocks of the 20k-posting dl blob
    total_postings = len(pdf)
    assert 0 < wand.DECODE_STATS["dl_entries"] * 10 <= total_postings, (
        wand.DECODE_STATS["dl_entries"], total_postings
    )
    assert sorted(out["doc_id"].tolist()) == sorted(match_ids)


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _corpora(draw):
    n_docs = draw(st.integers(min_value=20, max_value=400))
    n_terms = draw(st.integers(min_value=1, max_value=4))
    postings = {}
    for t in range(n_terms):
        df = draw(st.integers(min_value=1, max_value=n_docs))
        ids = sorted(draw(st.permutations(range(n_docs)))[:df])
        postings[f"t{t}"] = [
            (d, draw(st.integers(min_value=1, max_value=6))) for d in ids
        ]
    doc_lens = {d: draw(st.integers(min_value=5, max_value=200)) for d in range(n_docs)}
    k = draw(st.integers(min_value=1, max_value=12))
    return postings, doc_lens, n_docs, k


@given(_corpora())
@settings(max_examples=60, deadline=None)
def test_block_skip_exact_property(corpus):
    """Property: for ANY corpus and k, the block-skipping shard scorer's
    top-k ids AND scores equal brute force (exactness of the skip criterion
    under arbitrary df mixes, ties, and k larger than the candidate set)."""
    postings, doc_lens, n_docs, k = corpus
    avgdl = float(np.mean(list(doc_lens.values())))
    packed = _pack_for_query(postings, doc_lens, avgdl, n_docs)
    out = _shard_fn(wand.QuerySpec([], list(postings)), avgdl, k)(packed)
    want_ids, want_scores = _brute_force(postings, doc_lens, avgdl, n_docs, k)
    assert out["doc_id"].tolist() == want_ids
    np.testing.assert_allclose(out["score"].to_numpy(), want_scores, rtol=0, atol=1e-12)
