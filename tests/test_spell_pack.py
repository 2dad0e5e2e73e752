"""Property tests: Damerau-Levenshtein vs brute-force recursion; the
multi-group streaming packer round-trips arbitrary posting frames."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from awesome_spark_search import codec
from awesome_spark_search.build import _pack_many
from awesome_spark_search.spell import damerau_levenshtein


def _dl_brute(a: str, b: str) -> int:
    """Reference OSA distance: exponential recursion with memo."""
    memo = {}

    def rec(i, j):
        if (i, j) in memo:
            return memo[(i, j)]
        if i == 0:
            return j
        if j == 0:
            return i
        cost = 0 if a[i - 1] == b[j - 1] else 1
        d = min(rec(i - 1, j) + 1, rec(i, j - 1) + 1, rec(i - 1, j - 1) + cost)
        if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
            d = min(d, rec(i - 2, j - 2) + 1)
        memo[(i, j)] = d
        return d

    return rec(len(a), len(b))


@given(
    st.text(alphabet="abcde", max_size=8),
    st.text(alphabet="abcde", max_size=8),
)
@settings(max_examples=300, deadline=None)
def test_damerau_levenshtein_matches_bruteforce(a, b):
    assert damerau_levenshtein(a, b) == _dl_brute(a, b)


def test_damerau_transposition_counts_one():
    # plain Levenshtein would say 2; the reference uses OSA with cost 1
    assert damerau_levenshtein("merge", "mrege") == 1
    assert damerau_levenshtein("abcd", "badc") == 2


def test_unrestricted_dl_vs_osa_goldens():
    """The reference's DamerauLevenshteinCalculator is the TRUE DL variant;
    the engine defaults to OSA (what DuckDB's damerau_levenshtein computes,
    keeping the oracle green) and offers 'dl' behind a flag. The classic
    divergence: 'ca'->'abc' is transpose(ca->ac)+insert = 2 under true DL,
    but OSA forbids edits across a transposed pair -> 3."""
    from awesome_spark_search.spell import damerau_levenshtein_unrestricted as dl

    assert dl("ca", "abc") == 2
    assert damerau_levenshtein("ca", "abc") == 3
    # where no non-adjacent transposition exists the variants agree
    for a, b in [("merge", "mrege"), ("abcd", "badc"), ("", "xy"),
                 ("kitten", "sitting"), ("spark", "spark")]:
        assert dl(a, b) == damerau_levenshtein(a, b)


@given(
    st.text(alphabet="abc", max_size=7),
    st.text(alphabet="abc", max_size=7),
)
@settings(max_examples=200, deadline=None)
def test_unrestricted_dl_bounds(a, b):
    """True DL <= OSA always (OSA restricts the edit sequences), and both
    are >= the length-difference lower bound."""
    from awesome_spark_search.spell import damerau_levenshtein_unrestricted as dl

    d, o = dl(a, b), damerau_levenshtein(a, b)
    assert d <= o
    assert d >= abs(len(a) - len(b))
    assert (d == 0) == (a == b)


posting_frames = st.lists(
    st.tuples(
        st.sampled_from(["alpha", "beta", "gamma"]),  # term
        st.integers(min_value=0, max_value=3),        # doc_shard
        st.integers(min_value=0, max_value=10**6),    # doc_id
        st.lists(st.integers(min_value=0, max_value=500), min_size=1,
                 max_size=6, unique=True),            # positions
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@given(posting_frames)
@settings(max_examples=100, deadline=None)
def test_pack_many_roundtrip(rows):
    rows = sorted(rows, key=lambda t: (t[0], t[1], t[2]))
    pdf = pd.DataFrame(
        {
            "field": ["content"] * len(rows),
            "term": [t[0] for t in rows],
            "doc_shard": [t[1] for t in rows],
            "doc_id": [t[2] for t in rows],
            "tf": [len(t[3]) for t in rows],
            "positions": [sorted(t[3]) for t in rows],
            "doc_len": [600] * len(rows),
        }
    )
    packed = _pack_many(pdf, {"content": 100.0})
    # groups count == distinct (term, shard)
    assert len(packed) == len({(t[0], t[1]) for t in rows})
    # decode every group and compare to the input
    got = []
    for _, r in packed.iterrows():
        ids = codec.delta_vbyte_decode_blocked(bytes(r["doc_ids_vb"]))
        tfs = codec.vbyte_decode(bytes(r["tfs_vb"])).astype(int)
        stream = codec.vbyte_decode(bytes(r["pos_vb"])).astype(np.int64)
        assert r["n"] == len(ids) == len(tfs)
        i = 0
        for d, tf in zip(ids, tfs):
            n = int(stream[i]); i += 1
            assert n == tf
            gaps = stream[i: i + n]; i += n
            got.append((r["term"], int(r["doc_shard"]), int(d),
                        tuple(np.cumsum(gaps).tolist())))
        assert i == len(stream)
    want = [(t[0], t[1], t[2], tuple(sorted(t[3]))) for t in rows]
    assert sorted(got) == sorted(want)
