"""The huge-vocabulary Bloom filter: exactness (no false negatives), the
chunked OR-reduce build, and the one-action-per-query happy-path gate at
VOCAB_CACHE_MAX=0 (the >1M-term deployment simulated on a small corpus)."""

from awesome_spark_search.bloom import TermBloom, build_term_bloom
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor


def _build(spark, rows, **kw):
    src = spark.createDataFrame(rows, "doc_id long, content string")
    return build_index(spark, src, do_stem=False,
                       doc_shard_size=4, **kw)


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_no_false_negatives_and_low_fp(spark):
    terms = [f"term{i:04d}" for i in range(500)]
    ts = spark.createDataFrame([(t,) for t in terms], "term string")
    bloom = build_term_bloom(ts, len(terms))
    assert all(t in bloom for t in terms)  # Bloom invariant: no FNs, ever
    absent = [f"absent{i:05d}" for i in range(2000)]
    fps = sum(t in bloom for t in absent)
    # expected FP rate ~2^-11 at 16 bits/term; 2000 probes -> ~1
    assert fps <= 10, fps
    assert bloom.fp_rate() < 0.01


def test_bulk_set_bits_matches_scalar_reference():
    """The vectorized (numpy uint64, wrapping) builder sets exactly the bits
    a pure-Python reference with the same wrapped double-hash would set, and
    every inserted term probes positive through TermBloom.__contains__."""
    import numpy as np

    from awesome_spark_search.bloom import _U64, _bulk_set_bits, _term_hash_pair

    m, k = 4099, 11  # non-power-of-two m exercises the wrap-before-mod rule
    terms = [f"t{i}" for i in range(257)]
    arr = np.zeros((m + 7) // 8, dtype=np.uint8)
    _bulk_set_bits(arr, terms, m, k)
    ref = np.zeros_like(arr)
    for t in terms:
        h1, h2 = _term_hash_pair(t)
        for i in range(k):
            pos = ((h1 + i * h2) & _U64) % m
            ref[pos >> 3] |= np.uint8(1 << (pos & 7))
    assert (arr == ref).all()
    bloom = TermBloom(bits=arr, m=m, k=k, n_terms=len(terms))
    assert all(t in bloom for t in terms)


def test_chunked_build_matches_single_chunk(spark):
    """Force multi-chunk assembly (8-byte chunks) — identical bits to the
    default single-chunk build, proving the chunk_id OR-reduce + driver
    reassembly is offset-correct."""
    terms = [f"word{i}" for i in range(64)]
    ts = spark.createDataFrame([(t,) for t in terms], "term string").repartition(7)
    one = build_term_bloom(ts, len(terms))
    many = build_term_bloom(ts, len(terms), chunk_bytes=8)
    assert one.m == many.m and one.k == many.k
    assert (one.bits == many.bits).all()
    assert all(t in many for t in terms)


def test_huge_vocab_happy_path_one_action(spark):
    """VOCAB_CACHE_MAX=0 simulates a >1M-term vocabulary. After the
    one-time Bloom build, a well-spelled search costs exactly one job more
    than the cached-vocab path with its one collect (the copy's gate shut):
    the broadcast of the term_stats rows, whose idf/cf the cached path
    takes from the dictionary. No per-query existence job is added (one
    would fail the exact count), and a typo'd search still corrects (no
    false negatives). The cached path from the executor's copy of the
    packed rows runs no job at all."""
    idx = _build(
        spark,
        [
            (0, "buffer merge stream window"),
            (1, "buffer compact stream scan"),
            (2, "merge window stream batch"),
        ],
    )
    big = QueryExecutor(spark, idx)
    big.VOCAB_CACHE_MAX = 0
    big.search("buffer merge", k=5).collect()  # warm: builds the Bloom once
    assert big._vocab is None and big._bloom is not None

    small = QueryExecutor(spark, idx)
    small.PACKED_COPY_MAX_TOKENS = -1  # the one-collect fallback
    small.search("buffer merge", k=5).collect()  # warm: caches the vocab
    assert small._vocab is not None and small._dictionary.copy is None
    copied = QueryExecutor(spark, idx)
    copied.search("buffer merge", k=5).collect()  # warm: vocab and copy
    assert copied._dictionary.copy is not None

    j_big = _jobs_for(
        spark, "bloom_path", lambda: big.search("buffer merge", k=5).collect()
    )
    j_small = _jobs_for(
        spark, "vocab_path", lambda: small.search("buffer merge", k=5).collect()
    )
    assert j_big == j_small + 1, (j_big, j_small)
    j_copied = _jobs_for(
        spark, "copy_path", lambda: copied.search("buffer merge", k=5).collect()
    )
    assert j_copied == 0, j_copied

    # typo detection stays exact on the Bloom path
    rows = big.search("bufer mrege", k=5).collect()
    assert big.last_corrections == {"bufer": "buffer", "mrege": "merge"}
    want = small.search("buffer merge", k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in want
    ]
