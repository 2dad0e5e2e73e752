"""Concurrent search() on ONE executor: each call applies its own spelling
corrections. Two threads search different typo'd queries; a barrier inside
``executor.correct_dictionary`` (the driver-side corrector both call with
the cached dictionary) forces every pair of calls to overlap, so both
threads have found their corrections before either builds its plans.
Each thread's rows must match the oracle under its OWN correction map —
keyword, PRF (which re-reads the corrections after its first Spark action
to generate snippets) and Boolean queries."""

import sys
import threading

import pytest

from awesome_spark_search import executor as executor_mod
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor

from oracle import OracleIndex

# several sentences per doc, the typo'd term never in the first one: a PRF
# snippet generated with the wrong correction map falls back to the first
# sentence and expands the query with different terms
DOCS = {
    0: "alpha beta gamma. merge delta epsilon.",
    1: "alpha beta. merge delta zeta.",
    2: "kappa lambda. buffer theta iota.",
    3: "kappa lambda mu. buffer theta.",
    4: "delta epsilon zeta.",
    5: "beta gamma alpha.",
    6: "theta iota kappa.",
}
# per thread: its queries (each holds the thread's one typo) and the
# correction that typo gets
THREADS = {
    "a": (["mrege", "mrege #2", "alpha AND mrege"], {"mrege": "merge"}),
    "b": (["bufer", "bufer #2", "lambda AND bufer"], {"bufer": "buffer"}),
}


@pytest.fixture(scope="module")
def src(spark):
    return spark.createDataFrame(list(DOCS.items()), "doc_id long, content string")


@pytest.fixture(scope="module")
def index(spark, src):
    return build_index(spark, src, do_stem=False)


def test_concurrent_searches_keep_their_own_corrections(spark, src, index, monkeypatch):
    barrier = threading.Barrier(len(THREADS), timeout=300)
    real = executor_mod.correct_dictionary

    def overlapping(*args, **kwargs):
        out = real(*args, **kwargs)
        barrier.wait()  # both threads now hold their corrections
        return out

    monkeypatch.setattr(executor_mod, "correct_dictionary", overlapping)
    ex = QueryExecutor(spark, index, source_df=src)
    got: dict[str, list] = {}
    errors: list[BaseException] = []

    def run(name):
        try:
            got[name] = [
                [(r["doc_id"], r["score"]) for r in ex.search(q, k=10).collect()]
                for q in THREADS[name][0]
            ]
        except Exception as e:  # surfaced below; frees the other thread
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(name,)) for name in THREADS]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often while both run
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors

    oracle = OracleIndex(DOCS, do_stem=False)
    for name, (queries, corrections) in THREADS.items():
        for query, rows in zip(queries, got[name]):
            want = oracle.search(query, corrections=corrections, contents=DOCS)
            assert want, query  # the fixture must exercise the query
            assert [d for d, _ in rows] == [d for d, _ in want], (name, query)
            for (_, g), (_, w) in zip(rows, want):
                assert (g is None) if w is None else abs(g - w) < 1e-9, (name, query)


def test_threads_racing_the_first_copy_load_share_one_copy(spark, src, index, monkeypatch):
    """Threads whose first searches on a fresh executor start together load
    the driver-side copy of the packed rows once (under the dictionary
    lock), and each answers as a lone executor does."""
    from awesome_spark_search import wand

    queries = ["merge delta", '"kappa lambda"', "alpha AND NOT gamma", "buffer theta"]
    lone = QueryExecutor(spark, index)
    want = {q: [(r["doc_id"], r["score"]) for r in lone.search(q, k=10).collect()] for q in queries}
    assert all(want.values())
    loads = []
    real = wand.PackedCopy.collect

    def counting(packed):
        loads.append(threading.get_ident())
        return real(packed)

    monkeypatch.setattr(wand.PackedCopy, "collect", counting)
    ex = QueryExecutor(spark, index)
    n_threads = 2 * len(queries)  # more threads than the session's cores
    barrier = threading.Barrier(n_threads, timeout=300)
    got: dict[int, list] = {}
    errors: list[BaseException] = []

    def run(i):
        try:
            barrier.wait()  # every thread's first search starts together
            query = queries[i % len(queries)]
            got[i] = [(r["doc_id"], r["score"]) for r in ex.search(query, k=10).collect()]
        except Exception as e:  # surfaced below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often while they race
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(loads) == 1 and ex._dictionary.copy is not None
    assert got == {i: want[queries[i % len(queries)]] for i in range(n_threads)}
