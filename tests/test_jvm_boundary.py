"""The Python-JVM boundary of a query on the cached-dictionary path: a
one-shard search builds its plan in a fixed number of py4j round trips plus
a few per term (no per-term map literal, no struct re-pack), and serving
leaves the index's cached frames and the session catalog as it found them."""

import threading
from collections import Counter

import pandas as pd
import pytest
from py4j.java_gateway import GatewayClient

from awesome_spark_search import corpus, wand
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.pagerank import pack_citations

# round trips a dictionary-expanded keyword query may add per extra term:
# its value in the term isin list and, for a new term_bucket, the bucket's
MAX_TRIPS_PER_TERM = 3
# one doc each, so the prefix "qu" expands to about 20 dictionary terms
QU_WORDS = (
    "quack quaint quake qualm quarry quartz quasar queen quest quick quiet "
    "quill quilt quince quirk quiver quota quote quorum quay"
).split()


@pytest.fixture(scope="module")
def served(spark):
    """An in-memory (cached) one-shard index, its source and citations."""
    pdf = corpus.generate_pandas(120, seed=21)
    extra = pdf.iloc[: len(QU_WORDS)].copy()
    extra["doc_id"] = range(len(pdf), len(pdf) + len(QU_WORDS))
    extra["path"] = [f"qu/{w}.py" for w in QU_WORDS]
    extra["content"] = [f"{w} buffer" for w in QU_WORDS]
    src = spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True))
    index = build_index(spark, src, do_stem=True)
    edges = [(d, 3) for d in range(120) if d % 7 == 3 and d != 3]
    citations = pack_citations(spark.createDataFrame(edges, "src long, dst long"))
    return index, src, citations


def _round_trips(monkeypatch):
    """Count py4j commands sent from this thread (the finalizer thread's
    object deletes are not the query's)."""
    counts = Counter()
    real = GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            counts["calls"] += 1
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    return counts


def test_one_shard_query_plan_costs_a_few_round_trips_per_term(spark, served, monkeypatch):
    """search() over the cached dictionary of a one-shard index. Served from
    the executor's copy of the packed rows, a ~20-term keyword query (a
    dictionary-expanded prefix) collects nothing and costs no more py4j
    round trips than a one-term query. With the copy's gate shut, the
    collected selection is a plain filter of the packed rows (no map
    literal, no struct re-pack), and the ~20-term query costs at most
    MAX_TRIPS_PER_TERM round trips per term more than the one-term query."""
    index, _, _ = served

    collected = []
    real = wand._collect_shards

    def recording(rows, *args):
        collected.append(rows)
        return real(rows, *args)

    monkeypatch.setattr(wand, "_collect_shards", recording)
    for copy in (True, False):
        if not copy:
            monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", -1)
        ex = QueryExecutor(spark, index)
        expanded, ranges = ex._expand_prefixes(["qu"])
        assert 18 <= len(expanded) <= 30 and not ranges, expanded
        assert (ex._dictionary.copy is not None) == copy
        ex.search(expanded[0], k=10).collect()  # warm both shapes once
        ex.search("qu*", k=10).collect()
        counts = _round_trips(monkeypatch)
        trips = {}
        for name, query in (("one", expanded[0]), ("many", "qu*")):
            collected.clear()
            counts.clear()
            assert ex.search(query, k=10).collect(), name
            trips[name] = counts["calls"]
            if copy:
                assert not collected, name
                continue
            plans = collected[0]._jdf.queryExecution().toString()
            assert "map(" not in plans and "struct(" not in plans, (name, plans[:3000])
        if copy:
            assert trips["many"] <= trips["one"], trips
            continue
        per_term = (trips["many"] - trips["one"]) / (len(expanded) - 1)
        assert per_term <= MAX_TRIPS_PER_TERM, (trips, len(expanded))


def test_serving_leaves_cached_frames_and_the_catalog_alone(spark, served):
    """One query of every type on an in-memory index keeps packed,
    term_stats and doc_map cached and registers or drops no view; a term
    holding SQL metacharacters selects nothing and raises nothing (terms
    travel as values, never as SQL text)."""
    index, src, citations = served
    tables = sorted(t.name for t in spark.catalog.listTables())
    bm25 = QueryExecutor(spark, index, source_df=src, packed_citations=citations)
    ql = QueryExecutor(spark, index, scorer="ql")
    for query in (
        "buffer merge", "bufer", "buff*", '"merge sort"', '"merge sort" buffer',
        "buffer AND NOT merge", "scan OR LinkTo:3", "LinkTo:3", "buffer #3",
    ):
        bm25.search(query, k=5).collect()
    ql.search("buffer merge", k=5).collect()
    bm25.search_many({"a": "buffer", "b": '"merge sort"'}, k=5).collect()
    ql.search_many({"a": "buffer", "b": "merge"}, k=5).collect()

    for name in ("packed", "term_stats", "doc_map"):
        assert getattr(index, name)._jdf.storageLevel().useMemory(), name
    assert sorted(t.name for t in spark.catalog.listTables()) == tables
    odd = ["it's", "a)b", "back\\slash", "')) OR ('1'='1"]
    assert wand.wand_topk(spark, index, odd, k=10).collect() == []
