"""Structured Streaming: incremental index ingestion equals the batch build;
watermarked window agg matches batch; stateful operator carries state across
micro-batches."""

import os
import time

import pytest
from pyspark.sql import functions as F

from awesome_spark_search import corpus
from awesome_spark_search.build import load_index
from awesome_spark_search.streaming import (
    IncrementalIndexer,
    batch_postings,
    running_user_totals,
    tumbling_counts,
)

N_DOCS = 120


@pytest.fixture(scope="module")
def doc_pdf():
    return corpus.generate_pandas(N_DOCS, seed=7)


def test_incremental_index_matches_batch(spark, tmp_path, doc_pdf):
    src_dir = str(tmp_path / "docs_in")
    delta_dir = str(tmp_path / "delta")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    full = spark.createDataFrame(doc_pdf)
    half1 = spark.createDataFrame(doc_pdf.iloc[: N_DOCS // 2])
    half2 = spark.createDataFrame(doc_pdf.iloc[N_DOCS // 2:])

    # batch 1 arrives, stream drains
    half1.write.mode("append").parquet(src_dir)
    stream = spark.readStream.schema(full.schema).parquet(src_dir)
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=True)
    q = ingest.start(stream, ckpt)
    q.awaitTermination(120)

    # batch 2 arrives, a fresh availableNow run picks up only the new files
    half2.write.mode("append").parquet(src_dir)
    stream2 = spark.readStream.schema(full.schema).parquet(src_dir)
    q2 = ingest.start(stream2, ckpt)
    q2.awaitTermination(120)

    got = (
        ingest.merged_postings()
        .select("term", "doc_id", "tf", "positions")
        .sort("term", "doc_id")
        .collect()
    )
    want = (
        batch_postings(full, do_stem=True)
        .select("term", "doc_id", "tf", "positions")
        .sort("term", "doc_id")
        .collect()
    )
    assert len(got) == len(want) > 0
    assert got == want

    # doc lens complete and correct
    lens = {r["doc_id"]: r["doc_len"] for r in ingest.doc_lens().collect()}
    assert len(lens) == N_DOCS


def test_streamed_index_answers_queries_like_batch(spark, tmp_path, doc_pdf):
    """The same QueryExecutor over a streaming-ingested index must return
    rank-identical results to the batch-built index."""
    from awesome_spark_search.build import build_index
    from awesome_spark_search.executor import QueryExecutor

    delta_dir = str(tmp_path / "qdelta")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=True)
    # two micro-batches via the foreachBatch contract
    full = spark.createDataFrame(doc_pdf)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[: N_DOCS // 2]), 0)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[N_DOCS // 2:]), 1)

    streamed = QueryExecutor(spark, ingest.to_index())
    batch = QueryExecutor(
        spark, build_index(spark, full, do_stem=True)
    )
    for q in ["buffer", "buffer merge scan", '"merge sort buffer"', "token*"]:
        got = streamed.search(q, k=10).collect()
        want = batch.search(q, k=10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9, q


def test_streamed_index_packs_like_batch_build(spark, tmp_path, doc_pdf):
    """to_index() and build_index over the same final docs (after a
    re-ingest and a tombstone) produce the SAME packed table byte for byte,
    the same term_stats rows and the same stats."""
    from awesome_spark_search.build import build_index

    ingest = IncrementalIndexer(spark, str(tmp_path / "pdelta"), do_stem=True)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[: N_DOCS // 2]), 0)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[N_DOCS // 2:]), 1)
    redo = doc_pdf[doc_pdf.doc_id == 5].assign(content="merge sort buffer merge")
    ingest.foreach_batch(spark.createDataFrame(redo), 2)
    ingest.delete_docs([7], batch_id=3)
    final = doc_pdf[doc_pdf.doc_id != 7].copy()
    final.loc[final.doc_id == 5, "content"] = "merge sort buffer merge"

    sidx = ingest.to_index(doc_shard_size=16)
    bidx = build_index(
        spark, spark.createDataFrame(final), do_stem=True, doc_shard_size=16
    )

    def packed(ix):
        out = {}
        for r in ix.packed.collect():
            d = r.asDict()
            out[(d["term"], d["doc_shard"])] = {
                c: bytes(v) if isinstance(v, (bytes, bytearray)) else v
                for c, v in d.items()
            }
        return out

    def term_stats(ix):
        return sorted(
            tuple(r) for r in ix.term_stats.select("term", "df", "cf", "term_bucket").collect()
        )

    got, want = packed(sidx), packed(bidx)
    assert len(got) == len(want) > 0
    assert got == want
    assert term_stats(sidx) == term_stats(bidx)
    assert sidx.stats == bidx.stats


def test_merged_postings_idempotent_under_replay(spark, tmp_path, doc_pdf):
    """Replaying the same batch (at-least-once delivery) must not change the
    merged view."""
    delta_dir = str(tmp_path / "delta2")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=False)
    df = spark.createDataFrame(doc_pdf.iloc[:30])
    ingest.foreach_batch(df, 0)
    once = ingest.merged_postings().count()
    ingest.foreach_batch(df, 0)  # replay
    twice = ingest.merged_postings().count()
    assert once == twice


def test_compact_deltas_preserves_postings(spark, tmp_path, doc_pdf):
    """Compaction writes an index root: opened with load_index, its
    postings (decoded from packed) are the merged deltas' and its doc_map
    holds every doc."""
    delta_dir = str(tmp_path / "delta3")
    out_dir = str(tmp_path / "compacted")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=False)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[:40]), 0)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[40:80]), 1)
    want = {
        (r["term"], r["doc_id"], r["tf"])
        for r in ingest.merged_postings().collect()
    }
    ingest.compact_deltas(out_dir)
    root = load_index(spark, out_dir)
    got = {(r["term"], r["doc_id"], r["tf"]) for r in root.postings.collect()}
    assert got == want and len(got) > 0
    assert root.doc_map.count() == 80


def test_tumbling_counts_stream_matches_batch(spark, tmp_path):
    import pandas as pd

    ev = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:30", "2026-01-01 00:02:00",
                 "2026-01-01 00:06:10", "2026-01-01 00:07:59",
                 "2026-01-01 00:11:00"]
            ),
            "event_type": ["a", "b", "a", "a", "b"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    src_dir = str(tmp_path / "events_in")
    spark.createDataFrame(ev).write.parquet(src_dir)
    batch_out = {
        (r["w_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_counts(spark.read.parquet(src_dir)).collect()
    }

    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = {
        (r["w_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("select * from tumbling_test").collect()
    }
    # append mode only emits windows closed by the watermark; every emitted
    # window must match batch exactly
    assert set(stream_out) <= set(batch_out)
    for k, v in stream_out.items():
        assert batch_out[k] == v


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than (max event time - watermark) arriving in a later
    micro-batch must not resurrect its already-finalized window."""
    import pandas as pd

    src_dir = str(tmp_path / "late_in")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def _drain(batch_tag):
        def _sink(bdf, bid):
            bdf.withColumn("tag", F.lit(batch_tag)).write.mode("append").parquet(out_dir)

        stream = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        q = (
            tumbling_counts(stream, window="5 minutes", watermark="5 minutes")
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).filter(F.col("tag") == batch_tag).collect()

    b1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:01:00", "2026-01-01 00:02:00",
                 "2026-01-01 00:30:00"]  # advances watermark to 00:25
            ),
            "event_type": ["a", "a", "b"],
            "value": [1.0, 1.0, 1.0],
        }
    )
    spark.createDataFrame(b1).write.mode("append").parquet(src_dir)
    first = _drain("first")
    emitted = {
        (str(r["w_start"]), r["event_type"]): r["n"] for r in first
    }
    # the 00:00 window closed (watermark passed it) and was emitted with n=2
    assert emitted.get(("2026-01-01 00:00:00", "a")) == 2

    # a late event for the already-closed 00:00 window
    b2 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2026-01-01 00:03:00"]),
            "event_type": ["a"],
            "value": [99.0],
        }
    )
    spark.createDataFrame(b2).write.mode("append").parquet(src_dir)
    second = _drain("second")
    # append mode never re-emits the closed window; the late row is dropped
    for r in second:
        assert not (
            str(r["w_start"]) == "2026-01-01 00:00:00" and r["event_type"] == "a"
        ), second


def test_running_user_totals_state_across_batches(spark, tmp_path):
    import pandas as pd

    src_dir = str(tmp_path / "state_in")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "state_ckpt")
    schema = "user_id long, value double"

    out_dir = str(tmp_path / "state_out")

    def _sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    def _drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = pd.DataFrame({"user_id": [1, 1, 2], "value": [1.0, 2.0, 10.0]})
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src_dir)
    _drain()

    b2 = pd.DataFrame({"user_id": [1, 3], "value": [4.0, 7.0]})
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src_dir)
    _drain()

    latest = (
        spark.read.parquet(out_dir)
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("batch_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    rows = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in latest.collect()
    }
    # user 1's state must include batch-1 events (2 events, 3.0) + batch 2
    assert rows[1] == (3, 7.0)
    assert rows[3] == (1, 7.0)


def test_reingest_replaces_doc_consistently(spark, tmp_path):
    """A doc re-ingested with CHANGED content takes its postings wholly from
    the latest batch: tf == len(positions) on every row (no mixing of
    versions), and a term dropped by the new version disappears."""
    delta_dir = str(tmp_path / "delta_reingest")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=False)
    v1 = spark.createDataFrame(
        [(0, "orange apple apple"), (1, "pear pear")],
        "doc_id long, content string",
    )
    v2 = spark.createDataFrame(
        [(0, "apple banana")], "doc_id long, content string"
    )
    ingest.foreach_batch(v1, 0)
    ingest.foreach_batch(v2, 1)  # doc 0 re-ingested, 'orange' dropped
    rows = ingest.merged_postings().collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = (
            r["tf"], list(r["positions"])
        )
        assert r["tf"] == len(r["positions"]), rows
    assert by_doc[0] == {"apple": (1, [0]), "banana": (1, [1])}
    assert by_doc[1] == {"pear": (2, [0, 1])}
    # doc lens follow the latest version too
    lens = {r["doc_id"]: r["doc_len"] for r in ingest.doc_lens().collect()}
    assert lens == {0: 2, 1: 2}


def test_reingest_with_zero_postings_clears_stale_terms(spark, tmp_path):
    """A doc re-ingested with content that yields NO postings (empty or
    all-stopword text) must drop its old terms from the merged view — the
    latest-batch watermark derives from the doc_lens delta (one row per
    (doc, batch) regardless of token count), not from postings rows, so a
    postings-less new version still advances the watermark. doc_lens and
    postings stay consistent."""
    delta_dir = str(tmp_path / "delta_zerop")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=False)
    ingest.foreach_batch(
        spark.createDataFrame(
            [(0, "apple pie"), (1, "banana bread")], "doc_id long, content string"
        ),
        0,
    )
    # doc 0 re-ingested as stopword-only text -> zero postings, doc_len 2
    ingest.foreach_batch(
        spark.createDataFrame([(0, "the of")], "doc_id long, content string"), 1
    )
    docs_with_terms = {
        r["doc_id"]
        for r in ingest.merged_postings().select("doc_id").distinct().collect()
    }
    assert docs_with_terms == {1}, "stale v0 terms of doc 0 still searchable"
    lens = {r["doc_id"]: r["doc_len"] for r in ingest.doc_lens().collect()}
    assert lens == {0: 2, 1: 2}  # doc_len counts stop words (tokenizer contract)


def test_tombstone_delete_reingest_and_query(spark, tmp_path):
    """Takedown flow: delete_docs removes a doc from every merged view; a
    LATER re-ingest resurrects it (with the new content only); a later
    delete wins again; the queryable index respects all of it."""
    from awesome_spark_search.executor import QueryExecutor

    delta_dir = str(tmp_path / "delta_tomb")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=False)
    ingest.foreach_batch(
        spark.createDataFrame(
            [(0, "apple pie"), (1, "banana bread")], "doc_id long, content string"
        ),
        0,
    )
    ingest.delete_docs([0], batch_id=1)
    assert {
        r["doc_id"] for r in ingest.merged_postings().select("doc_id").distinct().collect()
    } == {1}
    assert {r["doc_id"] for r in ingest.doc_lens().collect()} == {1}

    # re-ingest after the delete resurrects with new content only
    ingest.foreach_batch(
        spark.createDataFrame([(0, "apple tart")], "doc_id long, content string"), 2
    )
    terms0 = {
        r["term"]
        for r in ingest.merged_postings().filter(F.col("doc_id") == 0).collect()
    }
    assert terms0 == {"apple", "tart"}

    # a delete after the re-ingest wins again, and queries see it
    ingest.delete_docs([0], batch_id=3)
    idx = ingest.to_index()
    ex = QueryExecutor(spark, idx)
    assert [r["doc_id"] for r in ex.search("banana", k=5).collect()] == [1]
    assert ex.search("apple", k=5).collect() == []


def test_streamed_index_serves_packed_wand(spark, tmp_path):
    """to_index() packs the merged postings with the same
    streaming packer as the batch build: the packed WAND/phrase/boolean
    serving paths run over a continuously-ingested corpus and rank
    identically to a batch build of the same final docs (including a
    re-ingest whose old version must not leak into the packed form)."""
    from awesome_spark_search.build import build_index
    from awesome_spark_search.executor import QueryExecutor

    delta_dir = str(tmp_path / "delta_pack")
    ingest = IncrementalIndexer(spark, delta_dir, do_stem=False)
    ingest.foreach_batch(
        spark.createDataFrame(
            [
                (0, "merge buffer scan merge"),
                (1, "buffer table scan"),
                (2, "merge table value table"),
            ],
            "doc_id long, content string",
        ),
        0,
    )
    # re-ingest doc 1 with changed content; only the new version may pack
    ingest.foreach_batch(
        spark.createDataFrame(
            [(1, "merge value buffer")], "doc_id long, content string"
        ),
        1,
    )
    sidx = ingest.to_index(doc_shard_size=2)
    assert sidx.packed is not None

    final_docs = [
        (0, "merge buffer scan merge"),
        (1, "merge value buffer"),
        (2, "merge table value table"),
    ]
    bidx = build_index(
        spark,
        spark.createDataFrame(final_docs, "doc_id long, content string"),
        do_stem=False, doc_shard_size=2,
    )
    ex_s = QueryExecutor(spark, sidx)
    ex_b = QueryExecutor(spark, bidx)
    for q in ["merge buffer", '"table value"', "merge AND buffer", "scan OR value"]:
        got = [(r["doc_id"], r["score"]) for r in ex_s.search(q, k=10).collect()]
        want = [(r["doc_id"], r["score"]) for r in ex_b.search(q, k=10).collect()]
        assert got == want, q


def test_tombstone_and_reingest_against_batch_base(spark, tmp_path):
    """The latest-wins + tombstone rules must also govern a batch-built base
    passed to to_index: a tombstoned base doc leaves n_docs/avgdl and every
    view; a re-ingested base doc takes its NEW doc_len (not max of old/new)."""
    from awesome_spark_search.build import build_index
    from awesome_spark_search.executor import QueryExecutor

    base_src = spark.createDataFrame(
        [(0, "apple pie crust"), (1, "banana bread loaf slice crumb")],
        "doc_id long, content string",
    )
    base = build_index(spark, base_src, do_stem=False)
    ingest = IncrementalIndexer(spark, str(tmp_path / "delta_base"), do_stem=False)
    ingest.delete_docs([0], batch_id=0)
    ingest.foreach_batch(  # doc 1 re-ingested SHORTER
        spark.createDataFrame([(1, "banana")], "doc_id long, content string"), 1
    )
    idx = ingest.to_index(base)
    assert idx.stats.n_docs == 1
    lens = {r["doc_id"]: r["doc_len"] for r in idx.doc_map.collect()}
    assert lens == {1: 1}  # new length, not max(5, 1)
    ex = QueryExecutor(spark, idx)
    assert [r["doc_id"] for r in ex.search("banana", k=5).collect()] == [1]
    assert ex.search("apple", k=5).collect() == []
    assert ex.search("bread", k=5).collect() == []  # dropped by re-ingest


@pytest.mark.parametrize("other", ["do_stem", "doc_shard_size", "fields"])
def test_to_index_refuses_a_base_of_other_settings(spark, tmp_path, other):
    """A base built with another stemming, doc_shard_size or field set would
    merge into an index whose docs do not answer the same query terms (a
    do_stem=False base under a stemming indexer finds "running buffers
    quickly" for no stemmed query): to_index raises instead."""
    from awesome_spark_search.build import build_index

    docs = spark.createDataFrame(
        [(0, "running buffers quickly", "run")], "doc_id long, content string, title string"
    )
    kw = dict(do_stem=True)
    if other == "do_stem":
        kw["do_stem"] = False
    elif other == "doc_shard_size":
        kw["doc_shard_size"] = 16
    else:
        kw["field_weights"] = {"content": 1.0, "title": 0.5}
    base = build_index(spark, docs, **kw)
    ingest = IncrementalIndexer(spark, str(tmp_path / "delta_other"), do_stem=True)
    ingest.foreach_batch(
        spark.createDataFrame([(1, "buffers running")], "doc_id long, content string"), 0
    )
    with pytest.raises(ValueError):
        ingest.to_index(base)


def test_to_index_leaves_no_cached_frame(spark, tmp_path, doc_pdf):
    """After to_index(base) with a re-ingest and a delete, and an unpersist
    of the returned Index's three frames, the session caches no frame
    to_index created."""
    from awesome_spark_search.build import build_index

    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.getClass().getDeclaredField("cachedData")
    entries.setAccessible(True)

    base = build_index(spark, spark.createDataFrame(doc_pdf.iloc[:80]), do_stem=True)
    ingest = IncrementalIndexer(spark, str(tmp_path / "delta_cache"), do_stem=True)
    ingest.foreach_batch(spark.createDataFrame(doc_pdf.iloc[80:]), 0)
    redo = doc_pdf[doc_pdf.doc_id == 3].assign(content="merge sort buffer")
    ingest.foreach_batch(spark.createDataFrame(redo), 1)
    ingest.delete_docs([4], batch_id=2)
    before = entries.get(cache).size()
    idx = ingest.to_index(base)
    assert idx.stats.n_docs == N_DOCS - 1
    for df in (idx.doc_map, idx.packed, idx.term_stats):
        df.unpersist()
    assert entries.get(cache).size() == before
