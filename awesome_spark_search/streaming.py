"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.5: no streaming of any kind); these
operators extend the engine to continuous corpora, which a 100 TB
training-data pipeline needs:

* ``IncrementalIndexer``: readStream over a documents directory ->
  ``foreachBatch`` appends the batch's documents to ONE append-only events
  table; ``delete_docs`` appends tombstones to the same table (the add and
  remove actions of Delta Lake's log, VLDB 2020). ``latest_docs`` applies
  the one replace-and-tombstone rule, and ``to_index`` is ``build_index``
  over those docs, so a streamed index is byte-identical to a batch build
  of the same final docs. A base index is folded in by the packed merge
  after ``merge.drop_docs`` removed every base doc an event names: the
  base is never decoded or re-tokenized.
* ``tumbling_counts``: watermarked tumbling-window aggregation over an events
  stream (late data dropped deterministically by the watermark).
* ``running_user_totals``: custom stateful operator via
  ``applyInPandasWithState`` — per-key running totals that survive across
  micro-batches (GroupState), the Spark-native analog of a hand-rolled
  stateful operator.

Scale notes: a micro-batch is one narrow append of its rows, no
tokenizing; the latest-version rule is one doc-keyed aggregate over the
events, and the doc_ids it names go to the driver once per ``to_index``
as ``drop_docs``'s drop set. Compaction (``compact_deltas``) periodically
folds the events into one index root, the base of the next ``to_index``,
so both stay O(#events since the last compaction).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .build import DEFAULT_DOC_SHARD_SIZE, Index, build_index, save_index, term_bucket_col
from .merge import drop_docs, merge_packed_indexes
from .textproc import doc_postings_flat, doc_len_col

# ---------------------------------------------------------------------------
# incremental index ingestion
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = "doc_id long, batch_id long, content string"


def batch_postings(source_df: DataFrame, *, do_stem: bool) -> DataFrame:
    """The posting rows (term_bucket, term, doc_id, tf, positions) of
    ``source_df``'s (doc_id, content): the batch build's tokenize pass
    (build.build_index) — map-side accumulation, no shuffle."""
    return doc_postings_flat(
        source_df.select("doc_id", "content"), do_stem=do_stem
    ).drop("doc_len").withColumn("term_bucket", term_bucket_col(F.col("term")))


class IncrementalIndexer:
    """Streaming document ingestion -> one append-only table of document
    events, ``<delta_dir>/events`` (doc_id, batch_id, content; NULL content
    is a tombstone).

    Mutation model (everything is append-only on disk; semantics come from
    ``latest_docs``):

    * new doc_id        -> indexed from its batch's row
    * re-ingested doc   -> wholly REPLACED by its latest batch
    * deleted doc       -> ``delete_docs`` appends a tombstone; the doc
      disappears from every view until a LATER batch re-ingests it
      (takedown/right-to-be-forgotten flow for a training corpus)
    * replayed batch    -> idempotent (at-least-once sinks collapse to the
      same row)
    """

    def __init__(self, spark: SparkSession, delta_dir: str, *, do_stem: bool = True):
        self.spark = spark
        self.delta_dir = delta_dir
        self.do_stem = do_stem

    def _append(self, events: DataFrame) -> None:
        events.write.mode("append").parquet(os.path.join(self.delta_dir, "events"))

    def _events(self) -> DataFrame:
        return self.spark.read.schema(EVENTS_SCHEMA).parquet(
            os.path.join(self.delta_dir, "events")
        )

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._append(batch_df.select(
            F.col("doc_id").cast("long"),
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("content").cast("string"),
        ))

    def start(self, stream_df: DataFrame, checkpoint: str, *,
              trigger_available_now: bool = True):
        writer = (
            stream_df.writeStream.foreachBatch(self.foreach_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def delete_docs(self, doc_ids, batch_id: int) -> None:
        """Append tombstones for ``doc_ids``. ``batch_id`` orders the delete
        against ingests: the doc is gone from every view unless a LATER
        batch re-ingests it. Append-only like everything else — no rewrite
        of existing event files; ``latest_docs`` applies the semantics."""
        self._append(self.spark.createDataFrame(
            [(int(d), int(batch_id), None) for d in doc_ids], EVENTS_SCHEMA
        ))

    def latest_docs(self) -> DataFrame:
        """(doc_id, content) of every doc's latest version: THE
        replace-and-tombstone rule. Per doc the max of (batch_id, is
        tombstone, content) wins, so a tombstone beats an ingest of the
        same batch, a replayed batch collapses to one row, and the doc is
        dropped when its winner is a tombstone. Every event is one row, so a
        version that tokenizes to nothing still replaces the old one."""
        latest = F.max(F.struct(
            "batch_id", F.col("content").isNull().alias("gone"), "content"
        ))
        return (
            self._events().groupBy("doc_id").agg(latest.alias("v"))
            .filter(~F.col("v.gone"))
            .select("doc_id", F.col("v.content").alias("content"))
        )

    def merged_postings(self) -> DataFrame:
        """The posting rows of ``latest_docs`` (``batch_postings``)."""
        return batch_postings(self.latest_docs(), do_stem=self.do_stem)

    def doc_lens(self) -> DataFrame:
        """(doc_id, doc_len) of ``latest_docs``."""
        return self.latest_docs().select("doc_id", doc_len_col("content").alias("doc_len"))

    def compact_deltas(self, out_dir: str) -> dict:
        """Fold the events into one index root at ``out_dir``: the events'
        ``to_index()``, written by ``build.save_index`` like every other
        root. The root is the next base: stream into a fresh delta area and
        serve ``to_index(base=load_index(spark, out_dir))``. Run it
        periodically, so ``to_index`` stays O(#events since the last
        compaction). Returns the root's summary."""
        return save_index(self.spark, self.to_index(), out_dir)

    def to_index(
        self,
        base: Index | None = None,
        *,
        doc_shard_size: int = DEFAULT_DOC_SHARD_SIZE,
    ) -> Index:
        """A queryable Index over base + events: ``build_index`` over
        ``latest_docs``. A ``base`` (any Index, one opened from disk
        included) loses every doc an event names — each was replaced or
        deleted — through ``merge.drop_docs``, and the packed merge folds
        the built docs in; its source checks refuse a base of another
        do_stem, doc_shard_size or field set. The merged packed and
        term_stats are filled (one pass each through Spark's no-op sink)
        before the built frames are unpersisted, so the returned Index's
        three frames are all this leaves cached and nothing is tokenized
        twice; the merged doc_map needs no tokenizing, and the merge's
        duplicate probe fills it whenever ranges overlap. Run it per
        compaction, not per query."""
        delta = build_index(
            self.spark, self.latest_docs(), do_stem=self.do_stem,
            doc_shard_size=doc_shard_size,
        )
        if base is None:
            return delta
        named = self._events().select("doc_id").toPandas()["doc_id"]
        try:
            merged = merge_packed_indexes(
                self.spark, [drop_docs(self.spark, base, named), delta]
            )
            for df in (merged.packed, merged.term_stats):
                df.write.format("noop").mode("overwrite").save()
        finally:
            for df in (delta.doc_map, delta.packed, delta.term_stats):
                df.unpersist()
        return merged


# ---------------------------------------------------------------------------
# watermarked windowed aggregation
# ---------------------------------------------------------------------------


def tumbling_counts(events: DataFrame, *, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Event-time tumbling window counts with a watermark bounding state.
    Works for both batch and streaming DataFrames (same plan)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(F.window("ts", window).alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    ).select(
        F.col("w.start").alias("w_start"), "event_type", "n", "sum_value"
    )


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_USER_TOTAL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), False),
    ]
)


def _update_user_totals(
    key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) across micro-batches.
    State is per-key and bounded by the user-id cardinality; at cluster scale
    the state store shards by the groupBy key like any shuffle."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=_USER_TOTAL_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
