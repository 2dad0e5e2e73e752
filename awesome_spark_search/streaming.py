"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.5: no streaming of any kind); these
operators extend the engine to continuous corpora, which a 100 TB
training-data pipeline needs:

* ``IncrementalIndexer``: readStream over a documents directory ->
  ``foreachBatch`` appends per-batch posting partials to a delta area
  partitioned by term_bucket. The merged view (base + deltas) keeps each
  doc's latest batch and drops tombstoned docs (one rule, ``_latest_rows``,
  for postings and doc lengths alike); ``to_index`` hands it to the batch
  build's own tail (``build.assemble``: stats, repack, term_stats), so a
  streamed index is byte-identical to a batch build of the same final
  docs. A base index's long rows are decoded from its packed table
  (``Index.postings``), the only form an index stores.
* ``tumbling_counts``: watermarked tumbling-window aggregation over an events
  stream (late data dropped deterministically by the watermark).
* ``running_user_totals``: custom stateful operator via
  ``applyInPandasWithState`` — per-key running totals that survive across
  micro-batches (GroupState), the Spark-native analog of a hand-rolled
  stateful operator.

Scale notes: each micro-batch's posting partial is one narrow map over its
documents (``batch_postings``: the batch build's map-side accumulation, no
shuffle); the base + deltas merge is a doc-keyed join plus a duplicate
collapse, and compaction (``compact_deltas``) periodically folds the deltas
into one index root, the base of the next ``to_index``, so that merge stays
O(#deltas since the last compaction).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .build import (
    DEFAULT_DOC_SHARD_SIZE,
    PLAIN_FIELDS,
    Index,
    assemble,
    save_index,
    term_bucket_col,
)
from .lineage import StageRunner
from .textproc import doc_postings_flat, doc_len_col

# ---------------------------------------------------------------------------
# incremental index ingestion
# ---------------------------------------------------------------------------


def batch_postings(source_df: DataFrame, *, do_stem: bool) -> DataFrame:
    """One batch's posting partial: (term_bucket, term, doc_id, tf, positions).
    The batch build's tokenize pass (build.build_index) — map-side
    accumulation, no shuffle."""
    return doc_postings_flat(
        source_df.select("doc_id", "content"), do_stem=do_stem
    ).drop("doc_len").withColumn("term_bucket", term_bucket_col(F.col("term")))


def batch_doc_lens(source_df: DataFrame) -> DataFrame:
    return source_df.select("doc_id", doc_len_col("content").alias("doc_len"))


class IncrementalIndexer:
    """Streaming document ingestion -> append-only posting deltas.

    Mutation model (everything is append-only on disk; semantics come from
    the merge):

    * new doc_id        -> indexed from its batch's partial
    * re-ingested doc   -> wholly REPLACED by its latest batch
      (``merged_postings`` keeps only the max-batch rows per doc)
    * deleted doc       -> ``delete_docs`` appends a tombstone; the doc
      disappears from every merged view until a LATER batch re-ingests it
      (takedown/right-to-be-forgotten flow for a training corpus)
    * replayed batch    -> idempotent (at-least-once sinks collapse to the
      same rows)
    """

    def __init__(self, spark: SparkSession, delta_dir: str, *, do_stem: bool = True):
        self.spark = spark
        self.delta_dir = delta_dir
        self.do_stem = do_stem

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        postings = batch_postings(batch_df, do_stem=self.do_stem)
        (
            postings.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(os.path.join(self.delta_dir, "postings"))
        )
        batch_doc_lens(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(os.path.join(self.delta_dir, "doc_lens"))

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
        against ingests: the doc is gone from merged views unless a LATER
        batch re-ingests it. Append-only like everything else — no rewrite of
        existing delta files; the merge applies the semantics."""
        df = self.spark.createDataFrame(
            [(int(d), int(batch_id)) for d in doc_ids], "doc_id long, batch_id long"
        )
        df.write.mode("append").parquet(os.path.join(self.delta_dir, "tombstones"))

    def _tombstone_max(self) -> DataFrame | None:
        """(doc_id, _tb = latest tombstone batch), or None if no deletes.

        Existence is probed through Spark itself (PATH_NOT_FOUND -> None),
        NOT os.path: delta_dir may be an hdfs://... or s3a://... URI where a
        driver-local isdir() is always False — which would silently no-op
        every tombstone (the takedown flow must never fail open). Any other
        read failure (permissions, corrupt files) re-raises."""
        from pyspark.errors import AnalysisException

        path = os.path.join(self.delta_dir, "tombstones")
        try:
            t = self.spark.read.parquet(path)
            t.schema  # force analysis so a missing path surfaces here
        except AnalysisException as exc:
            cls = exc.getCondition() if hasattr(exc, "getCondition") else exc.getErrorClass()
            if cls == "PATH_NOT_FOUND":
                return None
            raise
        return t.groupBy("doc_id").agg(F.max("batch_id").alias("_tb"))

    def _latest_rows(self, parts: DataFrame) -> DataFrame:
        """The rows of ``parts`` (doc_id, batch_id long, ...; a base joins in
        as batch -1, losing to any delta) from their doc's LATEST batch that
        no later tombstone removes: THE replace-and-tombstone rule of every
        merged view. The per-doc latest batch comes from the doc_lens delta
        — one row per (doc_id, batch) REGARDLESS of token count — not from
        postings rows: a doc re-ingested with empty/all-stopword text has no
        postings rows in its new batch, and a postings-derived watermark
        would leave its OLD batch 'latest' (stale terms searchable while
        doc_lens reports the new length). Docs only in the base (no delta
        row) keep the base watermark -1. Both joins are doc-keyed against
        delta-sized frames."""
        latest = (
            self.spark.read.parquet(os.path.join(self.delta_dir, "doc_lens"))
            .groupBy("doc_id")
            .agg(F.max(F.col("batch_id").cast("long")).alias("_latest"))
        )
        kept = (
            parts.join(latest, "doc_id", "left")
            .withColumn("_eff", F.coalesce(F.col("_latest"), F.lit(-1).cast("long")))
            .filter(F.col("batch_id") == F.col("_eff"))
        )
        tomb = self._tombstone_max()
        if tomb is not None:
            # a doc survives only if something was ingested AFTER its last
            # tombstone
            kept = kept.join(tomb, "doc_id", "left").filter(
                F.col("_tb").isNull() | (F.col("_tb") < F.col("_eff"))
            )
        return kept

    def merged_postings(self, base: DataFrame | None = None) -> DataFrame:
        """Queryable postings = base (batch build) + streamed deltas.
        Idempotent under replay AND re-ingest: a document's postings are
        taken from its LATEST batch only (``_latest_rows``). All of a row's
        fields come from the same record, so tf == len(positions) always
        holds, and a term dropped by the new version of a doc disappears
        (independent max(tf)/max(positions) across versions could mix
        records and corrupt the packed position stream downstream)."""
        delta = self.spark.read.parquet(os.path.join(self.delta_dir, "postings"))
        parts = delta.select(
            "term_bucket", "term", "doc_id",
            F.col("batch_id").cast("long").alias("batch_id"), "tf", "positions",
        )
        if base is not None:
            parts = base.select(
                "term_bucket", "term", "doc_id",
                F.lit(-1).cast("long").alias("batch_id"), "tf", "positions",
            ).unionByName(parts)
        return (
            self._latest_rows(parts)
            # replay of the winning batch duplicates identical rows -> collapse
            .groupBy("term_bucket", "term", "doc_id")
            .agg(F.max("tf").alias("tf"), F.max("positions").alias("positions"))
        )

    def doc_lens(self, base_lens: DataFrame | None = None) -> DataFrame:
        """(doc_id, doc_len) under the same latest-batch-wins + tombstone
        rule as merged_postings (``_latest_rows``). ``base_lens`` (doc_id,
        doc_len) joins in as batch -1, so batch-built docs are replaced by
        re-ingests and removed by tombstones exactly like streamed ones."""
        d = self.spark.read.parquet(os.path.join(self.delta_dir, "doc_lens"))
        parts = d.select(
            "doc_id", F.col("batch_id").cast("long").alias("batch_id"), "doc_len"
        )
        if base_lens is not None:
            parts = base_lens.select(
                "doc_id", F.lit(-1).cast("long").alias("batch_id"), "doc_len"
            ).unionByName(parts)
        # replay of the winning batch duplicates identical rows -> collapse
        return self._latest_rows(parts).groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))

    def compact_deltas(self, out_dir: str) -> dict:
        """Fold the append-only delta area into one index root at
        ``out_dir``: the deltas' ``to_index()``, written by
        ``build.save_index`` like every other root (packed; no long postings
        table). The root is the next base: stream into a fresh delta area
        and serve ``to_index(base=load_index(spark, out_dir))``. Run it
        periodically, so the query-side merge stays O(#deltas since the last
        compaction). Returns the root's summary."""
        return save_index(self.spark, self.to_index(), out_dir)

    def to_index(
        self,
        base: Index | None = None,
        *,
        doc_shard_size: int = DEFAULT_DOC_SHARD_SIZE,
    ) -> Index:
        """Materialize a queryable Index over base + streamed deltas — the
        same QueryExecutor runs unchanged over a continuously-ingested
        corpus; any Index is a base (its postings decode from its packed
        rows), one opened from disk included. The merged doc lens and
        postings go through the batch build's own tail (``build.assemble``):
        stats, the repack into the delta+VByte block-directory form every
        query serves from, and term_stats — so run it per compaction, not
        per query."""
        # a streamed index is plain: its one field is the whole content
        if base is not None and base.field_weights != PLAIN_FIELDS:
            raise ValueError("to_index streams onto a plain (one-field) base only")
        (field,) = PLAIN_FIELDS
        # base doc lens merge under the SAME latest-wins + tombstone rule as
        # the postings (a tombstoned or re-ingested base doc must not leak
        # its old doc_len into n_docs/avgdl/BM25 normalization)
        doc_map = self.doc_lens(
            base.doc_map.select("doc_id", "doc_len") if base is not None else None
        ).withColumn("field_lens", F.create_map(F.lit(field), F.col("doc_len")))
        postings = (
            self.merged_postings(base.postings if base is not None else None)
            .join(doc_map, "doc_id")
            .select(F.lit(field).alias("field"), "term", "doc_id", "tf", "positions", "doc_len")
        )
        return assemble(
            StageRunner(self.spark, None), postings, doc_map, PLAIN_FIELDS,
            self.do_stem, doc_shard_size,
        )


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
