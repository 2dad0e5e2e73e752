"""Index build pipeline — the Spark-native equivalent of the reference's
index()/compressIndex() (ref: src/SearchEngine/AwesomeSearchEngine.java:326-340,
src/indexing/DocumentIndexer.java:141-173, InvertedIndexMerger.java:34-112).

The reference's shape — per-document posting accumulation, memory-bounded
spill runs, external k-way merge by term — *is* Spark's map/combine/shuffle/
reduce. We express it declaratively and let Catalyst/Tungsten own spilling and
merging; what stays explicit is what the optimizer cannot infer:

* **skew**: hot terms (``import``/``def``-class tokens hit >30% of docs)
  never hit an unbounded reducer: term_stats rolls up from the packed
  (term, doc_shard) group rows (bounded by construction).
* **one index shape**: a plain index is the one-field case of a fielded one
  (``PLAIN_FIELDS``, the source column ``content`` at weight 1.0). Every
  posting and packed row carries its ``field``, ``doc_map`` carries the
  per-field lengths, and ``IndexStats`` the per-field avgdl, so build,
  merge and serving each have one code path for both (the reference's one
  index whose postings carry a ContentType, ref:
  src/postings/ContentType.java:6-9).
* **the packed table is the index**: the tokenized long posting rows
  stream into the pack shuffle and are never stored (the reference deletes
  its temp runs, ref: DocumentIndexer.java:172, 353-372); ``Index.postings``
  decodes them back from packed (``unpack_postings``).
* **bounded posting rows**: packed postings are keyed ``(field, term,
  doc_shard)`` where ``doc_shard = doc_id // shard_size``. A term over
  10^12 docs never produces one giant array row; every row is <= shard_size
  entries and the query side intersects per-shard (embarrassingly parallel
  WAND).
* **term-bucket layout**: the final index is hash-bucketed on term into
  the constant ``TERM_BUCKETS`` (``term_bucket`` partition column), so a
  query's term lookup prunes to q buckets (the role of the reference's
  seek list, via partition pruning + Parquet min/max stats).
* **one producer**: ``build_index`` is the only code that tokenizes; the
  streaming ``IncrementalIndexer.to_index`` is ``build_index`` over each
  doc's latest version, folded into a base by the packed merge after
  ``merge.drop_docs`` removed the base docs it replaces or deletes.
* **one repack path**: every shuffled packed table — this build and the
  merge — goes through ``repack`` (a (field, term, doc_shard)
  sort-shuffle streamed through one tail-buffered mapInPandas body);
  ``drop_docs`` rewrites packed rows in place with the merge's own head,
  no shuffle. The build and ``drop_docs`` take their stats from
  ``index_stats`` (one aggregate of additive totals), the merge sums its
  sources' totals, and both turn totals into stats through the one avgdl
  formula, ``stats_from_totals``. term_stats of a one-field index rolls
  up from the packed groups (``packed_term_stats``); with several fields
  df counts the docs holding the term in ANY field
  (``any_field_term_stats``), which no one field's rows give.

* **one root format**: a checkpointed ``build_index`` and ``save_index``
  write the ``STAGE_LAYOUT`` stages, ``commit`` seals them, ``load_index``
  opens them (ref: index()/loadIndex(), SearchEngine.java:41-56).

At 100 TB: tokenize is a narrow map (Arrow batches) with no shuffle, the
single wide shuffle is the pack's (field, term, doc_shard) sort-shuffle, and
every later stage groups on keys that include doc_shard/term_bucket,
keeping state bounded.
"""

from __future__ import annotations

import json
import operator
import os
import time
from dataclasses import dataclass, field, replace
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from .lineage import StageRunner, write_json_atomic
from .textproc import doc_postings_flat, doc_len_col

K1 = 1.2
B = 0.75
# the term-bucket count of every index: the fan-out of its term lookup (the
# reference fixes its seek list's sampling interval in code the same way,
# ref: InvertedIndexSeekList.java:14); load_index refuses a root built with
# another
TERM_BUCKETS = 64
DEFAULT_DOC_SHARD_SIZE = 1 << 20  # 1M docs per shard row at scale

# A plain index is the one-field case: the source column it tokenizes, at
# weight 1.0.
PLAIN_FIELDS: dict[str, float] = {"content": 1.0}

# The reference's exact patent-zone weighting, pinned as a preset
# (ref: src/postings/ContentType.java:6-9 — Title 0.5, Abstract 0.25,
# Claims 0.15, Description 0.1). Pass it as ``build_index``'s
# ``field_weights`` to reproduce the reference's four-zone ranking over a
# corpus with those columns; tests/test_fields.py pins the resulting scores.
REFERENCE_ZONES: dict[str, float] = {
    "title": 0.5,
    "abstract": 0.25,
    "claims": 0.15,
    "description": 0.1,
}


@dataclass
class IndexStats:
    n_docs: int
    total_tokens: int
    avgdl: float
    avgdl_by_field: dict[str, float]  # BM25's per-field dl normalizer
    max_doc_id: int  # -1 for an empty index; sets the doc_shard count
    min_doc_id: int  # -1 for an empty index; with max_doc_id, the doc_id range
    tokens_by_field: dict[str, int]  # per-field sum of field_lens


# the additive figures every other IndexStats field derives from: the merge
# sums them over its sources and build_summary.json records them
TOTALS = ("n_docs", "total_tokens", "tokens_by_field", "min_doc_id", "max_doc_id")


def stats_from_totals(
    n_docs: int,
    total_tokens: int,
    tokens_by_field: dict[str, int],
    min_doc_id: int,
    max_doc_id: int,
) -> IndexStats:
    """THE avgdl formula: an IndexStats from its additive totals. Every
    avgdl is a token total over n_docs, floored to 1.0 when it is 0 (an
    empty corpus or an all-empty field: it only ever divides doc lengths).
    Spark's avg over a long column is the same double sum over the count,
    and integer sums below 2^53 are exact, so the value does not depend on
    where the totals were added up."""

    def avgdl(total: int) -> float:
        return (float(total) / n_docs if n_docs else 0.0) or 1.0

    return IndexStats(
        n_docs=n_docs,
        total_tokens=total_tokens,
        avgdl=avgdl(total_tokens),
        avgdl_by_field={f: avgdl(t) for f, t in tokens_by_field.items()},
        max_doc_id=max_doc_id,
        min_doc_id=min_doc_id,
        tokens_by_field=dict(tokens_by_field),
    )


@dataclass
class Index:
    """The queryable index: a set of DataFrames + tiny driver-side stats.

    ``field_weights`` names the source columns the index tokenized and
    their zone weights; a plain index has the one field ``PLAIN_FIELDS``.
    BM25 scores sum ``w_f * idf * tfnorm_f`` over every field, each field
    normalized by its own avgdl. ``packed`` is the only stored form of the
    postings and queries serve from it alone; ``postings`` is a lazy decode
    of it into long rows for the few readers that want them (the SQL views
    and their tests). Positions stay their own stream (``pos_vb``),
    mirroring the reference's frequency/positional file split
    (ref: src/SearchEngine/AwesomeSearchEngine.java:91-100).
    """

    doc_map: DataFrame      # doc_id, repo, path, commit, lang, content_sha256, doc_len, field_lens
    term_stats: DataFrame   # term_bucket, term, df, cf
    packed: DataFrame       # term_bucket, term, doc_shard, n, *_vb blobs, block_max, blk_* directory, field
    stats: IndexStats
    do_stem: bool = True
    build_metrics: list = field(default_factory=list)
    # the packed layout; the query side reads it from here
    doc_shard_size: int = DEFAULT_DOC_SHARD_SIZE
    field_weights: dict[str, float] = field(default_factory=lambda: dict(PLAIN_FIELDS))

    @property
    def postings(self) -> DataFrame:
        """The long posting rows (term_bucket, field, term, doc_id, tf,
        positions, doc_len), decoded from ``packed`` on every read."""
        return unpack_postings(self.packed)


# THE stored layout of an index root's serving stages, as StageRunner.run
# arguments (see "index roots" below)
STAGE_LAYOUT: dict[str, dict] = {
    "doc_map": {},
    "packed": {"partition_by": ["term_bucket"], "sort_within": ["term", "doc_shard"]},
    "term_stats": {"partition_by": ["term_bucket"], "sort_within": ["term"]},
}


PACKED_SCHEMA = T.StructType(
    [
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_shard", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        # per-group collection frequency (sum of tfs): term_stats aggregates
        # straight off the packed table — the pack shuffle already grouped by
        # term, so the separate full-postings term_stats pass is skipped
        T.StructField("cf", T.LongType(), False),
        T.StructField("doc_ids_vb", T.BinaryType(), False),
        T.StructField("tfs_vb", T.BinaryType(), False),
        # doc lengths ride inside the blob (aligned with doc_ids) so the
        # query side never joins doc_map — ~1-2 bytes/posting, the classic
        # impact-index tradeoff
        T.StructField("dls_vb", T.BinaryType(), False),
        T.StructField("pos_vb", T.BinaryType(), False),
        T.StructField("block_max", T.ArrayType(T.DoubleType()), False),
        # block directory (ref skipping-areas analog: src/io/index/
        # UncompressedIndexWriter.java:101-118): per 128-posting block, the
        # byte offset into each stream plus the block's first doc_id. The
        # doc_id delta stream RESTARTS at each block head, so any block
        # decodes standalone — the query side skips whole blocks without
        # touching their bytes (see wand._wand_pass).
        T.StructField("blk_doc_off", T.ArrayType(T.IntegerType()), False),
        T.StructField("blk_tf_off", T.ArrayType(T.IntegerType()), False),
        T.StructField("blk_dl_off", T.ArrayType(T.IntegerType()), False),
        # byte offset into pos_vb at each block's first doc marker: the
        # position stream ([tf, gap...] per doc) of any block run decodes
        # standalone, so phrase queries decode positions ONLY for blocks
        # holding doc-level candidates (wand._phrase_survivors)
        T.StructField("blk_pos_off", T.ArrayType(T.IntegerType()), False),
        T.StructField("blk_first_doc", T.ArrayType(T.LongType()), False),
        T.StructField("field", T.StringType(), False),
    ]
)


PACK_KEYS = ["field", "term", "doc_shard"]  # group key of every packed table


def doc_shard_col(doc_shard_size: int):
    """``doc_id`` -> its packed ``doc_shard``: the one expression every
    packer and the Boolean LinkTo keying (wand.boolean_docs) share, so a
    link's shard always meets the packed rows of the same docs."""
    return (F.col("doc_id") / F.lit(doc_shard_size)).cast("long")


def _groups(pdf: pd.DataFrame):
    """(start, end, key) of every run of equal PACK_KEYS values in a frame
    sorted by them; ``key`` maps each key column to the run's value."""
    cols = {c: pdf[c].to_numpy() for c in PACK_KEYS}
    n = len(pdf)
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for a in cols.values():
        new[1:] |= a[1:] != a[:-1]
    starts = np.flatnonzero(new).tolist()
    for s, e in zip(starts, starts[1:] + [n]):
        yield s, e, {c: a[s] for c, a in cols.items()}


def _pack_many(pdf: pd.DataFrame, avgdl_by_field: dict) -> pd.DataFrame:
    """Pack MANY groups from one frame sorted by (*PACK_KEYS, doc_id); each
    group's block_max is bounded against its field's avgdl.

    Group detection and the position gap stream are computed vectorized
    over the whole frame; the only per-group Python is a handful of numpy
    slice + varint calls (~50-100us/group vs ~1.3ms/group for pandas
    per-group dispatch).
    """
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["doc_len"].to_numpy(dtype=np.int64)
    n = len(pdf)

    # whole-frame position gap stream: per doc [tf, gap0(=pos0), gaps...]
    flat = (
        np.concatenate([np.asarray(p, dtype=np.int64) for p in pdf["positions"]])
        if n
        else np.zeros(0, dtype=np.int64)
    )
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tfs, out=offsets[1:])
    total = int(offsets[-1])
    gaps = np.empty(total, dtype=np.int64)
    if total:
        gaps[1:] = np.diff(flat)
        gaps[offsets[:-1]] = flat[offsets[:-1]]

    cols: dict[str, list] = {f.name: [] for f in PACKED_SCHEMA.fields}
    for s, e, key in _groups(pdf):
        ids = doc_ids[s:e]
        t = tfs[s:e]
        seg = gaps[offsets[s]: offsets[e]]
        k = e - s
        stream = np.empty(k + len(seg), dtype=np.uint64)
        marker_idx = (offsets[s:e] - offsets[s]) + np.arange(k, dtype=np.int64)
        stream[marker_idx] = t.astype(np.uint64)
        mask = np.ones(len(stream), dtype=bool)
        mask[marker_idx] = False
        stream[mask] = seg.astype(np.uint64)
        row = _encode_group(key["term"], int(key["doc_shard"]), ids, t, dls[s:e],
                            stream, avgdl_by_field[key["field"]])
        row.update(key)
        for name, v in row.items():
            cols[name].append(v)
    return pd.DataFrame(cols)


def _encode_group(
    term: str,
    shard: int,
    ids: np.ndarray,
    t: np.ndarray,
    dls_seg: np.ndarray,
    stream: np.ndarray,
    avgdl: float,
) -> dict:
    """Encode ONE (field, term, doc_shard) group — sorted doc_ids ``ids``, per-doc
    tfs ``t`` and doc lengths ``dls_seg``, and the concatenated
    [tf, gap0(=pos0), gaps...] position ``stream`` — into a PACKED_SCHEMA
    row dict (the caller adds ``field``). Shared by the builder (_pack_many)
    and the packed-index merger (merge.merge_packed_indexes), so both
    produce byte-compatible blobs and directories."""
    k = ids.size
    marker_idx = np.zeros(k, dtype=np.int64)
    if k:
        np.cumsum(t[:-1] + 1, out=marker_idx[1:])
    ids_vb, doc_off, first_doc = codec.delta_vbyte_encode_blocked(ids)
    tfs_vb, tf_off = codec.vbyte_encode_blocked(t.astype(np.uint64))
    dls_vb, dl_off = codec.vbyte_encode_blocked(dls_seg.astype(np.uint64))
    pos_vb, pos_enc_off = codec._vbyte_encode_with_offsets(stream)
    # the blk_* directories are stored int32: a blob past 2^31 bytes would
    # silently wrap the offsets and corrupt block slicing. Unreachable at
    # the default doc_shard_size (2^20 docs * <=10B/varint), but guard the
    # invariant rather than assume it — fail the build loudly instead.
    if len(pos_vb) >= 2**31 or len(ids_vb) >= 2**31:
        raise ValueError(
            f"packed blob for term={term!r} doc_shard={shard} "
            f"exceeds int32 offset range ({len(pos_vb)} bytes); "
            "lower doc_shard_size"
        )
    # stream entry index of doc j's tf marker = (cum tf before j) + j;
    # take it at each 128-doc block head -> byte offset into pos_vb
    blk_heads = np.arange(0, k, codec.BLOCK, dtype=np.int64)
    pos_off = (
        pos_enc_off[marker_idx[blk_heads]] if k else np.zeros(0, dtype=np.int64)
    )
    return {
        "term_bucket": _py_term_bucket(term),
        "term": term,
        "doc_shard": shard,
        "n": k,
        "cf": int(t.sum()),
        "doc_ids_vb": ids_vb,
        "tfs_vb": tfs_vb,
        "dls_vb": dls_vb,
        "pos_vb": pos_vb,
        "block_max": codec.block_max_scores(t, dls_seg, avgdl, K1, B).tolist(),
        "blk_doc_off": doc_off.astype(np.int32).tolist(),
        "blk_tf_off": tf_off.astype(np.int32).tolist(),
        "blk_dl_off": dl_off.astype(np.int32).tolist(),
        "blk_pos_off": pos_off.astype(np.int32).tolist(),
        "blk_first_doc": first_doc.tolist(),
    }


def _decode_row(r) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The inverse of ``_encode_group``: full decode of one packed row ->
    (ids, tfs, dls, stream, markers). ``stream`` is the raw [tf, gap0,
    gaps...] position stream; ``markers`` the per-doc start offsets into it."""
    ids = codec.delta_vbyte_decode_blocked(bytes(r["doc_ids_vb"]))
    tfs = codec.vbyte_decode(bytes(r["tfs_vb"])).astype(np.int64)
    dls = codec.vbyte_decode(bytes(r["dls_vb"])).astype(np.int64)
    stream = codec.vbyte_decode(bytes(r["pos_vb"])).astype(np.uint64)
    markers = np.zeros(ids.size, dtype=np.int64)
    if ids.size:
        np.cumsum(tfs[:-1] + 1, out=markers[1:])
    return ids, tfs, dls, stream, markers


POSTINGS_SCHEMA = (
    "term_bucket int, field string, term string, doc_id long, tf int, "
    "positions array<int>, doc_len long"
)


def unpack_postings(packed: DataFrame) -> DataFrame:
    """Packed rows -> the long posting rows they encode (``POSTINGS_SCHEMA``,
    one per (field, term, doc_id)): the inverse of ``pack_postings``, one
    narrow mapInPandas with no shuffle. ``doc_len`` is the field's length."""

    def unpack(batches):
        for pdf in batches:
            parts = []
            for _, r in pdf.iterrows():
                ids, tfs, dls, stream, markers = _decode_row(r)
                keep = np.ones(stream.size, dtype=bool)
                keep[markers] = False
                # positions are the running sum of each doc's gaps
                run = np.cumsum(stream[keep].astype(np.int64))
                heads = markers - np.arange(ids.size)  # first gap of each doc
                base = np.repeat(run[heads] - stream[markers + 1].astype(np.int64), tfs)
                parts.append(pd.DataFrame({
                    "term_bucket": r["term_bucket"], "field": r["field"], "term": r["term"],
                    "doc_id": ids.astype(np.int64), "tf": tfs.astype(np.int32),
                    "positions": np.split((run - base).astype(np.int32), np.cumsum(tfs)[:-1]),
                    "doc_len": dls,
                }))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return packed.select(
        "term_bucket", "field", "term", "doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb"
    ).mapInPandas(unpack, POSTINGS_SCHEMA)


def repack(df: DataFrame, order: list[str], head) -> DataFrame:
    """The one repack path every packed table goes through (build,
    streaming, merge): hash-repartition on PACK_KEYS, sort each partition by
    ``PACK_KEYS + order``, then stream it through ``head`` — one Python call
    per Arrow batch, never per group. ``head(pdf)`` sees WHOLE groups only:
    each batch's last group is held back and completed with the next batch
    (partition order is stable). This IS the reference's sorted k-way merge
    (InvertedIndexMerger.java:34-112) expressed as Spark's sort-shuffle."""

    def repack_stream(batches):
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            tail = np.logical_and.reduce(
                [pdf[c].to_numpy() == pdf[c].iat[-1] for c in PACK_KEYS]
            )
            buf = pdf[tail]
            if not tail.all():
                yield head(pdf[~tail])
        if buf is not None:
            yield head(buf)

    return (
        df.repartition(*PACK_KEYS)
        .sortWithinPartitions(*PACK_KEYS, *order)
        .mapInPandas(repack_stream, PACKED_SCHEMA)
    )


def pack_postings(postings: DataFrame, avgdl_by_field: dict, doc_shard_size: int) -> DataFrame:
    """Long posting rows (field, term, doc_id, tf, positions, doc_len) ->
    packed rows, one per (field, term, doc_shard) group (doc_shard bounds
    every group to doc_shard_size postings); ``unpack_postings`` inverts it."""
    return repack(
        postings.withColumn("doc_shard", doc_shard_col(doc_shard_size)), ["doc_id"],
        lambda pdf: _pack_many(pdf, avgdl_by_field),
    )


def _py_term_bucket(term: str) -> int:
    """Deterministic term->bucket hash shared by build (JVM crc32 expression)
    and query (driver-side pruning). CRC32 is identical across zlib and Spark;
    Python's hash() is process-salted and unusable here."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % TERM_BUCKETS


def term_bucket_col(term_col):
    """JVM-side bucket id == _py_term_bucket, pure codegen (no UDF)."""
    return F.pmod(F.crc32(F.encode(term_col, "UTF-8")), F.lit(TERM_BUCKETS)).cast("int")


def index_stats(doc_map: DataFrame, runner: StageRunner, fields) -> IndexStats:
    """The ``TOTALS`` of a doc_map (doc_id, doc_len, field_lens, ...) —
    doc count, token sums overall and per field of ``fields``, doc_id range
    — in ONE aggregate run as the runner's ``stats`` stage (a runner without
    a checkpoint dir just runs it), turned into IndexStats by
    ``stats_from_totals``. The doc_id bounds are -1 on an empty corpus. A
    checkpointed ``stats`` stage written before the totals were recorded
    lacks their columns and is re-run."""
    fields = list(fields)
    totals = doc_map.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("doc_len"), F.lit(0)).alias("total_tokens"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).alias("min_doc_id"),
        F.coalesce(F.max("doc_id"), F.lit(-1)).alias("max_doc_id"),
        *[
            F.coalesce(F.sum(F.col("field_lens")[f]), F.lit(0)).alias(f"tokens_{i}")
            for i, f in enumerate(fields)
        ],
    )
    stage = runner.run("stats", lambda: totals)
    if not set(totals.columns) <= set(stage.columns):
        runner.invalidate("stats")
        stage = runner.run("stats", lambda: totals)
    row = stage.collect()[0]
    return stats_from_totals(
        n_docs=row["n_docs"],
        total_tokens=row["total_tokens"],
        tokens_by_field={f: row[f"tokens_{i}"] for i, f in enumerate(fields)},
        min_doc_id=row["min_doc_id"],
        max_doc_id=row["max_doc_id"],
    )


def packed_term_stats(packed: DataFrame) -> DataFrame:
    """term_stats (term, df, cf, term_bucket) of a ONE-field packed table.
    The pack shuffle already grouped every posting by term, so df/cf are a
    cheap rollup of the (term, doc_shard) group rows — one aggregation
    over #groups rows instead of a pass over #postings."""
    return (
        packed.groupBy("term")
        .agg(F.sum("n").cast("long").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term")))
    )


def any_field_term_stats(postings: DataFrame) -> DataFrame:
    """term_stats (term, df, cf, term_bucket) of a multi-field build: df
    counts the docs holding the term in ANY field (the reference's seek is
    per term, not per (term, field)), so it rolls up from the tokenized
    posting rows — per (term, doc_id mod 16) distinct counts first, so a hot term never
    meets one unbounded reducer."""
    return (
        postings.groupBy("term", F.pmod(F.col("doc_id"), F.lit(16)).alias("_s"))
        .agg(F.countDistinct("doc_id").alias("pdf"), F.sum("tf").alias("pcf"))
        .groupBy("term")
        .agg(F.sum("pdf").alias("df"), F.sum("pcf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term")))
    )


def build_index(
    spark: SparkSession,
    source_df: DataFrame,
    *,
    do_stem: bool = True,
    checkpoint_dir: str | None = None,
    doc_shard_size: int = DEFAULT_DOC_SHARD_SIZE,
    field_weights: dict[str, float] | None = None,
) -> Index:
    """Build the full index from a source table.

    ``source_df`` must carry doc_id and every column of ``field_weights``
    (a {source column: zone weight} map; None is the plain index, the one
    field ``content`` at 1.0), and may carry (repo, path, commit, lang).
    Each field tokenizes independently, so positions (and phrases) never
    run across fields. ``checkpoint_dir`` enables stage-resumable
    materialization of doc_map, stats, packed and term_stats (see
    lineage.py); None builds in memory (same plan shapes).

    Persist rules: a build without a checkpoint dir persists doc_map
    (before the stats action, whose one collect then both fills the cache
    and aggregates it), packed and term_stats, which queries read. Only a
    multi-field index persists its tokenized rows, which it reads a second
    time (``any_field_term_stats``); a checkpointed one drops them once
    term_stats is written.
    """
    fields = dict(field_weights or PLAIN_FIELDS)
    runner = StageRunner(spark, checkpoint_dir)
    meta_cols = [c for c in ("repo", "path", "commit", "lang") if c in source_df.columns]

    # Per-document posting accumulation happens map-side inside the Arrow
    # batch (the reference's PostingTable.put loop, ref: DocumentIndexer.java:
    # 220-242): ONE narrow mapInPandas pass per field, with NO (term, doc_id)
    # shuffle, straight into the pack shuffle; the long rows are never stored.
    # doc_len (the field's length) rides along, so packing joins no doc_map.
    postings = reduce(DataFrame.unionByName, [
        doc_postings_flat(source_df, do_stem=do_stem, content_col=f)
        .withColumn("field", F.lit(f))
        for f in fields
    ])
    if len(fields) > 1:
        postings = postings.persist()

    # doc_map never needs Python: sha256 and the stopword-inclusive token
    # counts are whole-stage-codegen expressions over the source (doc_len
    # parity with the Python tokenizer is pinned by tests). Each field's
    # length is computed once, then summed into doc_len and mapped into
    # field_lens.
    lens = [f"_len{i}" for i in range(len(fields))]
    doc_map = runner.run(
        "doc_map",
        lambda: source_df.select(
            "doc_id",
            *meta_cols,
            F.sha2(F.concat_ws(" ", *fields), 256).alias("content_sha256"),
            *[doc_len_col(f).alias(c) for f, c in zip(fields, lens)],
        ).select(
            "doc_id",
            *meta_cols,
            "content_sha256",
            reduce(operator.add, map(F.col, lens)).alias("doc_len"),
            F.create_map(
                *[x for f, c in zip(fields, lens) for x in (F.lit(f), F.col(c))]
            ).alias("field_lens"),
        ),
        **STAGE_LAYOUT["doc_map"],
    )
    in_memory = runner.dir is None
    if in_memory:
        doc_map = doc_map.persist()

    stats = index_stats(doc_map, runner, fields)

    packed = runner.run(
        "packed",
        lambda: pack_postings(postings, stats.avgdl_by_field, doc_shard_size),
        **STAGE_LAYOUT["packed"],
    )
    if in_memory:
        # without this, every query replays the whole
        # repartition+sort+pack pipeline (minutes at 10^6 docs)
        packed = packed.persist()

    term_stats = runner.run(
        "term_stats",
        lambda: (
            packed_term_stats(packed) if len(fields) == 1
            else any_field_term_stats(postings)
        ),
        **STAGE_LAYOUT["term_stats"],
    )
    if in_memory:
        term_stats = term_stats.persist()
    else:
        postings.unpersist()  # both readers are written stages now

    return Index(
        doc_map=doc_map,
        term_stats=term_stats,
        packed=packed,
        stats=stats,
        do_stem=do_stem,
        build_metrics=runner.metrics,
        doc_shard_size=doc_shard_size,
        field_weights=fields,
    )


# ---------------------------------------------------------------------------
# index roots: <root>/stages/<stage> (Parquet + lineage manifest, laid out by
# STAGE_LAYOUT) and <root>/build_summary.json, the commit record written last
# ---------------------------------------------------------------------------


def summary_path(root: str) -> str:
    """The root's build_summary.json: its presence marks a whole index."""
    return os.path.join(root, "build_summary.json")


def drop_summary(root: str) -> None:
    """Remove the root's summary before the first stage write: a crash
    mid-write then leaves a root load_index refuses, never old layout
    metadata beside half-written stages."""
    if os.path.exists(summary_path(root)):
        os.remove(summary_path(root))


def commit(root: str, index: Index, **extra) -> dict:
    """Write the root's summary last, atomically: ``index``'s TOTALS (and
    avgdl), layout, stemming, field weights, ``extra``, and the schemas of
    its stage frames, which must be read back from the root's written stages
    (so load_index infers none). Returns the summary."""
    stats = index.stats
    summary = {
        **{k: getattr(stats, k) for k in TOTALS},
        "avgdl": stats.avgdl,
        "doc_shard_size": index.doc_shard_size,
        "term_buckets": TERM_BUCKETS,
        "do_stem": index.do_stem,
        "field_weights": index.field_weights,
        **extra,
        "schemas": {s: getattr(index, s).schema.jsonValue() for s in STAGE_LAYOUT},
    }
    os.makedirs(root, exist_ok=True)
    write_json_atomic(summary_path(root), summary)
    return summary


def save_index(spark: SparkSession, index: Index, root: str, **extra) -> dict:
    """Write ``index`` to ``root`` as a checkpointed build_index does, every
    stage through ``StageRunner`` with its manifest, then ``commit`` it with
    the stages' metrics, wall_sec and ``extra``. The summary and every
    stage manifest under ``root/stages`` go first, so no stage of an index
    already under ``root`` is skipped, a crash mid-write leaves a root
    load_index refuses, and a later resumed build into ``root`` resumes no
    stage of the old index (a build's ``stats`` stage included). Never
    save into a root ``index`` reads from. Returns the summary."""
    t0 = time.time()
    drop_summary(root)
    runner = StageRunner(spark, os.path.join(root, "stages"))
    runner.invalidate_all()
    saved = {
        stage: runner.run(stage, lambda df=getattr(index, stage): df, **layout)
        for stage, layout in STAGE_LAYOUT.items()
    }
    return commit(root, replace(index, **saved), **{
        "wall_sec": round(time.time() - t0, 3), "stages": runner.metrics, **extra,
    })


def load_index(spark: SparkSession, root: str) -> Index:
    """The index a root holds, as its build_summary.json records it. Stages
    are read with the recorded schemas and the IndexStats rebuilt from the
    recorded totals, so opening a root runs only Spark's listing of the
    term_bucket= directories. A summary without field weights is a plain
    index's. ValueError when the root has no stages/packed or no summary
    (an unfinished or interrupted write), predates packed rows carrying
    their field and the recorded term-bucket count, stemming, stats totals
    and stage schemas, or records a bucket count other than
    ``TERM_BUCKETS`` (its terms would be looked up in the wrong buckets)."""
    stages = os.path.join(root, "stages")
    if not os.path.isdir(os.path.join(stages, "packed")):
        raise ValueError(
            f"the index at {root!r} has no packed postings (stages/packed); "
            "rebuild it with jobs/build_index.py"
        )
    if not os.path.exists(summary_path(root)):
        raise ValueError(
            f"the index at {root!r} has no build_summary.json (an unfinished or "
            "interrupted build or merge); rebuild it with jobs/build_index.py"
        )
    with open(summary_path(root)) as f:
        s = json.load(f)
    schemas = s.get("schemas", {})
    recorded = all(k in s for k in ("doc_shard_size", "term_buckets", "do_stem", *TOTALS))
    if not recorded or set(schemas) != set(STAGE_LAYOUT) or "field" not in {
        f["name"] for f in schemas["packed"]["fields"]
    }:
        raise ValueError(
            f"the index at {root!r} was built by an older version (no field "
            "column or no recorded term_buckets/do_stem/stats totals/stage "
            "schemas); rebuild it with jobs/build_index.py"
        )
    if s["term_buckets"] != TERM_BUCKETS:
        raise ValueError(
            f"the index at {root!r} was built with {s['term_buckets']} term "
            f"buckets, not {TERM_BUCKETS}; rebuild it with jobs/build_index.py"
        )
    read = {
        stage: spark.read.schema(T.StructType.fromJson(schemas[stage])).parquet(
            os.path.join(stages, stage)
        )
        for stage in STAGE_LAYOUT
    }
    return Index(
        doc_map=read["doc_map"], term_stats=read["term_stats"],
        packed=read["packed"], stats=stats_from_totals(**{k: s[k] for k in TOTALS}),
        do_stem=s["do_stem"], doc_shard_size=s["doc_shard_size"],
        field_weights=s.get("field_weights", dict(PLAIN_FIELDS)),
    )
