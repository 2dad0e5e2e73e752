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
* **bounded posting rows**: packed postings are keyed ``(term, doc_shard)``
  where ``doc_shard = doc_id // shard_size``. A term over 10^12 docs never
  produces one giant array row; every row is <= shard_size entries and the
  query side intersects per-shard (embarrassingly parallel WAND).
* **term-bucket layout**: the final index is hash-bucketed on term
  (``term_bucket`` partition column), so a query's term lookup prunes to
  q buckets (the role of the reference's seek list, via partition pruning +
  Parquet min/max stats).
* **one repack path**: every packed table — this build, the streaming
  ``IncrementalIndexer.to_index``, the fielded build and both merges — goes
  through ``repack`` (a (term, doc_shard) or (field, term, doc_shard)
  sort-shuffle streamed through one tail-buffered mapInPandas body); the
  plain producers share ``index_stats`` (one stats aggregate, one avgdl
  floor) and ``packed_term_stats`` (df/cf from the packed groups).

At 100 TB: tokenize is a narrow map (Arrow batches) with no shuffle, the
single wide shuffle is the pack's (term, doc_shard) sort-shuffle, and every
later stage groups on keys that include doc_shard/term_bucket, keeping state
bounded.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from .lineage import StageRunner
from .textproc import doc_postings_flat, doc_len_col

K1 = 1.2
B = 0.75
DEFAULT_TERM_BUCKETS = 64
DEFAULT_DOC_SHARD_SIZE = 1 << 20  # 1M docs per shard row at scale


@dataclass
class IndexStats:
    n_docs: int
    total_tokens: int
    avgdl: float


@dataclass
class Index:
    """The queryable index: a set of DataFrames + tiny driver-side stats.

    Queries serve from ``packed`` alone; the long ``postings`` table is a
    build intermediate (packing, merges, streaming compaction). Positions
    stay their own stream (``positions`` / ``pos_vb``), mirroring the
    reference's frequency/positional file split (ref:
    src/SearchEngine/AwesomeSearchEngine.java:91-100).
    """

    doc_map: DataFrame      # doc_id, repo, path, commit, lang, doc_len, content_sha256
    postings: DataFrame     # term_bucket, term, doc_id, tf, positions
    term_stats: DataFrame   # term_bucket, term, df, cf
    packed: DataFrame       # term_bucket, term, doc_shard, n, *_vb blobs, block_max, blk_* directory
    stats: IndexStats
    do_stem: bool = True
    build_metrics: list = field(default_factory=list)
    doc_shard_size: int = DEFAULT_DOC_SHARD_SIZE  # packed sharding (query side must match)


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
    ]
)


PACK_KEYS = ["term", "doc_shard"]  # group key of a plain packed table


def doc_shard_col(doc_shard_size: int):
    """``doc_id`` -> its packed ``doc_shard``: the one expression every
    packer and the Boolean LinkTo keying (wand.boolean_docs) share, so a
    link's shard always meets the packed rows of the same docs."""
    return (F.col("doc_id") / F.lit(doc_shard_size)).cast("long")


def _groups(pdf: pd.DataFrame, keys: list[str]):
    """(start, end, key) of every run of equal ``keys`` values in a frame
    sorted by ``keys``; ``key`` maps each key column to the run's value."""
    cols = {c: pdf[c].to_numpy() for c in keys}
    n = len(pdf)
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for a in cols.values():
        new[1:] |= a[1:] != a[:-1]
    starts = np.flatnonzero(new).tolist()
    for s, e in zip(starts, starts[1:] + [n]):
        yield s, e, {c: a[s] for c, a in cols.items()}


def _pack_many(
    pdf: pd.DataFrame, keys: list[str], avgdl_of, n_buckets: int
) -> pd.DataFrame:
    """Pack MANY groups from one frame sorted by (*keys, doc_id).

    ``keys`` is PACK_KEYS or (field, *PACK_KEYS); every key column rides
    into the output row. ``avgdl_of(key)`` is the group's block_max length
    normalizer (fielded tables pack each zone against its own avgdl).
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

    cols: dict[str, list] = {
        c: [] for c in dict.fromkeys([f.name for f in PACKED_SCHEMA.fields] + keys)
    }
    for s, e, key in _groups(pdf, keys):
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
                            stream, avgdl_of(key), n_buckets)
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
    n_buckets: int,
) -> dict:
    """Encode ONE (term, doc_shard) group — sorted doc_ids ``ids``, per-doc
    tfs ``t`` and doc lengths ``dls_seg``, and the concatenated
    [tf, gap0(=pos0), gaps...] position ``stream`` — into a PACKED_SCHEMA
    row dict. Shared by the builder (_pack_many) and the packed-index
    merger (merge.merge_packed_indexes), so both produce byte-compatible
    blobs and directories."""
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
        "term_bucket": _py_term_bucket(term, n_buckets),
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


def repack(
    df: DataFrame, keys: list[str], order: list[str], head, schema: T.StructType
) -> DataFrame:
    """The one repack path every packed table goes through (build,
    streaming, fielded, merge): hash-repartition on ``keys``, sort each
    partition by ``keys + order``, then stream it through ``head`` — one
    Python call per Arrow batch, never per group. ``head(pdf)`` sees WHOLE
    groups only: each batch's last group is held back and completed with
    the next batch (partition order is stable). This IS the reference's
    sorted k-way merge (InvertedIndexMerger.java:34-112) expressed as
    Spark's sort-shuffle."""

    def repack_stream(batches):
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            tail = np.logical_and.reduce(
                [pdf[c].to_numpy() == pdf[c].iat[-1] for c in keys]
            )
            buf = pdf[tail]
            if not tail.all():
                yield head(pdf[~tail])
        if buf is not None:
            yield head(buf)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(repack_stream, schema)
    )


def pack_postings(
    postings: DataFrame,
    keys: list[str],
    schema: T.StructType,
    avgdl_of,
    n_buckets: int,
    doc_shard_size: int,
) -> DataFrame:
    """Long posting rows (doc_id, tf, positions, doc_len and the non-shard
    ``keys``) -> packed rows, one per ``keys`` group (doc_shard bounds
    every group to doc_shard_size postings)."""
    return repack(
        postings.withColumn("doc_shard", doc_shard_col(doc_shard_size)),
        keys, ["doc_id"],
        lambda pdf: _pack_many(pdf, keys, avgdl_of, n_buckets), schema,
    )


def _py_term_bucket(term: str, n_buckets: int) -> int:
    """Deterministic term->bucket hash shared by build (JVM crc32 expression)
    and query (driver-side pruning). CRC32 is identical across zlib and Spark;
    Python's hash() is process-salted and unusable here."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(term_col, n_buckets: int):
    """JVM-side bucket id == _py_term_bucket, pure codegen (no UDF)."""
    return F.pmod(F.crc32(F.encode(term_col, "UTF-8")), F.lit(n_buckets)).cast("int")


def index_stats(doc_map: DataFrame, runner: StageRunner) -> IndexStats:
    """n_docs / total_tokens / avgdl over a doc_map (doc_id, doc_len, ...),
    aggregated as the runner's ``stats`` stage (a runner without a
    checkpoint dir just runs it). avgdl floors to 1.0 for an empty corpus
    (it only ever divides doc lengths)."""
    row = runner.run(
        "stats",
        lambda: doc_map.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).alias("total_tokens"),
            F.coalesce(F.avg("doc_len"), F.lit(0.0)).alias("avgdl"),
        ),
    ).collect()[0]
    return IndexStats(
        n_docs=row["n_docs"],
        total_tokens=row["total_tokens"],
        avgdl=float(row["avgdl"]) or 1.0,
    )


def packed_term_stats(packed: DataFrame, n_buckets: int) -> DataFrame:
    """term_stats (term, df, cf, term_bucket) of a plain packed table. The
    pack shuffle already grouped every posting by term, so df/cf are a
    cheap rollup of the (term, doc_shard) group rows — one aggregation
    over #groups rows instead of a pass over #postings."""
    return (
        packed.groupBy("term")
        .agg(F.sum("n").cast("long").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )


def build_index(
    spark: SparkSession,
    source_df: DataFrame,
    *,
    do_stem: bool = True,
    checkpoint_dir: str | None = None,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    doc_shard_size: int = DEFAULT_DOC_SHARD_SIZE,
    cache: bool = True,
    cache_postings: bool = True,
) -> Index:
    """Build the full index from a source table.

    ``source_df`` must carry (doc_id, content) and may carry
    (repo, path, commit, lang). ``checkpoint_dir`` enables stage-resumable
    materialization (see lineage.py); None keeps everything lazy/cached
    (test mode — same plan shapes).
    """
    runner = StageRunner(spark, checkpoint_dir)
    meta_cols = [c for c in ("repo", "path", "commit", "lang") if c in source_df.columns]

    # Per-document posting accumulation happens map-side inside the Arrow
    # batch (the reference's PostingTable.put loop, ref: DocumentIndexer.java:
    # 220-242) — the posting table exists after ONE narrow mapInPandas pass,
    # with NO (term, doc_id) shuffle at all.
    def _postings():
        return doc_postings_flat(
            source_df.select("doc_id", "content"), do_stem=do_stem
        ).withColumn("term_bucket", term_bucket_col(F.col("term"), n_term_buckets))

    postings = runner.run(
        "postings", _postings,
        partition_by=["term_bucket"], sort_within=["term", "doc_id"],
    )
    if cache and cache_postings and checkpoint_dir is None:
        # cache_postings=False skips the columnar cache-write of the long
        # posting table (the single biggest memory-bandwidth item in the
        # build) — queries serve off the packed index, which is cached
        # regardless; the long table only feeds packing and merges
        postings = postings.persist()

    # doc_map never needs Python: sha256 and the stopword-inclusive token
    # count are whole-stage-codegen expressions over the source (doc_len
    # parity with the Python tokenizer is pinned by tests).
    doc_map = runner.run(
        "doc_map",
        lambda: source_df.select(
            "doc_id",
            *meta_cols,
            F.sha2(F.col("content"), 256).alias("content_sha256"),
            doc_len_col("content").alias("doc_len"),
        ),
    )
    if cache and checkpoint_dir is None:
        # persisted BEFORE the stats action below: that one collect both
        # fills the doc_map cache and aggregates it — no separate doc_len
        # scan over the content column ever runs
        doc_map = doc_map.persist()

    stats = index_stats(doc_map, runner)

    # doc_len rides along from the postings pass — no doc_map join
    def _packed():
        return pack_postings(
            postings, PACK_KEYS, PACKED_SCHEMA, lambda key: stats.avgdl,
            n_term_buckets, doc_shard_size,
        )

    packed = runner.run(
        "packed", _packed,
        partition_by=["term_bucket"], sort_within=["term", "doc_shard"],
    )
    if cache and checkpoint_dir is None:
        # without this, every query replays the whole
        # repartition+sort+pack pipeline (minutes at 10^6 docs)
        packed = packed.persist()

    term_stats = runner.run(
        "term_stats", lambda: packed_term_stats(packed, n_term_buckets),
        partition_by=["term_bucket"], sort_within=["term"],
    )

    if cache and checkpoint_dir is None:
        term_stats = term_stats.persist()

    return Index(
        doc_map=doc_map,
        postings=postings,
        term_stats=term_stats,
        packed=packed,
        stats=stats,
        do_stem=do_stem,
        build_metrics=runner.metrics,
        doc_shard_size=doc_shard_size,
    )
