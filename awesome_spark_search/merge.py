"""Packed-index merge — combine ALREADY-BUILT packed indexes without
re-tokenizing (the reference's sorted k-way index merge,
ref: src/indexing/InvertedIndexMerger.java:34-112, applied at the packed
serving format): the delta-compaction operation an incrementally-growing
100 TB corpus needs — tokenize each day's delta once, then fold delta
indexes into the base by moving packed bytes, never re-reading content.

Spark shape:
* union the packed tables and send them through the builder's own repack
  path (``build.repack``: ONE (field, term, doc_shard) sort-shuffle, whole
  Arrow batches, tail-group buffering, no per-group dispatch) with
  ``_merge_many`` as the batch head. Plain and fielded indexes merge alike:
  a plain index is the one-field case.
* a group present in only ONE source passes its blobs through
  byte-identical; only block_max is recomputed against its field's merged
  avgdl (bounds packed against a smaller avgdl would UNDER-estimate the
  contribution ceiling and break WAND's skip exactness). That needs only
  the tf/dl streams — the doc_id and position bytes (the bulk of the
  blob) are never decoded.
* a group present in 2+ sources (same field, term AND doc_shard) decodes
  fully and re-encodes via the builder's own ``_encode_group`` —
  byte-compatible output by construction. doc_shard spans
  ``doc_shard_size`` doc_ids (2^20 by default), so below that many docs
  every index is ONE doc_shard and every term two sources share is
  re-encoded whole; only sources in different doc_shards pass their
  groups through.

Over range-disjoint sources no Spark job runs before the repack. stats
(with every field's avgdl) are the sources' additive totals summed (doc
count, token sums overall and per field, the hull of the doc_id ranges),
turned into IndexStats by the builder's own ``stats_from_totals``, so
merged == rebuilt bit for bit, also when a source's field was empty
everywhere. These are the metadata-only statistics of Delta Lake's log
(VLDB 2020): counts and ranges kept per file, so a writer never scans data
to learn them. term_stats is the sum of the sources' term_stats — exact
for one field and for several (df over ANY field) because the doc sets are
disjoint. Inputs are checked with ValueError (source count, packed
present, equal doc_shard_size / do_stem / field_weights); every index has
the one bucket count ``build.TERM_BUCKETS``, so a row's term_bucket holds.
Doc sets must be disjoint. When the non-empty sources' [min_doc_id,
max_doc_id] ranges do not overlap, they are, and no row is read; when
ranges overlap (interleaved doc_ids), a doc_map duplicate probe decides,
and the merge kernel checks again defensively. Replace and delete are
resolved by ``drop_docs``, which removes docs from an index before it is
merged (the remove actions of Delta Lake's log: only the packed rows that
hold a removed doc are rewritten).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from .build import (
    B,
    K1,
    PACKED_SCHEMA,
    Index,
    IndexStats,
    _decode_row,
    _encode_group,
    _groups,
    any_field_term_stats,
    index_stats,
    packed_term_stats,
    repack,
    stats_from_totals,
    term_bucket_col,
    unpack_postings,
)
from .lineage import StageRunner


_NO_DROP = np.zeros(0, dtype=np.int64)


def _merge_rows(rows: list, avgdl: float, drop: np.ndarray = _NO_DROP) -> dict | None:
    """Merge packed rows of the SAME (field, term, doc_shard) into one row,
    leaving out the docs in ``drop`` (None when none is left). Per-doc
    [tf, gaps...] segments are self-contained, so the merged position
    stream is a pure segment gather in merged doc order — no position
    arithmetic re-runs."""
    decoded = [_decode_row(r) for r in rows]
    all_ids = np.concatenate([d[0] for d in decoded])
    all_tfs = np.concatenate([d[1] for d in decoded])
    all_dls = np.concatenate([d[2] for d in decoded])
    big = np.concatenate([d[3] for d in decoded])
    # per-doc segment starts into the source-concatenated stream
    seg_start_parts, base = [], 0
    for ids, tfs, dls, stream, markers in decoded:
        seg_start_parts.append(markers + base)
        base += stream.size
    seg_start = np.concatenate(seg_start_parts)
    order = np.argsort(all_ids, kind="stable")
    order = order[~np.isin(all_ids[order], drop)]
    if not order.size:
        return None
    ids = all_ids[order]
    if ids.size > 1 and (np.diff(ids) == 0).any():
        raise ValueError(
            f"merge_packed_indexes: duplicate doc_id in term "
            f"{rows[0]['term']!r} doc_shard {int(rows[0]['doc_shard'])} — "
            "sources must index disjoint doc sets"
        )
    t = all_tfs[order]
    dls_seg = all_dls[order]
    lens = (all_tfs + 1)[order]
    starts = seg_start[order]
    total = int(lens.sum())
    # gather indices: for each doc in merged order, starts[d] + arange(lens[d])
    excl = np.zeros(lens.size, dtype=np.int64)
    if lens.size:
        np.cumsum(lens[:-1], out=excl[1:])
    ptr = np.repeat(starts - excl, lens) + np.arange(total, dtype=np.int64)
    stream = big[ptr]
    return _encode_group(
        rows[0]["term"], int(rows[0]["doc_shard"]), ids, t, dls_seg,
        stream, avgdl,
    )


def _refresh_bounds(r, avgdl: float) -> dict:
    """Single-source group: pass every blob (and its term_bucket) through
    byte-identical, only recompute block_max against the merged avgdl
    (tf/dl streams decode; doc_id/position bytes are untouched)."""
    tfs = codec.vbyte_decode(bytes(r["tfs_vb"])).astype(np.int64)
    dls = codec.vbyte_decode(bytes(r["dls_vb"])).astype(np.int64)
    out = {name: r[name] for name in (f.name for f in PACKED_SCHEMA.fields)}
    out["block_max"] = codec.block_max_scores(tfs, dls, avgdl, K1, B).tolist()
    return out


def _holds(r, drop: np.ndarray) -> bool:
    """Whether packed row ``r`` holds a doc of ``drop`` (decodes doc_ids
    only, and only when something is dropped)."""
    return bool(drop.size) and bool(
        np.isin(codec.delta_vbyte_decode_blocked(bytes(r["doc_ids_vb"])), drop).any()
    )


def _merge_many(pdf: pd.DataFrame, avgdl_by_field: dict,
                drop: np.ndarray = _NO_DROP) -> pd.DataFrame:
    """Head over packed rows sorted by PACK_KEYS (``repack``'s, or any frame
    whose rows are distinct groups): a single-source group that holds no
    doc of ``drop`` refreshes its bounds, any other merges without the
    dropped docs, each against its field's avgdl; a group left empty is
    omitted. Every key column rides into the output row."""
    out_rows = []
    for s, e, key in _groups(pdf):
        avgdl = avgdl_by_field[key["field"]]
        if e - s == 1 and not _holds(pdf.iloc[s], drop):
            row = _refresh_bounds(pdf.iloc[s], avgdl)
        else:
            row = _merge_rows([pdf.iloc[i] for i in range(s, e)], avgdl, drop)
            if row is None:
                continue
        row.update(key)
        out_rows.append(row)
    return pd.DataFrame(out_rows, columns=PACKED_SCHEMA.fieldNames())


def _check_sources(sources: list, *attrs: str) -> None:
    """ValueError unless there are 2+ sources and they agree on ``attrs``
    (raised, not asserted: the checks must hold under ``python -O``)."""
    if len(sources) < 2:
        raise ValueError("need at least two indexes to merge")
    for a in attrs:
        vals = [getattr(ix, a) for ix in sources]
        if any(v != vals[0] for v in vals):
            raise ValueError(f"{a} must match across sources, got {vals}")


def _merged_stats(stats: list[IndexStats], fields) -> IndexStats:
    """IndexStats of the union of disjoint doc sets: counts and token sums
    add, the doc_id range is the hull of the non-empty sources' ranges."""
    return stats_from_totals(
        n_docs=sum(s.n_docs for s in stats),
        total_tokens=sum(s.total_tokens for s in stats),
        tokens_by_field={f: sum(s.tokens_by_field[f] for s in stats) for f in fields},
        min_doc_id=min((s.min_doc_id for s in stats if s.n_docs), default=-1),
        max_doc_id=max(s.max_doc_id for s in stats),
    )


def _ranges_disjoint(stats: list[IndexStats]) -> bool:
    """True when no two non-empty sources' [min_doc_id, max_doc_id] ranges
    overlap — their doc sets are then disjoint by construction."""
    ranges = sorted((s.min_doc_id, s.max_doc_id) for s in stats if s.n_docs)
    return all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))


def merge_packed_indexes(spark: SparkSession, indexes: list[Index]) -> Index:
    """Fold k packed indexes over DISJOINT doc sets into one queryable
    Index — content is never re-read and tokenization never re-runs.
    stats and every field's avgdl come from the sources' summed totals
    (block_max bounds are refreshed against them in every emitted group,
    keeping WAND skipping exact); term_stats sums the sources'. Over
    sources whose doc_id ranges do not overlap no Spark job runs here (the
    returned frames are lazy); overlapping ranges pay one doc_map duplicate
    probe, which also fills doc_map's cache. doc_map, packed and
    term_stats are persisted: later merges and queries read them."""
    _check_sources(indexes, "doc_shard_size", "do_stem", "field_weights")
    if any(ix.packed is None for ix in indexes):
        raise ValueError(
            "merge_packed_indexes requires indexes with packed postings"
        )
    first = indexes[0]

    # streamed (to_index) and batch indexes carry different doc_map
    # metadata columns — merge on the intersection (doc_id, doc_len and
    # field_lens always present; serving never needs more)
    common = [
        c for c in first.doc_map.columns
        if all(c in ix.doc_map.columns for ix in indexes[1:])
    ]
    doc_map = reduce(
        DataFrame.unionByName, [ix.doc_map.select(common) for ix in indexes]
    ).persist()
    # the probe's one pass over doc_map also fills its cache
    if not _ranges_disjoint([ix.stats for ix in indexes]) and not (
        doc_map.groupBy("doc_id").count().filter(F.col("count") > 1).isEmpty()
    ):
        doc_map.unpersist()
        raise ValueError(
            "merge_packed_indexes: sources share doc_ids — resolve "
            "replacements upstream (merge.drop_docs) first"
        )
    stats = _merged_stats([ix.stats for ix in indexes], first.field_weights)

    merged = repack(
        reduce(DataFrame.unionByName, [ix.packed for ix in indexes]), [],
        lambda pdf: _merge_many(pdf, stats.avgdl_by_field),
    ).persist()

    # df/cf add up over disjoint doc sets, in one field or several
    term_stats = (
        reduce(DataFrame.unionByName, [ix.term_stats.select("term", "df", "cf") for ix in indexes])
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term")))
    ).persist()

    return Index(
        doc_map=doc_map,
        term_stats=term_stats,
        packed=merged,
        stats=stats,
        do_stem=first.do_stem,
        doc_shard_size=first.doc_shard_size,
        field_weights=dict(first.field_weights),
    )


def drop_docs(spark: SparkSession, index: Index, doc_ids) -> Index:
    """``index`` without the docs ``doc_ids`` names (ids it does not hold are
    ignored): equal to a build of the docs that remain, in packed bytes,
    term_stats and stats. Nothing is re-tokenized. doc_map is an anti-join
    against the broadcast ids and stats ONE aggregate over it
    (``build.index_stats``); packed is one narrow pass in which a row that
    holds no dropped doc only has its block_max refreshed against the new
    avgdl, and a row that holds one is re-encoded without it, or left out
    when it empties; term_stats follow the build's rule. The frames are
    lazy and not persisted: a merge reads them once into its own persisted
    frames (persist them to serve the result directly)."""
    drop = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    fields = index.field_weights
    doc_map = index.doc_map.join(
        F.broadcast(spark.createDataFrame(pd.DataFrame({"doc_id": drop}), "doc_id long")),
        "doc_id", "left_anti",
    )
    stats = index_stats(doc_map, StageRunner(spark, None), fields)

    def kept(batches):
        for pdf in batches:
            yield _merge_many(pdf, stats.avgdl_by_field, drop)

    packed = index.packed.select(*PACKED_SCHEMA.fieldNames()).mapInPandas(
        kept, PACKED_SCHEMA
    )
    return Index(
        doc_map=doc_map,
        term_stats=(
            packed_term_stats(packed) if len(fields) == 1
            else any_field_term_stats(unpack_postings(packed))
        ),
        packed=packed,
        stats=stats,
        do_stem=index.do_stem,
        doc_shard_size=index.doc_shard_size,
        field_weights=dict(fields),
    )
