"""Packed-index merge — combine ALREADY-BUILT packed indexes without
re-tokenizing (the reference's sorted k-way index merge,
ref: src/indexing/InvertedIndexMerger.java:34-112, applied at the packed
serving format): the delta-compaction operation an incrementally-growing
100 TB corpus needs — tokenize each day's delta once, then fold delta
indexes into the base by moving packed bytes, never re-reading content.

Spark shape:
* union the packed tables, ONE (term, doc_shard) sort-shuffle, then the
  same streaming mapInPandas discipline as the builder (whole Arrow
  batches, tail-group buffering — no per-group dispatch).
* a group present in only ONE source passes its blobs through
  byte-identical; only block_max is recomputed against the merged corpus
  avgdl (bounds packed against a smaller avgdl would UNDER-estimate the
  contribution ceiling and break WAND's skip exactness). That needs only
  the tf/dl streams — the doc_id and position bytes (the bulk of the
  blob) are never decoded.
* only groups whose doc ranges genuinely interleave (same term AND same
  doc_shard in 2+ sources) decode fully and re-encode via the builder's
  own ``_encode_group`` — byte-compatible output by construction. With
  monotonically assigned doc_ids (the streaming watermark), delta and
  base occupy different doc_shards, so this path touches at most one
  boundary shard per term.

Doc sets must be disjoint (asserted both driver-side against doc_map and
defensively inside the merge kernel); replace/delete semantics belong to
streaming.IncrementalIndexer, which resolves them BEFORE packing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import codec
from .build import (
    DEFAULT_TERM_BUCKETS,
    Index,
    IndexStats,
    PACKED_SCHEMA,
    _encode_group,
    term_bucket_col,
)


def _decode_row(r) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Full decode of one packed row -> (ids, tfs, dls, stream, markers).
    ``stream`` is the raw [tf, gap0, gaps...] position stream; ``markers``
    the per-doc start offsets into it."""
    ids = codec.delta_vbyte_decode_blocked(bytes(r["doc_ids_vb"]))
    tfs = codec.vbyte_decode(bytes(r["tfs_vb"])).astype(np.int64)
    dls = codec.vbyte_decode(bytes(r["dls_vb"])).astype(np.int64)
    stream = codec.vbyte_decode(bytes(r["pos_vb"])).astype(np.uint64)
    markers = np.zeros(ids.size, dtype=np.int64)
    if ids.size:
        np.cumsum(tfs[:-1] + 1, out=markers[1:])
    return ids, tfs, dls, stream, markers


def _merge_rows(rows: list, avgdl: float, n_buckets: int) -> dict:
    """Merge 2+ packed rows of the SAME (term, doc_shard) into one row.
    Per-doc [tf, gaps...] segments are self-contained, so the merged
    position stream is a pure segment gather in merged doc order — no
    position arithmetic re-runs."""
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
        stream, avgdl, n_buckets,
    )


def _refresh_bounds(r, avgdl: float, n_buckets: int) -> dict:
    """Single-source group: pass every blob through byte-identical, only
    recompute block_max against the merged avgdl (tf/dl streams decode;
    doc_id/position bytes are untouched)."""
    from .build import _py_term_bucket, K1, B

    tfs = codec.vbyte_decode(bytes(r["tfs_vb"])).astype(np.int64)
    dls = codec.vbyte_decode(bytes(r["dls_vb"])).astype(np.int64)
    out = {name: r[name] for name in (f.name for f in PACKED_SCHEMA.fields)}
    out["term_bucket"] = _py_term_bucket(r["term"], n_buckets)
    out["block_max"] = codec.block_max_scores(tfs, dls, avgdl, K1, B).tolist()
    return out


def _merge_stream_factory(
    avgdl: float,
    n_buckets: int,
    field_avgdl: dict[str, float] | None = None,
):
    """mapInPandas merger over a partition sorted by (term, doc_shard) —
    the builder's streaming discipline: whole batches, tail-group buffer.
    With ``field_avgdl`` the group key extends to (field, term, doc_shard)
    and each group's dl normalizer is its FIELD's merged avgdl (fielded
    packed tables — fields.PACKED_FIELDED_SCHEMA)."""

    def _merge_head(head: pd.DataFrame) -> pd.DataFrame:
        terms = head["term"].to_numpy()
        shards = head["doc_shard"].to_numpy(dtype=np.int64)
        n = len(head)
        new = np.empty(n, dtype=bool)
        new[0] = True
        new[1:] = (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
        if field_avgdl is not None:
            farr = head["field"].to_numpy()
            new[1:] |= farr[1:] != farr[:-1]
        gstart = np.flatnonzero(new)
        gend = np.append(gstart[1:], n)
        out_rows = []
        for s, e in zip(gstart.tolist(), gend.tolist()):
            adl = avgdl if field_avgdl is None else field_avgdl[head["field"].iloc[s]]
            if e - s == 1:
                row = _refresh_bounds(head.iloc[s], adl, n_buckets)
            else:
                row = _merge_rows(
                    [head.iloc[i] for i in range(s, e)], adl, n_buckets
                )
            if field_avgdl is not None:
                row["field"] = head["field"].iloc[s]
            out_rows.append(row)
        return pd.DataFrame(out_rows)

    def merge_iter(batches):
        buf: pd.DataFrame | None = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf.iloc[-1]
            tail = (pdf["term"] == last["term"]) & (
                pdf["doc_shard"] == last["doc_shard"]
            )
            if field_avgdl is not None:
                tail &= pdf["field"] == last["field"]
            buf = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield _merge_head(head)
        if buf is not None and len(buf):
            yield _merge_head(buf)

    return merge_iter


def merge_packed_indexes(
    spark: SparkSession,
    indexes: list[Index],
    *,
    check_disjoint: bool = True,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    cache: bool = True,
) -> Index:
    """Fold k packed indexes over DISJOINT doc sets into one queryable
    Index — content is never re-read, tokenization never re-runs. stats
    and avgdl are recomputed over the merged doc_map (block_max bounds are
    refreshed against the new avgdl in every emitted group, keeping WAND
    skipping exact); term_stats is the usual cheap rollup of the merged
    packed groups. ``check_disjoint=False`` skips the doc_map duplicate
    probe when the caller guarantees disjointness (monotonic watermark)."""
    assert len(indexes) >= 2, "need at least two indexes to merge"
    assert all(ix.packed is not None for ix in indexes), (
        "merge_packed_indexes requires indexes with packed postings"
    )
    shard_sizes = {ix.doc_shard_size for ix in indexes}
    assert len(shard_sizes) == 1, (
        f"doc_shard_size must match across sources, got {shard_sizes}"
    )
    do_stems = {ix.do_stem for ix in indexes}
    assert len(do_stems) == 1, "do_stem must match across sources"

    # streamed (to_index) and batch indexes carry different doc_map/postings
    # metadata columns — merge on the intersection (doc_id + doc_len always
    # present; stats and serving never need more)
    def _union_common(dfs):
        common = [
            c for c in dfs[0].columns if all(c in d.columns for d in dfs[1:])
        ]
        out = dfs[0].select(common)
        for d in dfs[1:]:
            out = out.unionByName(d.select(common))
        return out

    doc_map = _union_common([ix.doc_map for ix in indexes])
    if check_disjoint:
        dup = (
            doc_map.groupBy("doc_id").count()
            .filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "merge_packed_indexes: sources share doc_ids — resolve "
                "replacements upstream (streaming.IncrementalIndexer) first"
            )
    if cache:
        doc_map = doc_map.persist()
    srow = doc_map.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("doc_len"), F.lit(0)).alias("total_tokens"),
        F.coalesce(F.avg("doc_len"), F.lit(0.0)).alias("avgdl"),
    ).collect()[0]
    stats = IndexStats(
        n_docs=srow["n_docs"],
        total_tokens=srow["total_tokens"],
        avgdl=float(srow["avgdl"]) or 1.0,
    )

    packed_u = indexes[0].packed
    for ix in indexes[1:]:
        packed_u = packed_u.unionByName(ix.packed)
    merged = (
        packed_u.repartition("term", "doc_shard")
        .sortWithinPartitions("term", "doc_shard")
        .mapInPandas(
            _merge_stream_factory(stats.avgdl, n_term_buckets), PACKED_SCHEMA
        )
    )
    if cache:
        merged = merged.persist()

    term_stats = (
        merged.groupBy("term")
        .agg(F.sum("n").cast("long").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_term_buckets))
    )
    if cache:
        term_stats = term_stats.persist()

    postings = _union_common([ix.postings for ix in indexes])

    return Index(
        doc_map=doc_map,
        postings=postings,
        term_stats=term_stats,
        packed=merged,
        stats=stats,
        do_stem=indexes[0].do_stem,
        doc_shard_size=indexes[0].doc_shard_size,
    )


def merge_fielded_packed(
    spark: SparkSession,
    fidxs: list,
    *,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    cache: bool = True,
):
    """Fold k fielded packed indexes (fields.FieldedPackedIndex) over
    DISJOINT doc sets — the zone-weighted analog of
    ``merge_packed_indexes``. Per-field merged avgdl is the doc-count
    weighted mean (every doc carries every field, so weights are the
    source n_docs); each group's block_max refreshes against ITS field's
    merged avgdl. Global term_stats sum (df/cf add under disjoint doc
    sets). Callers must guarantee disjointness (FieldedPackedIndex keeps
    no doc_map to probe) — the kernel still rejects duplicate doc_ids
    inside any colliding (field, term, doc_shard) group."""
    from .fields import FieldedPackedIndex, PACKED_FIELDED_SCHEMA

    assert len(fidxs) >= 2, "need at least two fielded indexes to merge"
    weights = fidxs[0].field_weights
    assert all(ix.field_weights == weights for ix in fidxs), (
        "field_weights must match across sources"
    )
    shard_sizes = {ix.doc_shard_size for ix in fidxs}
    assert len(shard_sizes) == 1, (
        f"doc_shard_size must match across sources, got {shard_sizes}"
    )
    n_docs = sum(ix.n_docs for ix in fidxs)
    # combine the RAW (unfloored) per-field means — build_fielded_packed
    # floors an all-empty field's avgdl to 1.0 for scoring, and averaging
    # the floored values would diverge from a full rebuild whenever a
    # source's field was empty (ADVICE r4); floor only AFTER combining
    avgdl_raw_by_field = {
        f: sum(
            (ix.avgdl_raw_by_field or ix.avgdl_by_field)[f] * ix.n_docs
            for ix in fidxs
        ) / n_docs
        for f in weights
    }
    avgdl_by_field = {f: (v or 1.0) for f, v in avgdl_raw_by_field.items()}

    packed_u = fidxs[0].packed
    for ix in fidxs[1:]:
        packed_u = packed_u.unionByName(ix.packed)
    merged = (
        packed_u.repartition("field", "term", "doc_shard")
        .sortWithinPartitions("field", "term", "doc_shard")
        .mapInPandas(
            _merge_stream_factory(
                0.0, n_term_buckets, field_avgdl=avgdl_by_field
            ),
            PACKED_FIELDED_SCHEMA,
        )
    )
    ts_u = fidxs[0].term_stats.select("term", "df", "cf")
    for ix in fidxs[1:]:
        ts_u = ts_u.unionByName(ix.term_stats.select("term", "df", "cf"))
    term_stats = (
        ts_u.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_term_buckets))
    )
    if cache:
        merged = merged.persist()
        term_stats = term_stats.persist()
    return FieldedPackedIndex(
        merged, term_stats, dict(weights), avgdl_by_field,
        n_docs, fidxs[0].doc_shard_size, avgdl_raw_by_field,
    )
