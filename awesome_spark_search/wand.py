"""Query serving over the packed (compressed) index — every query plan of
``executor.QueryExecutor`` lives here: block-max WAND (keyword), phrase,
Mixed, QL/JM, Boolean doc sets, and their batched forms, all reading term
rows through ``term_rows``.

The reference prunes scoring candidates with a most-distinct-terms-first
heuristic (ref: src/querying/ranking/DocumentRanker.java:66-78). The rebuild's
block-max WAND strictly generalizes it (north rule): per posting block we have
an upper bound on the BM25 contribution (idf * block_max), so whole terms and
blocks that cannot reach the running top-k threshold are skipped before
decoding.

Spark shape — scalable by construction:
* packed postings are keyed (field, term, doc_shard) and carry their doc
  lengths inside the blob (dls_vb), so a query is ONE per-shard pass over
  the few matching packed rows — no doc_map join; every kernel call sees
  one shard's worth of data (bounded by shard_size regardless of corpus
  size).
* one index shape: a plain index is the one-field case, so every plan
  serves plain and fielded (zone-weighted) indexes alike. The BM25 kernel
  takes the index's {field: (weight, avgdl)} as a driver value; each
  (field, term) row enters the kernel as its own list, its idf scaled by
  the zone weight and its tfnorm normalized by its field's avgdl (the
  reference's ContentType weighting, ref: DocumentRanker.java:138-167).
  QL scores one-field indexes only.
* every entry point prunes term_bucket partitions by the one bucket count
  ``build.TERM_BUCKETS``.
* per-term stats (idf, the global cf) come with those rows
  (``term_rows``): with the executor's cached dictionary (``stats``, a
  ``TermDictionary``) the shard step attaches the stat from the
  dictionary's JVM-computed values, and the rows are either a row-range
  slice of the dictionary's driver-side copy of a one-shard index's packed
  table (``PackedCopy``: no Spark job, no plan at all) or a plain filter
  of a packed frame pruned once per executor (no term_stats scan, no
  broadcast, no per-term expression); without the dictionary, a broadcast
  join of the terms' term_stats rows.
* one plan builder (``_ranked_rows``) serves every scorer, one query or a
  batch: each shard emits every query's local top-k; the global top-k of
  one query is a tiny TakeOrderedAndProject over n_shards*k rows, that of
  a batch a per-query window.
* two executions of every packed plan, ranked or Boolean, chosen in ONE
  place (``_run_shards``, by ``_one_shard``): an index whose doc_ids all
  fall in doc_shard 0 (below ``DEFAULT_DOC_SHARD_SIZE`` docs) runs the
  shard step on the driver, in the calling thread, with the top-k tail in
  pandas and the result returned localized — no shuffle and no kernel task
  per query. Its rows come from the executor's ``PackedCopy`` when it holds
  one (zero Spark jobs; only a LinkTo leaf's citation rows are collected),
  else from ONE Arrow collect. Over several shards the step runs as one
  applyInPandas per doc_shard.
* inside a shard the evaluation is numpy-vectorized document-at-a-time over
  terms ordered by descending bound: once the k-th best exact score exceeds
  the cumulative bound of the remaining terms, docs not already seen cannot
  enter the top-k (the WAND admission invariant) and those terms only update
  existing candidates; blocks whose bound falls below the threshold are
  skipped entirely.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import codec
from .build import Index, _py_term_bucket, doc_shard_col, unpack_postings, K1, B
from .scoring import JM_LAMBDA, idf_col

# decoded-postings instrumentation (per-process; in distributed runs each
# Python worker counts its own shards — the test calls the shard fn directly)
DECODE_STATS = {"postings": 0, "pos_entries": 0, "dl_entries": 0}


def reset_decode_stats() -> None:
    DECODE_STATS["postings"] = 0
    DECODE_STATS["pos_entries"] = 0
    DECODE_STATS["dl_entries"] = 0


def _sorted_member(sorted_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Boolean membership of ids (any order) in a sorted unique array."""
    if sorted_ids.size == 0 or ids.size == 0:
        return np.zeros(ids.size, dtype=bool)
    pos = np.searchsorted(sorted_ids, ids)
    pos_c = np.minimum(pos, sorted_ids.size - 1)
    return sorted_ids[pos_c] == ids


def _merge_scores(
    aid: np.ndarray, aval: np.ndarray, bid: np.ndarray, bval: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Merge-add two (sorted unique ids, values) score vectors."""
    if bid.size == 0:
        return aid, aval
    if aid.size == 0:
        return bid, bval
    mid = np.union1d(aid, bid)
    out = np.zeros(mid.size, dtype=np.float64)
    out[np.searchsorted(mid, aid)] += aval
    out[np.searchsorted(mid, bid)] += bval
    return mid, out


def _decode_term_blocks(
    r, need: np.ndarray | None, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """Decode a packed term row's (doc_ids, tfs, dls); when ``need`` is given,
    only blocks flagged True are decoded (contiguous runs sliced off the blob
    via the block directory — skipped blocks' bytes are never touched).
    Returns (doc_ids, tfs, dls, block_idx_per_posting or None for all)."""
    ids_buf = bytes(r["doc_ids_vb"])
    tf_buf = bytes(r["tfs_vb"])
    dl_buf = bytes(r["dls_vb"])
    if need is None or need.all():
        doc_ids = codec.delta_vbyte_decode_blocked(ids_buf)
        tfs = codec.vbyte_decode(tf_buf).astype(np.float64)
        dls = codec.vbyte_decode(dl_buf).astype(np.float64)
        return doc_ids, tfs, dls, None
    doc_off = np.asarray(r["blk_doc_off"], dtype=np.int64)
    tf_off = np.asarray(r["blk_tf_off"], dtype=np.int64)
    dl_off = np.asarray(r["blk_dl_off"], dtype=np.int64)
    idx = np.flatnonzero(need)
    # contiguous runs of needed blocks -> one byte-slice decode per run
    run_starts = idx[np.r_[True, np.diff(idx) > 1]]
    run_ends = idx[np.r_[np.diff(idx) > 1, True]] + 1
    id_parts, tf_parts, dl_parts, blk_parts = [], [], [], []
    for bi, bj in zip(run_starts.tolist(), run_ends.tolist()):
        gaps = codec.decode_block_slice(ids_buf, doc_off, bi, bj).astype(np.int64)
        id_parts.append(codec.cumsum_block_restart(gaps, codec.BLOCK))
        tf_parts.append(codec.decode_block_slice(tf_buf, tf_off, bi, bj))
        dl_parts.append(codec.decode_block_slice(dl_buf, dl_off, bi, bj))
        blk_parts.append(np.repeat(np.arange(bi, bj), counts[bi:bj]))
    return (
        np.concatenate(id_parts),
        np.concatenate(tf_parts).astype(np.float64),
        np.concatenate(dl_parts).astype(np.float64),
        np.concatenate(blk_parts),
    )



def _wand_pass(
    term_rows: list,
    k: int,
    cand_ids: np.ndarray,
    cand_scores: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """The block-max WAND loop over ``term_rows`` (list of
    ``(idf, block_max ndarray, packed row)``; each row carries its field's
    ``avgdl``), merge-adding contributions
    into the seed score vectors ``(cand_ids sorted unique, cand_scores)``.
    Seeds let a caller pre-score docs from another plan (phrase survivors in
    a Mixed query) — the admission invariant still holds because after
    seeding, the only remaining score mass is the listed terms' bounds.

    Block-level skipping (exact — returned scores are bit-identical to the
    exhaustive plan): terms iterate in descending bound order; once k
    candidates exist with running threshold theta, block b of term i is
    decoded only if

    * ``idf_i * block_max[b] + sum(bounds of terms after i) >= theta``
      (a doc first appearing in b could still reach the top-k), OR
    * the block's doc_id range [blk_first_doc[b], blk_first_doc[b+1])
      contains an existing candidate (whose exact score must keep growing).

    Skipped blocks' bytes are never decoded (the delta stream restarts per
    block, so surviving blocks decode standalone). Postings decoded from a
    candidate-range-only block are masked to existing candidates, which is
    score-safe: such a doc's max achievable total from term i onward is
    below theta <= the final k-th best."""
    # order terms by bound desc
    rows = []
    for idf, bm, r in term_rows:
        bound = idf * (bm.max() if bm.size else 0.0)
        rows.append((bound, idf, bm, r))
    rows.sort(key=lambda x: -x[0])
    bounds = np.array([b for b, _, _, _ in rows], dtype=np.float64)
    # suffix_after[i] = sum of bounds of terms AFTER i
    suffix_after = np.zeros(len(rows), dtype=np.float64)
    if len(rows) > 1:
        suffix_after[:-1] = np.cumsum(bounds[::-1])[::-1][1:]

    theta = (  # k-th best so far (seeds may already hold >= k candidates)
        float(np.partition(cand_scores, -k)[-k])
        if cand_ids.size >= k
        else -np.inf
    )
    for i, (bound, idf, bm, r) in enumerate(rows):
        rest_after = float(suffix_after[i])
        n = int(r["n"])
        nb = bm.size
        counts = np.full(nb, codec.BLOCK, dtype=np.int64)
        if nb:
            counts[-1] = n - codec.BLOCK * (nb - 1)
        if cand_ids.size >= k:
            admit = idf * bm + rest_after >= theta
            if admit.all():
                need = None
            else:
                first_doc = np.asarray(r["blk_first_doc"], dtype=np.int64)
                lo = np.searchsorted(cand_ids, first_doc)
                hi = np.append(lo[1:], cand_ids.size)
                need = admit | (hi > lo)
                if not need.any():
                    continue
        else:
            admit = None  # decode + admit everything until k candidates
            need = None
        doc_ids, tfs, dls, blk = _decode_term_blocks(r, need, counts)
        DECODE_STATS["postings"] += doc_ids.size
        # the row's FIELD avgdl: its block_max bounds were packed against
        # the same value, so skipping stays exact
        adl = float(r["avgdl"])
        contrib = idf * tfs / (tfs + K1 * (1 - B + B * dls / adl))
        if admit is not None and not admit.all():
            # mask candidate-range-only blocks' postings to existing
            # candidates (blk is None when every block was decoded)
            posting_admit = (
                np.repeat(admit, counts) if blk is None else admit[blk]
            )
            keep = posting_admit | _sorted_member(cand_ids, doc_ids)
            doc_ids, contrib = doc_ids[keep], contrib[keep]
        cand_ids, cand_scores = _merge_scores(
            cand_ids, cand_scores, doc_ids, contrib
        )
        if cand_ids.size >= k:
            theta = float(np.partition(cand_scores, -k)[-k])
    return cand_ids, cand_scores


def _local_topk(cand_ids: np.ndarray, cand_scores: np.ndarray, k: int) -> pd.DataFrame:
    """Score vectors -> the shard-local top-k frame (score DESC, doc_id ASC)."""
    if cand_ids.size == 0:
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"}
        )
    take = min(k, cand_ids.size)
    sel = np.lexsort((cand_ids, -cand_scores))[:take]
    return pd.DataFrame({"doc_id": cand_ids[sel], "score": cand_scores[sel]})


def _no_scores() -> tuple[np.ndarray, np.ndarray]:
    return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)


class QuerySpec(NamedTuple):
    """One ranked query as the shard kernels see it. ``phrase`` keeps order
    and multiplicity (adjacency is checked term by term); ``keywords`` are
    exact terms; every term inside a ``prefixes`` range is a keyword too
    (prefixes the driver could not expand from its cached vocabulary);
    ``weights`` scale per-keyword-term contributions (PRF expansion terms,
    ref: DocumentRanker.java:38), unlisted terms at 1.0."""

    phrase: list
    keywords: list
    prefixes: tuple = ()
    weights: dict | None = None

    def is_keyword(self, term: str) -> bool:
        return term in self.keywords or term.startswith(self.prefixes)


def _isin(col, values: list):
    """``col.isin(values)``, built with one JVM round trip per value plus a
    fixed few: the values cross as one list of plain values, which the JVM
    wraps in the same literals. pyspark's ``isin`` wraps each value in a
    ``lit`` Column first and records a call-site origin per Column
    operation, several round trips a value. Values travel as data, never as
    SQL text."""
    from pyspark import SparkContext
    from pyspark.sql.classic.column import Column, _to_seq

    return Column(col._jc.isin(_to_seq(SparkContext._active_spark_context, values)))


def _term_filter(table: DataFrame, terms: list[str], prefixes=()) -> DataFrame:
    """Rows of a term-keyed table (packed or term_stats) for exact ``terms``
    plus every term in the ranges [p, p + U+FFFF) of ``prefixes``. Exact
    terms prune term_bucket partitions and push the term filter to the scan;
    a prefix range cannot prune buckets (the hash spreads it over all of
    them) but still pushes down as a min/max-prunable range."""
    buckets = sorted({_py_term_bucket(t) for t in terms})
    # the table's own columns (one round trip each; F.col takes a dozen)
    bucket_col, term_col = table["term_bucket"], table["term"]
    if not prefixes:
        return table.filter(_isin(bucket_col, buckets)).filter(_isin(term_col, terms))
    conds = [(term_col >= p) & (term_col < p + "\uffff") for p in prefixes]
    if terms:
        conds.append(_isin(bucket_col, buckets) & _isin(term_col, terms))
    return table.filter(reduce(lambda a, b: a | b, conds))


# the per-term statistics a ranked kernel reads, in the order the cached
# dictionary holds them: BM25's idf and QL's corpus-wide cf (aliased
# cf_global: packed group rows carry their own per-(term, doc_shard) cf)
STATS = ("idf", "cf_global")
POSITION_COLS = ("pos_vb", "blk_pos_off")


class PackedCopy(NamedTuple):
    """The driver's copy of a one-shard index's packed table, collected once
    per executor (``collect``): ``table`` sorted by (term, field), and its
    term -> row ranges: ``terms`` are the sorted distinct terms and term i
    owns rows ``starts[i]:starts[i + 1]``. A plan's rows are a few row
    ranges of it (``rows``), converted to pandas alone.

    Driver memory: the copy holds every posting and position of the index
    in its packed encoding, which the executor bounds by the index's
    ``total_tokens`` (``QueryExecutor.PACKED_COPY_MAX_TOKENS``)."""

    table: pa.Table
    terms: np.ndarray
    starts: np.ndarray

    @classmethod
    def collect(cls, packed: DataFrame) -> "PackedCopy":
        table = packed.toArrow().sort_by([("term", "ascending"), ("field", "ascending")])
        col = table.column("term").to_numpy(zero_copy_only=False)
        first = np.flatnonzero(np.r_[True, col[1:] != col[:-1]]) if len(col) else np.zeros(0, int)
        return cls(table, col[first], np.append(first, len(col)))

    def rows(self, terms: list[str], prefixes, columns: list[str]) -> pd.DataFrame:
        """The rows ``_term_filter`` selects — exact ``terms`` and every term
        in the ranges [p, p + U+FFFF) of ``prefixes`` (each one binary-
        searched slice of the sorted terms) — as pandas with ``columns``,
        each row once, in (term, field) order."""
        ask = np.array(terms, dtype=object)
        at = np.searchsorted(self.terms, ask)
        hit = at < len(self.terms)
        hit[hit] = self.terms[at[hit]] == ask[hit]
        spans = [(i, i + 1) for i in at[hit].tolist()] + [
            np.searchsorted(self.terms, np.array([p, p + "\uffff"], dtype=object))
            for p in prefixes
        ]
        idx = [np.arange(self.starts[i], self.starts[j]) for i, j in spans]
        # a term inside a prefix range is selected once, as by the filter
        idx = np.unique(np.concatenate(idx)) if idx else np.zeros(0, np.int64)
        return self.table.select(columns).take(idx).to_pandas()


class TermDictionary(NamedTuple):
    """An executor's cached dictionary as its plans read it: ``terms`` maps
    every indexed term to its ``STATS`` values (idf evaluated in the JVM by
    ``scoring.idf_col``, the global cf); ``packed`` holds the packed frame
    pruned to the columns the kernels read, with and without the position
    stream (keyed by whether a plan has a phrase); ``copy`` is the driver's
    ``PackedCopy`` of a one-shard index, or None. Built once per executor
    (``dictionary``), so a query's rows are a slice of the copy, or else a
    filter of a frame that already exists."""

    terms: dict
    packed: dict
    copy: PackedCopy | None = None


def dictionary(index: Index, terms: dict, copy: bool = False) -> TermDictionary:
    """The ``TermDictionary`` of an executor over ``index`` whose cached
    {term: (idf, cf)} dictionary is ``terms``; with ``copy``, ONE Spark job
    collects the packed table into its ``PackedCopy``."""
    return TermDictionary(
        terms, {True: index.packed, False: index.packed.drop(*POSITION_COLS)},
        PackedCopy.collect(index.packed) if copy else None,
    )


def term_rows(
    index: Index, terms: list[str], stat: str, prefixes=(), phrase: bool = True,
    *, stats: TermDictionary | None = None,
) -> tuple[DataFrame | pd.DataFrame, dict]:
    """THE term-row selector of every ranked packed plan: the packed rows of
    ``terms`` and ``prefixes`` (``_term_filter``), without the position
    stream unless the plan has a ``phrase``, and the kernels' per-term
    ``stat`` (one of ``STATS``). Returns (rows, {stat: {term: value}} for
    the shard step to attach, or {} when the rows carry it):

    * ``stats`` given (the executor's ``TermDictionary``, holding every
      indexed term) with a ``PackedCopy``: the rows are the copy's row
      ranges of the terms and prefix ranges, as a pandas frame (no Spark
      job, no plan); the stat is the dictionary's value for their terms;
    * ``stats`` given without a copy, and no prefix ranges: the rows are a
      plain bucket and term filter of the dictionary's pruned packed frame
      and nothing else (no term_stats scan, no join, no per-term literal);
      the stat is the dictionary's value for the plan's terms;
    * otherwise: the same terms' term_stats rows, with the stat as a JVM
      column, broadcast-joined on, so the query stays ONE Spark action with
      no driver-side stats collect.

    The dictionary's idf is ``idf_col`` over the same df, evaluated in the
    JVM when the dictionary is collected, so scores are bit-identical."""
    if stats is not None and stats.copy is not None:
        cols = [c for c in stats.copy.table.column_names if phrase or c not in POSITION_COLS]
        rows = stats.copy.rows(terms, prefixes, cols)
        i = STATS.index(stat)
        return rows, {stat: {t: stats.terms[t][i] for t in rows["term"].unique()}}
    if stats is None or prefixes:
        col = (
            idf_col(F.col("df"), index.stats.n_docs) if stat == "idf" else F.col("cf")
        ).alias(stat)
        ts = _term_filter(index.term_stats, terms, prefixes).select(
            "term", col
        )
        packed = index.packed if phrase else index.packed.drop(*POSITION_COLS)
        rows = _term_filter(packed, terms, prefixes)
        return rows.join(F.broadcast(ts), "term"), {}
    i = STATS.index(stat)
    return (
        _term_filter(stats.packed[phrase], terms),
        {stat: {t: stats.terms[t][i] for t in terms}},
    )


def _field_norms(index: Index) -> dict[str, tuple[float, float]]:
    """The BM25 kernel's driver value: {field: (zone weight, field avgdl)}."""
    return {f: (w, index.stats.avgdl_by_field[f]) for f, w in index.field_weights.items()}


def _shard_rows(left: pd.DataFrame, fields: dict):
    """One doc_shard's packed rows, parsed once and in (term, field) order so
    every plan sums a document's contributions in the same order: each row's
    idf scaled by its zone weight and its field's avgdl attached (``fields``
    is ``_field_norms``), then ``(term, (idf, block_max, row))`` triples for
    WAND and per-field ``(avgdl, {term: row})`` maps for phrase evaluation
    (phrases never span fields)."""
    left = left.sort_values(["term", "field"], kind="stable")
    left = left.assign(
        idf=left["idf"] * left["field"].map({f: w for f, (w, _) in fields.items()}),
        avgdl=left["field"].map({f: a for f, (_, a) in fields.items()}),
    )
    triples, groups = [], {}
    for _, r in left.iterrows():
        t = r["term"]
        triples.append((t, (float(r["idf"]), np.asarray(r["block_max"], dtype=np.float64), r)))
        groups.setdefault(r["field"], (float(r["avgdl"]), {}))[1][t] = r
    return triples, [groups[f] for f in sorted(groups)]


def _bm25_scores(shard, spec: QuerySpec, k: int):
    """One query over one parsed shard (ref: QueryProcessor.java:328-331
    dispatches phrase + keywords against the same index): phrase survivors
    — per field, phrases never span fields — seed the candidates with their
    phrase-term BM25 mass, then the block-max WAND loop adds every keyword
    term at its weight, to survivors too (a term in both lists counts twice
    for them). Seeding first keeps skipping exact: afterwards keyword bounds
    are the only remaining mass."""
    triples, groups = shard
    ids, scores = _no_scores()
    if spec.phrase:
        for adl, rows in groups:
            ids, scores = _merge_scores(ids, scores, *_phrase_eval(rows, spec.phrase, adl))
    w = spec.weights or {}
    kw_rows = [
        (idf * w.get(t, 1.0), bm, r) for t, (idf, bm, r) in triples if spec.is_keyword(t)
    ]
    if kw_rows:
        ids, scores = _wand_pass(kw_rows, k, ids, scores)
    return ids, scores


SHARD_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


# what every query and batch entry point returns
RESULT_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("score", T.DoubleType())]
)
BATCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        *RESULT_SCHEMA.fields,
    ]
)


def _empty_batch_pdf() -> pd.DataFrame:
    return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
        {"query_id": "object", "doc_id": "int64", "score": "float64"}
    )


def _batch_pdf(scored, k: int) -> pd.DataFrame:
    """(query_id, (ids, scores)) pairs of one shard -> its per-query local
    top-k rows."""
    parts = []
    for qid, (ids, scores) in scored:
        pdf = _local_topk(ids, scores, k)
        if len(pdf):
            pdf.insert(0, "query_id", qid)
            parts.append(pdf)
    return pd.concat(parts, ignore_index=True) if parts else _empty_batch_pdf()


def _shard_step(specs: dict[str, QuerySpec], parse, score, k: int, attach=None):
    """The per-shard body of ``_ranked_rows`` (the applyInPandas function,
    or one call per doc_shard on the driver): one doc_shard's rows, with
    any ``attach`` columns ({column: {term: value}}, ``term_rows``) added
    by term, parsed once (``parse``), scored for every spec (``score``) ->
    each query's shard-local top-k rows."""

    def shard_topk(left: pd.DataFrame) -> pd.DataFrame:
        if attach:
            left = left.assign(**{c: left["term"].map(v) for c, v in attach.items()})
        shard = parse(left)
        return _batch_pdf(((qid, score(shard, s)) for qid, s in specs.items()), k)

    return shard_topk


def _one_shard(index: Index) -> bool:
    """THE path rule of every packed plan: when every doc_id of ``index``
    falls in doc_shard 0 (an empty index too), the plan runs on the driver
    (``_run_shards``), and an executor may hold the index's ``PackedCopy``
    (its gate, ``QueryExecutor._get_vocab``, is the other reader); over
    several shards it stays the distributed applyInPandas plan. Structural:
    no option, no size threshold."""
    return index.stats.max_doc_id < index.doc_shard_size


def _collect_shards(rows: DataFrame) -> pd.DataFrame:
    """The one Spark job of a driver execution that reads rows the driver
    does not hold (``_run_shards``): ONE Arrow collect of ``rows`` (no
    shuffle; term rows are a JVM-only scan and filter, with a join only
    without the cached dictionary, and a LinkTo leaf adds its citation
    decode). The step then attaches what the JVM did not compute (the
    dictionary's stat column of a ranked plan, ``term_rows``).

    Driver memory: the collect holds exactly the rows the distributed
    plan's one kernel task would receive — one per (field, term) of the
    plan, each bounded by doc_shard_size postings (``build._encode_group``
    guards the blob size), so no byte cap is needed on top. (An executor's
    ``PackedCopy`` holds a whole one-shard index instead; its bound is the
    index's ``total_tokens``, ``QueryExecutor.PACKED_COPY_MAX_TOKENS``.)"""
    return rows.toArrow().to_pandas()


def _run_shards(index: Index, parts: list, step, schema, empty):
    """THE shard runner of every packed plan, ranked or Boolean: ``step``
    (one doc_shard's rows -> its pandas output) over the union of ``parts``
    — DataFrames, and pandas frames the driver already holds (slices of a
    ``PackedCopy``) — grouped by doc_shard. Over one doc_shard
    (``_one_shard``), or when a part is held, the driver execution: the
    DataFrame parts' ONE Arrow collect (``_collect_shards``; none when every
    part is held, so the plan runs no Spark job), then ``step`` per doc_shard
    group in the calling thread, giving a pandas frame (``empty()`` when no
    row matched). Over several, a Spark DataFrame of ``groupBy("doc_shard")
    .applyInPandas(step, schema)``. The same step sees the same rows either
    way, so answers are equal; the caller's tail takes either. ``step``
    must not close over a DataFrame: it is shipped to the Python workers."""
    held = [p for p in parts if isinstance(p, pd.DataFrame)]
    frames = [p for p in parts if not isinstance(p, pd.DataFrame)]
    union = (
        reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames) if frames else None
    )
    if not held and not _one_shard(index):
        return union.groupBy("doc_shard").applyInPandas(step, schema)
    if union is not None:
        held.append(_collect_shards(union))
    held = [p for p in held if len(p)]
    if not held:
        return empty()
    rows = held[0] if len(held) == 1 else pd.concat(held, ignore_index=True)
    return pd.concat([step(g) for _, g in rows.groupby("doc_shard", sort=True)], ignore_index=True)


def _localized(spark, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """A driver-side result as a local DataFrame, empty or not: collecting
    it runs no Spark job under ANY session conf. It is built from a
    pyarrow Table with ``schema``'s Arrow types (a None score lands as
    NULL), which Spark always makes a local relation; a pandas frame would
    become an RDD-backed one when the session disables Arrow."""
    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    )


def _ranked_rows(
    index: Index, stat: str, specs: dict[str, QuerySpec], parse, score, k: int,
    stats: TermDictionary | None = None,
):
    """THE ranked-plan builder of every scorer, for one query or a batch:
    ONE scan of the union of all specs' terms and prefix ranges with the
    scorer's per-term ``stat`` (``term_rows``; the position stream is read
    only when a spec has a phrase), then per
    doc_shard ``_shard_step`` -> shard-local (query_id, doc_id, score) rows,
    through ``_run_shards``: a pandas frame over one doc_shard, a Spark
    DataFrame over several. The caller adds the global top-k tail, which
    takes either: ``_topk`` for one query, ``_batch_global_topk`` for a batch.
    Block skipping stays per-query exact: every spec runs its own kernel
    over the shared rows. With the cached dictionary ``stats``, terms
    outside it have no packed rows and drop out here; a plan left without
    terms, or with k = 0, is the empty pandas frame and runs no job."""
    terms = list(dict.fromkeys(t for s in specs.values() for t in [*s.phrase, *s.keywords]))
    prefixes = tuple(dict.fromkeys(p for s in specs.values() for p in s.prefixes))
    if stats is not None and not prefixes:
        terms = [t for t in terms if t in stats.terms]
    if k == 0 or (not terms and not prefixes):
        return _empty_batch_pdf()
    phrase = any(s.phrase for s in specs.values())
    rows, attach = term_rows(index, terms, stat, prefixes, phrase, stats=stats)
    return _run_shards(
        index, [rows], _shard_step(specs, parse, score, k, attach),
        SHARD_ROWS_SCHEMA, _empty_batch_pdf,
    )


def _bm25(fields: dict, k: int):
    """BM25's (parse, score) pair for ``_ranked_rows`` (its stat is
    ``idf``): ``_shard_rows`` and ``_bm25_scores``; ``fields`` is the
    index's ``_field_norms``. Doc lengths decode from the blob (dls_vb), so
    no doc_map join happens at query time."""
    return (
        lambda left: _shard_rows(left, fields),
        lambda shard, spec: _bm25_scores(shard, spec, k),
    )


def _topk(spark, local, k: int) -> DataFrame:
    """One query's global top-k over ``_ranked_rows``' shard-local rows:
    on a driver plan a pandas sort (score DESC, doc_id ASC) and head k,
    returned localized; else a tiny TakeOrderedAndProject over the
    n_shards * k rows. (A Spark sort over the localized frame would run a
    job of its own, so the driver tail stays in pandas.)"""
    if isinstance(local, pd.DataFrame):
        top = local.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
        return _localized(spark, top, RESULT_SCHEMA)
    return (
        local.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


def _batch_global_topk(spark, local, k: int) -> DataFrame:
    """Per-query global top-k over the shard-local batch rows, sorted by
    (query_id, rank). On a driver plan: pandas ranks each query's rows by
    (score DESC, doc_id ASC) and keeps rank <= k, returned localized. Else
    one window (n_shards * k * n_queries tiny rows; Spark pushes a
    WindowGroupLimit below the exchange so each partition pre-prunes to k),
    then the final presentation sort — two hash exchanges plus that sort's
    range exchange."""
    if isinstance(local, pd.DataFrame):
        ranked = local.sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True]
        )
        ranked.insert(1, "rank", ranked.groupby("query_id").cumcount() + 1)
        return _localized(spark, ranked[ranked["rank"] <= k], BATCH_RESULT_SCHEMA)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def _pairs(specs: dict) -> dict[str, QuerySpec]:
    """A batch entry point's {query_id: (phrase_terms, keyword_terms)}."""
    return {qid: QuerySpec(list(ph), list(kw)) for qid, (ph, kw) in specs.items()}


def wand_topk(
    spark: SparkSession,
    index: Index,
    terms: list[str],
    k: int = 10,
    weights: dict[str, float] | None = None,
    prefixes=(),
) -> DataFrame:
    """Top-k BM25 via block-max WAND on the packed index, rank+score
    identical to the oracle (tests/oracle.py). ``weights`` scales per-term
    contributions (PRF expansion terms at 0.25; BM25 is linear in idf, so
    the kernel multiplies idf); every term in a ``prefixes`` range is a
    query term too. ONE Spark action (``term_rows``)."""
    spec = QuerySpec([], list(terms), tuple(prefixes), weights)
    return _topk(spark, _ranked_rows(
        index, "idf", {"q": spec}, *_bm25(_field_norms(index), k), k,
    ), k)


def mixed_topk(
    spark: SparkSession,
    index: Index,
    phrase_terms: list[str],
    keyword_terms: list[str],
    k: int = 10,
    weights: dict[str, float] | None = None,
    prefixes=(),
    *,
    stats=None,
) -> DataFrame:
    """One ranked BM25 query of any type off the packed index, ONE Spark
    action: ([], kw) is a keyword query, (ph, []) an exact phrase, (ph, kw)
    a Mixed query ('"exact phrase" extra words'). Every term's packed rows
    arrive in one bucket-pruned scan and each doc_shard runs phrase-eval +
    seeded WAND in a single pass (``_bm25_scores``).
    ``weights``/``prefixes`` apply to the keyword part, as in
    ``wand_topk``; ``stats`` is the executor's ``TermDictionary``
    (``term_rows``)."""
    spec = QuerySpec(list(phrase_terms), list(keyword_terms), tuple(prefixes), weights)
    return _topk(spark, _ranked_rows(
        index, "idf", {"q": spec}, *_bm25(_field_norms(index), k), k, stats,
    ), k)


def phrase_topk(
    spark: SparkSession,
    index: Index,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-k BM25 off the packed (compressed) index: positions
    decode only for the phrase's terms, per doc-shard, and each shard emits
    a bounded local top-k. A phrase term missing from the whole index means
    no shard holds every term, so each returns empty on its own — no
    driver-side existence collect."""
    return _topk(spark, _ranked_rows(
        index, "idf", {"q": QuerySpec(list(terms), [])},
        *_bm25(_field_norms(index), k), k,
    ), k)


def batch_topk(
    spark: SparkSession,
    index: Index,
    specs: dict[str, tuple[list[str], list[str]]],
    k: int = 10,
    *,
    stats=None,
) -> DataFrame:
    """Batched top-k over MIXED query types in ONE Spark action: each
    ``specs`` value is (phrase_terms, keyword_terms) — ([], kw) is a plain
    keyword query, (ph, []) an exact phrase, (ph, kw) a Mixed query. The
    batch shares one bucket-pruned scan of the union of its terms, each
    shard parsed once; per-query results are rank+score identical to
    wand_topk / phrase_topk / mixed_topk, which run the same builder and
    kernel (tests/test_batch.py). ``stats`` is the executor's ``TermDictionary``
    (``term_rows``).

    The serving cost of a single query at scale is dominated by fixed
    per-action work (job scheduling, the packed scan's task launch, one
    shuffle) — amortizing it across a workload is the real queries/sec lever
    on a 1000-executor cluster (the reference answers one query per call,
    src/SearchEngine/SearchEngineTest.java:19-56 driving
    AwesomeSearchEngine.java; batching is the Spark-first upgrade of that
    loop)."""
    return _batch_global_topk(spark, _ranked_rows(
        index, "idf", _pairs(specs), *_bm25(_field_norms(index), k), k, stats,
    ), k)


def _ql_decode_row(r, lam: float, C: float) -> tuple[np.ndarray, np.ndarray]:
    """One packed row -> (doc_ids, per-doc QL/JM contributions). THE
    single-vs-batched exactness contract: every QL plan scores through this
    one expression (ref formula: DocumentRanker.java:33 —
    log((1-l)*tf/dl + l*cf/C), dl floored at 1)."""
    ids = codec.delta_vbyte_decode_blocked(bytes(r["doc_ids_vb"]))
    tfs = codec.vbyte_decode(bytes(r["tfs_vb"])).astype(np.float64)
    dls = codec.vbyte_decode(bytes(r["dls_vb"])).astype(np.float64)
    DECODE_STATS["postings"] += ids.size
    contrib = np.log(
        (1.0 - lam) * tfs / np.maximum(dls, 1.0)
        + lam * float(r["cf_global"]) / C
    )
    return ids, contrib


def _ql_shard(left: pd.DataFrame, lam: float, C: float):
    """One doc_shard's rows -> ({term: row}, {term: decoded contributions}).
    QL has no admission bound like BM25's idf*block_max (contributions are
    negative log-mixtures), so every row decodes in full — once per shard,
    shared by every query of a batch (exact: contributions are per-(term,
    doc) values independent of the query mix)."""
    rows = {r["term"]: r for _, r in left.iterrows()}
    return rows, {t: _ql_decode_row(r, lam, C) for t, r in rows.items()}


def _ql_scores(shard, spec: QuerySpec):
    """One query's QL/JM scores over one decoded shard, summed in sorted
    term order on every plan (single query and batch alike): phrase terms
    add at the phrase survivors only, keyword terms (exact or in a prefix
    range) at every doc, multiplied by their weight (PRF). A term in both
    lists counts twice for survivors, like the BM25 Mixed kernel."""
    rows, decoded = shard
    surv = _phrase_survivors(rows, spec.phrase)[0] if spec.phrase else None
    w = spec.weights or {}
    ids, scores = _no_scores()
    for t in sorted(decoded):
        t_ids, c = decoded[t]
        if surv is not None and t in spec.phrase:
            m = _sorted_member(surv, t_ids)
            ids, scores = _merge_scores(ids, scores, t_ids[m], c[m])
        if spec.is_keyword(t):
            ids, scores = _merge_scores(ids, scores, t_ids, c * w[t] if t in w else c)
    return ids, scores


def _ql(index: Index):
    """QL/JM's (parse, score) pair for ``_ranked_rows`` (its stat is
    ``cf_global``, the GLOBAL collection frequency the JM background model
    needs): ``_ql_shard`` and ``_ql_scores``. A multi-field index raises:
    zone-weighted QL is not defined, and ranking such an index without its
    zones would be a silent fallback."""
    if len(index.field_weights) > 1:
        raise ValueError(
            f"scorer 'ql' serves one-field indexes only; this index has "
            f"fields {sorted(index.field_weights)}"
        )
    C = float(max(index.stats.total_tokens, 1))
    return lambda left: _ql_shard(left, JM_LAMBDA, C), _ql_scores


def ql_topk(
    spark: SparkSession,
    index: Index,
    terms: list[str],
    k: int = 10,
    *,
    phrase_terms=(),
    prefixes=(),
    weights: dict[str, float] | None = None,
    stats=None,
) -> DataFrame:
    """Query-likelihood / Jelinek-Mercer top-k off the packed index (ref
    scorer: src/querying/ranking/DocumentRanker.java:33, 138-167 —
    score(d) = sum_t log((1-l)*tf/dl + l*cf/C) over MATCHED terms, dl
    floored at 1). ``terms`` are the keyword terms; ``phrase_terms``,
    ``prefixes`` and ``weights`` give the phrase, prefix and PRF forms
    (``_ql_scores``). ONE Spark action, ``wand_topk``'s shape: term_rows
    with the global cf (from the cached dictionary ``stats``, else
    broadcast), per-shard decode (dl rides in dls_vb, so no
    doc_map join), tiny global top-k."""
    spec = QuerySpec(list(phrase_terms), list(terms), tuple(prefixes), weights)
    return _topk(spark, _ranked_rows(
        index, "cf_global", {"q": spec}, *_ql(index), k, stats,
    ), k)


def ql_topk_many(
    spark: SparkSession,
    index: Index,
    specs: dict[str, tuple[list[str], list[str]]],
    k: int = 10,
    *,
    stats=None,
) -> DataFrame:
    """Batched QL/JM top-k in ONE Spark action, with ``batch_topk``'s
    (phrase_terms, keyword_terms) specs — keyword, phrase and Mixed queries
    alike. Each term's lists decode once per shard regardless of how many
    queries use them. Per-query scores are EQUAL to ``ql_topk``'s: both run
    the same builder and sum through ``_ql_scores`` in the same term order
    (tests/test_batch.py). ``stats`` is the executor's ``TermDictionary``
    (``term_rows``)."""
    return _batch_global_topk(spark, _ranked_rows(
        index, "cf_global", _pairs(specs), *_ql(index), k, stats,
    ), k)


def _positions_for_docs(
    r, ids_t: np.ndarray, tfs_t: np.ndarray, docs: np.ndarray
) -> dict[int, np.ndarray]:
    """Positions of ``docs`` (sorted, all present in this term's posting
    list) decoded from ONLY the position-stream blocks that contain them —
    the blk_pos_off directory slices the [tf, gaps...] stream at 128-doc
    block heads, so untouched blocks' bytes are never inflated. Returns
    {doc_id: absolute positions}."""
    buf = bytes(r["pos_vb"])
    pos_off = np.asarray(r["blk_pos_off"], dtype=np.int64)
    nb = pos_off.size
    pos_in_t = np.searchsorted(ids_t, docs)
    blk = pos_in_t // codec.BLOCK
    idx = np.unique(blk)
    run_starts = idx[np.r_[True, np.diff(idx) > 1]]
    run_ends = idx[np.r_[np.diff(idx) > 1, True]] + 1
    out: dict[int, np.ndarray] = {}
    for bi, bj in zip(run_starts.tolist(), run_ends.tolist()):
        end = int(pos_off[bj]) if bj < nb else len(buf)
        seg = codec.vbyte_decode(buf[int(pos_off[bi]): end]).astype(np.int64)
        DECODE_STATS["pos_entries"] += seg.size
        j0 = bi * codec.BLOCK
        j1 = min(bj * codec.BLOCK, ids_t.size)
        tf_seg = tfs_t[j0:j1]
        # marker offset of doc j (relative to the run) = sum of (tf+1) before it
        marks = np.zeros(j1 - j0, dtype=np.int64)
        np.cumsum(tf_seg[:-1] + 1, out=marks[1:])
        in_run = (blk >= bi) & (blk < bj)
        for p, d in zip(pos_in_t[in_run].tolist(), docs[in_run].tolist()):
            m = marks[p - j0]
            tf = int(tf_seg[p - j0])
            out[int(d)] = np.cumsum(seg[m + 1: m + 1 + tf])
    return out


def _sliced_posting_values(
    buf: bytes, off: np.ndarray, pos_in_t: np.ndarray
) -> np.ndarray:
    """Per-posting values (a non-delta varint stream: dls or tfs) at posting
    positions ``pos_in_t`` within one term's list, decoding ONLY the
    128-posting blocks that contain them via the per-block byte-offset
    directory — untouched blocks' bytes are never inflated."""
    blk = pos_in_t // codec.BLOCK
    idx = np.unique(blk)
    run_starts = idx[np.r_[True, np.diff(idx) > 1]]
    run_ends = idx[np.r_[np.diff(idx) > 1, True]] + 1
    out = np.empty(pos_in_t.size, dtype=np.int64)
    for bi, bj in zip(run_starts.tolist(), run_ends.tolist()):
        seg = codec.decode_block_slice(buf, off, bi, bj)
        DECODE_STATS["dl_entries"] += seg.size
        in_run = (blk >= bi) & (blk < bj)
        out[in_run] = seg[pos_in_t[in_run] - bi * codec.BLOCK]
    return out


def _phrase_survivors(rows: dict, terms: list[str]):
    """Exact-phrase survivors within one doc_shard (ref adjacency semantics:
    QueryProcessor.java:223-293). ``rows`` maps term -> packed pandas row.
    Returns (survivor doc_ids sorted ASC, {term: doc_ids}, {term: tfs}) over
    the phrase's distinct terms — no survivors when a term is missing from
    the shard or no doc holds the phrase.

    Two-stage decode, scalable at 1M-posting shards: stage 1 intersects the
    cheap doc_id blobs of all phrase terms (docs missing any term can never
    match); stage 2 decodes POSITIONS only for the blocks that contain the
    surviving docs, via the blk_pos_off directory — the position stream is
    the largest blob and for selective phrases almost none of it is read."""
    none = np.zeros(0, dtype=np.int64)
    distinct_terms = list(dict.fromkeys(terms))
    if any(t not in rows for t in distinct_terms):
        return none, {}, {}
    # stage 1: doc-level intersection from the doc_id blobs only
    ids = {
        t: codec.delta_vbyte_decode_blocked(bytes(rows[t]["doc_ids_vb"]))
        for t in distinct_terms
    }
    surv = ids[distinct_terms[0]]
    for t in distinct_terms[1:]:
        surv = np.intersect1d(surv, ids[t], assume_unique=True)
        if surv.size == 0:
            return none, ids, {}
    tfs = {
        t: codec.vbyte_decode(bytes(rows[t]["tfs_vb"])).astype(np.int64)
        for t in distinct_terms
    }
    if len(terms) == 1:
        # a one-word "phrase" matches wherever the word occurs — no
        # adjacency to check, so the position stream is never touched
        return surv, ids, tfs
    # stage 2: candidate-block-only position decode per term
    pos = {
        t: _positions_for_docs(rows[t], ids[t], tfs[t], surv)
        for t in distinct_terms
    }
    # ordered positional adjacency: cur = positions where a prefix of the
    # phrase ends; survive docs where every step keeps a match
    cur = {int(d): pos[terms[0]][int(d)] for d in surv}
    for t in terms[1:]:
        nxt = pos[t]
        cur = {
            d: hits
            for d, p in cur.items()
            if len(hits := np.intersect1d(p + 1, nxt[d], assume_unique=True))
        }
        if not cur:
            return none, ids, tfs
    return np.fromiter(sorted(cur), np.int64), ids, tfs


def _phrase_eval(
    rows: dict, terms: list[str], avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """The BM25 step over ``_phrase_survivors``: (survivor doc_ids, their
    summed BM25 scores over the phrase's distinct terms; ``rows`` carry the
    idf column)."""
    survivors, ids, tfs = _phrase_survivors(rows, terms)
    if survivors.size == 0:
        return _no_scores()
    distinct_terms = list(ids)
    # doc lengths decode from the first term's blob (survivors are a
    # subset of every phrase term's posting list), sliced to survivors'
    # blocks via blk_dl_off — at 1M-posting shards the full-blob varint
    # pass this replaces was the last per-term O(n) decode on this path
    r0 = rows[distinct_terms[0]]
    dls = _sliced_posting_values(
        bytes(r0["dls_vb"]),
        np.asarray(r0["blk_dl_off"], dtype=np.int64),
        np.searchsorted(ids[distinct_terms[0]], survivors),
    ).astype(np.float64)
    scores = np.zeros(len(survivors), np.float64)
    for t in distinct_terms:
        tf = tfs[t][np.searchsorted(ids[t], survivors)].astype(np.float64)
        scores += float(rows[t]["idf"]) * tf / (
            tf + K1 * (1 - B + B * dls / avgdl)
        )
    return survivors, scores


DOCSET_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType(), False)])


def _spec_leaves(spec) -> tuple[list[str], list[str]]:
    """All exact terms and prefixes of a boolean spec's keyword leaves."""
    if spec[0] == "terms":
        return list(spec[1]), list(spec[2]) if len(spec) > 2 else []
    if spec[0] == "link":
        return [], []
    lt, lp = _spec_leaves(spec[1])
    rt, rp = _spec_leaves(spec[2])
    return lt + rt, lp + rp


def _eval_docset(spec, by_term: dict, by_link: dict) -> np.ndarray:
    """Evaluate a boolean spec against per-term sorted doc_id arrays of ONE
    doc_shard. spec = ("terms", [t...][, (prefix...)]) — docs holding any
    listed term or any term in a prefix range — | ("link", target) — docs
    citing target — | (op, left, right), op in and/or/not. Doc-sets
    partition cleanly by shard, so shard-local evaluation is exact."""
    if spec[0] == "terms":
        prefixes = tuple(spec[2]) if len(spec) > 2 else ()
        arrs = [a for t, a in by_term.items() if t in spec[1] or t.startswith(prefixes)]
        return reduce(np.union1d, arrs) if arrs else np.zeros(0, np.int64)
    if spec[0] == "link":
        return by_link.get(spec[1], np.zeros(0, np.int64))
    left = _eval_docset(spec[1], by_term, by_link)
    right = _eval_docset(spec[2], by_term, by_link)
    if spec[0] == "and":
        return np.intersect1d(left, right, assume_unique=True)
    if spec[0] == "or":
        return np.union1d(left, right)
    if spec[0] == "not":
        return np.setdiff1d(left, right, assume_unique=True)
    raise ValueError(spec[0])


def boolean_docs(
    spark: SparkSession,
    index: Index,
    spec,
    k: int = 10,
    links: DataFrame | None = None,
    *,
    stats: TermDictionary | None = None,
) -> DataFrame:
    """Boolean doc-set query over the packed index: per-shard decode of the
    involved terms' doc_id blobs, numpy set algebra (``_eval_docset``),
    recency top-k (doc_id DESC — ref: QueryProcessor.java:112-114).
    ``links`` carries the spec's LinkTo leaves as (target, doc_id) rows; a
    bare LinkTo is the one-leaf spec ("link", target). Keyed by doc_shard,
    the link rows join the term rows in ONE union, and each doc_shard's
    step sees both. The union runs through ``_run_shards``, like every
    ranked plan: over one doc_shard it is evaluated on the driver, with the
    top-k tail in numpy and the result returned localized — its term rows
    sliced from the executor's ``PackedCopy`` when ``stats`` (its
    ``TermDictionary``) holds one, so only a LinkTo leaf's rows are
    collected; over several, one applyInPandas and a tiny top-k. Either way
    the query is at most ONE Spark action. Returns (doc_id, score NULL)."""
    terms, prefixes = _spec_leaves(spec)
    terms = sorted(set(terms))
    if k == 0 or (not terms and not prefixes and links is None):
        return _localized(spark, pd.DataFrame({"doc_id": [], "score": []}), RESULT_SCHEMA)
    parts, cols = [], ["doc_shard", "term", "doc_ids_vb"]
    if (terms or prefixes) and stats is not None and stats.copy is not None:
        parts.append(stats.copy.rows(terms, prefixes, cols))
    elif terms or prefixes:
        rows = _term_filter(index.packed, terms, prefixes)
        parts.append(rows.select(*cols))
    if links is not None:
        parts.append(links.withColumn("doc_shard", doc_shard_col(index.doc_shard_size)))

    def shard_docs(g: pd.DataFrame) -> pd.DataFrame:
        by_link: dict[int, np.ndarray] = {}
        if "target" in g:
            # the union's link rows carry a target, its term rows none
            is_link = g["target"].notna()
            linked = g.loc[is_link, ["target", "doc_id"]].astype("int64")
            by_link = {t: np.unique(lg["doc_id"].to_numpy()) for t, lg in linked.groupby("target")}
            g = g[~is_link]
        # a term's doc set is the union over its field rows
        by_term: dict[str, np.ndarray] = {}
        for _, r in g.iterrows():
            ids = codec.delta_vbyte_decode_blocked(bytes(r["doc_ids_vb"]))
            t = r["term"]
            by_term[t] = np.union1d(by_term[t], ids) if t in by_term else ids
        out = _eval_docset(spec, by_term, by_link)
        return pd.DataFrame({"doc_id": np.sort(out)[::-1][:k]})  # shard-local recency top-k

    local = _run_shards(
        index, parts, shard_docs, DOCSET_SCHEMA, lambda: pd.DataFrame({"doc_id": []})
    )
    if isinstance(local, pd.DataFrame):
        # the NULL score is built in pandas, so the frame stays local
        top = np.sort(local["doc_id"].to_numpy(np.int64))[::-1][:k]
        return _localized(spark, pd.DataFrame({"doc_id": top, "score": None}), RESULT_SCHEMA)
    return (
        local.orderBy(F.col("doc_id").desc()).limit(k)
        .withColumn("score", F.lit(None).cast("double"))
    )


def decode_postings(index: Index, term: str, with_positions: bool = False) -> DataFrame:
    """Decode one term's packed blobs back to (doc_id, tf[, pos]) rows —
    the external round-trip gate for the delta+VByte+position-stream codec
    (ref semantics: src/postings/TokenPostings.java:201-243,
    EagerPositionMap.java:128-171), through the one decoder of packed rows
    (``build.unpack_postings``)."""
    bucket = _py_term_bucket(term)
    rows = unpack_postings(index.packed.filter(
        (F.col("term_bucket") == bucket) & (F.col("term") == term)
    ))
    if not with_positions:
        return rows.select("doc_id", "tf")
    return rows.select("doc_id", F.explode("positions").alias("pos"))
