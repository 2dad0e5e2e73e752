"""Field/zone-weighted retrieval — the reference's ContentType weights
(Title 0.5 / Abstract 0.25 / Claims 0.15 / Description 0.1,
ref: src/postings/ContentType.java:6-9; applied per field in
src/querying/ranking/DocumentRanker.java:138-167).

The code corpus collapses to one ``content`` field, but the engine keeps the
reference's multi-field capability: each field tokenizes independently, the
posting table carries a ``field`` column, per-field lengths/avgdl feed a
weighted-sum-of-BM25 scorer:

    score(d) = sum_f w_f * sum_t idf(t) * tfnorm_{t,d,f}

idf is field-independent (df = docs containing t in ANY field — the
reference's seek is also per-term, not per-(term,field)).

All the same scale properties as build.py: one narrow tokenize pass per
field, no (term, doc) shuffle, salted term stats. The packed fielded table
goes through build.py's one repack path keyed (field, term, doc_shard),
each group packed against its field's avgdl.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import wand
from .build import (
    B,
    DEFAULT_TERM_BUCKETS,
    K1,
    PACK_KEYS,
    PACKED_SCHEMA,
    pack_postings,
    term_bucket_col,
)
from .scoring import idf_col
from .textproc import doc_postings_flat, doc_len_col

# The reference's exact patent-zone weighting, pinned as a preset
# (ref: src/postings/ContentType.java:6-9 — Title 0.5, Abstract 0.25,
# Claims 0.15, Description 0.1). Pass as BOTH field_cols and field_weights
# to reproduce the reference's four-zone ranking over a corpus with those
# columns; the golden in tests/test_fields.py pins the resulting scores.
REFERENCE_ZONES: dict[str, float] = {
    "title": 0.5,
    "abstract": 0.25,
    "claims": 0.15,
    "description": 0.1,
}


def build_fielded_postings(
    source_df: DataFrame,
    field_cols: dict[str, float],
    *,
    do_stem: bool = False,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (postings, field_lens, term_stats) for a multi-field corpus.

    postings:   (field, doc_id, term, tf, positions, term_bucket)
    field_lens: (doc_id, field, doc_len) — stopword-inclusive per field
    term_stats: (term, df, cf, term_bucket) — df over docs (any field)
    """
    parts = []
    for col in field_cols:
        p = doc_postings_flat(
            source_df.select("doc_id", F.col(col).alias("content")),
            do_stem=do_stem,
        ).withColumn("field", F.lit(col))
        parts.append(p)
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)
    postings = postings.withColumn(
        "term_bucket", term_bucket_col(F.col("term"), n_term_buckets)
    )
    # per-field lengths over ALL docs (pure JVM; a doc with only stopwords
    # in a field still contributes its stopword-inclusive length to avgdl)
    len_parts = [
        source_df.select(
            "doc_id", F.lit(col).alias("field"), doc_len_col(col).alias("doc_len")
        )
        for col in field_cols
    ]
    field_lens = len_parts[0]
    for p in len_parts[1:]:
        field_lens = field_lens.unionByName(p)
    term_stats = (
        postings.groupBy("term", F.pmod(F.col("doc_id"), F.lit(16)).alias("_s"))
        .agg(
            F.countDistinct("doc_id").alias("pdf"),
            F.sum("tf").alias("pcf"),
        )
        .groupBy("term")
        .agg(F.sum("pdf").alias("df"), F.sum("pcf").alias("cf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_term_buckets))
    )
    return postings, field_lens, term_stats


def _score_fielded_matches(
    matched: DataFrame,
    field_lens: DataFrame,
    term_stats: DataFrame,
    field_weights: dict[str, float],
    terms: list[str],
    k: int,
    term_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Shared zone-weighted BM25 rollup: ``matched`` is (field, doc_id,
    term, tf) — already restricted to whatever doc/field set the query type
    admits (all matches for keyword; phrase-surviving (doc, field) pairs for
    the phrase part of phrase/Mixed). ``term_weights`` scales per-term
    contributions (PRF expansion at 0.25) on top of the zone weight."""
    stats = field_lens.groupBy("field").agg(
        F.avg("doc_len").alias("avgdl")
    )
    n_docs = field_lens.select("doc_id").distinct().count()
    w_map = F.create_map(
        *[x for f, w in sorted(field_weights.items()) for x in (F.lit(f), F.lit(float(w)))]
    )
    matched = (
        matched
        .join(F.broadcast(term_stats.filter(F.col("term").isin(terms)).select("term", "df")), "term")
        .join(field_lens, ["doc_id", "field"])
        .join(F.broadcast(stats), "field")
    )
    tfnorm = F.col("tf") / (
        F.col("tf")
        + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.col("avgdl"))
    )
    contrib = w_map[F.col("field")] * idf_col(F.col("df"), n_docs) * tfnorm
    if term_weights:
        tw_map = F.create_map(
            *[F.lit(x) for t, w in term_weights.items() for x in (t, float(w))]
        )
        contrib = contrib * F.coalesce(tw_map[F.col("term")], F.lit(1.0))
    return (
        matched.groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def fielded_bm25_topk(
    spark: SparkSession,
    postings: DataFrame,
    field_lens: DataFrame,
    term_stats: DataFrame,
    field_weights: dict[str, float],
    terms: list[str],
    k: int = 10,
    term_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Weighted-per-field BM25 top-k: (doc_id, score)."""
    matched = postings.filter(F.col("term").isin(terms)).select(
        "field", "doc_id", "term", "tf"
    )
    return _score_fielded_matches(
        matched, field_lens, term_stats, field_weights, terms, k, term_weights
    )


def _fielded_phrase_pairs(postings: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, field) pairs where the exact phrase occurs WITHIN that field
    (positions never chain across zone boundaries — each field tokenizes
    independently). The DataFrame form of ``wand._phrase_survivors``'s
    adjacency check, keyed on (doc_id, field)."""
    base = (
        postings.filter(F.col("term") == terms[0])
        .select("doc_id", "field", F.col("positions").alias("_cur"))
    )
    for t in terms[1:]:
        nxt = postings.filter(F.col("term") == t).select(
            "doc_id", "field", F.col("positions").alias("_next")
        )
        base = (
            base.join(nxt, ["doc_id", "field"])
            .withColumn(
                "_cur",
                F.array_intersect(
                    F.transform(F.col("_cur"), lambda x: x + 1), F.col("_next")
                ),
            )
            .filter(F.size("_cur") > 0)
            .drop("_next")
        )
    return base.select("doc_id", "field")


def fielded_phrase_bm25_topk(
    spark: SparkSession,
    postings: DataFrame,
    field_lens: DataFrame,
    term_stats: DataFrame,
    field_weights: dict[str, float],
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Long-table zone-weighted PHRASE top-k (the DataFrame reference plan
    for ``fielded_phrase_topk``): a doc scores w_f * sum_t idf*tfnorm_f for
    every field f where the phrase occurs — the reference weights phrase
    results by ContentType exactly like keyword results
    (ref: DocumentRanker.java:138-167)."""
    distinct_terms = list(dict.fromkeys(terms))
    pairs = _fielded_phrase_pairs(postings, terms)
    matched = (
        postings.filter(F.col("term").isin(distinct_terms))
        .select("field", "doc_id", "term", "tf")
        .join(pairs, ["doc_id", "field"], "left_semi")
    )
    return _score_fielded_matches(
        matched, field_lens, term_stats, field_weights, distinct_terms, k
    )


def fielded_mixed_bm25_topk(
    spark: SparkSession,
    postings: DataFrame,
    field_lens: DataFrame,
    term_stats: DataFrame,
    field_weights: dict[str, float],
    phrase_terms: list[str],
    keyword_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Long-table zone-weighted MIXED top-k (reference plan for
    ``fielded_mixed_topk``): phrase-part postings restricted to the
    (doc, field) pairs holding the phrase, unioned with the keyword terms'
    postings over every field — the same union-then-score shape as the
    unfielded Mixed plan, zone weights applied to both parts."""
    ph_distinct = list(dict.fromkeys(phrase_terms))
    kw_distinct = list(dict.fromkeys(keyword_terms))
    pairs = _fielded_phrase_pairs(postings, phrase_terms)
    ph = (
        postings.filter(F.col("term").isin(ph_distinct))
        .select("field", "doc_id", "term", "tf")
        .join(pairs, ["doc_id", "field"], "left_semi")
    )
    kw = postings.filter(F.col("term").isin(kw_distinct)).select(
        "field", "doc_id", "term", "tf"
    )
    return _score_fielded_matches(
        ph.unionByName(kw), field_lens, term_stats, field_weights,
        list(dict.fromkeys(ph_distinct + kw_distinct)), k,
    )


# ---------------------------------------------------------------------------
# Packed fielded index — zone-weighted BM25 on the ONE-action compressed
# serving path (same posture as wand.wand_topk; closes the "fielded is
# long-table only" caveat). Each (field, term) posting list packs against
# that FIELD's avgdl so block-max bounds stay exact, and the query folds
# w_f into the broadcast idf column (BM25 is linear in idf).
# ---------------------------------------------------------------------------

PACKED_FIELDED_SCHEMA = T.StructType(
    list(PACKED_SCHEMA.fields) + [T.StructField("field", T.StringType(), False)]
)
FIELDED_KEYS = ["field", *PACK_KEYS]  # group key of a fielded packed table


@dataclass
class FieldedPackedIndex:
    packed: DataFrame               # PACKED_SCHEMA + field
    term_stats: DataFrame           # GLOBAL (term, df, cf, term_bucket) — df
                                    # over docs with the term in ANY field,
                                    # matching fielded_bm25_topk's idf
    field_weights: dict[str, float]
    avgdl_by_field: dict[str, float]
    n_docs: int
    doc_shard_size: int
    # UNFLOORED per-field mean doc_len (avgdl_by_field floors an all-empty
    # field to 1.0 for scoring). Merges combine the RAW means and floor only
    # after, so merged == rebuilt holds even when a source's field was empty
    # (ADVICE r4).
    avgdl_raw_by_field: dict[str, float]


def build_fielded_packed(
    spark: SparkSession,
    source_df: DataFrame,
    field_weights: dict[str, float],
    *,
    do_stem: bool = False,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    doc_shard_size: int = 1 << 20,
    cache: bool = True,
) -> FieldedPackedIndex:
    """Packed fielded index: one narrow tokenize pass per field (no
    (term, doc) shuffle — build.py's shape), then ONE wide
    (field, term, doc_shard) sort-shuffle into the streaming packer.
    Per-field avgdl comes from the stopword-inclusive field_lens (every doc
    contributes, even when a field yields no postings), matching
    ``fielded_bm25_topk``'s stats exactly."""
    postings, field_lens, term_stats = build_fielded_postings(
        source_df, field_weights, do_stem=do_stem, n_term_buckets=n_term_buckets
    )
    avgdl_raw_by_field = {
        r["field"]: float(r["avgdl"])
        for r in field_lens.groupBy("field")
        .agg(F.avg("doc_len").alias("avgdl"))
        .collect()
    }
    # scoring floor: an all-empty field has no postings, so the 1.0 is only
    # a guard against div-by-zero in dl/avgdl — the RAW mean is what merges
    # must combine (merge.merge_fielded_packed)
    avgdl_by_field = {f: (v or 1.0) for f, v in avgdl_raw_by_field.items()}
    n_docs = source_df.count()
    packed = pack_postings(
        postings, FIELDED_KEYS, PACKED_FIELDED_SCHEMA,
        lambda key: avgdl_by_field[key["field"]], n_term_buckets, doc_shard_size,
    )
    if cache:
        packed = packed.persist()
        term_stats = term_stats.persist()
    return FieldedPackedIndex(
        packed, term_stats, dict(field_weights), avgdl_by_field,
        n_docs, doc_shard_size, avgdl_raw_by_field,
    )


def _fielded_rows(fidx: FieldedPackedIndex, n_term_buckets: int):
    """Row selector for every fielded packed plan: (terms, prefixes) ->
    ``wand.term_rows`` over the fielded table, idf pre-multiplied by w_f and
    an ``avgdl`` column holding the row's FIELD avgdl (overrides
    ``wand._wand_pass``'s scalar; phrase evaluation groups rows by field)."""
    idf = idf_col(F.col("df"), fidx.n_docs).alias("idf")
    wmap = F.create_map(
        *[F.lit(x) for f, w in sorted(fidx.field_weights.items())
          for x in (f, float(w))]
    )
    amap = F.create_map(
        *[F.lit(x) for f, a in sorted(fidx.avgdl_by_field.items())
          for x in (f, float(a))]
    )
    return lambda terms, prefixes: (
        wand.term_rows(fidx.packed, fidx.term_stats, terms, n_term_buckets, [idf], prefixes)
        .withColumn("idf", F.col("idf") * wmap[F.col("field")])
        .withColumn("avgdl", amap[F.col("field")])
    )


def fielded_wand_topk(
    spark: SparkSession,
    fidx: FieldedPackedIndex,
    terms: list[str],
    k: int = 10,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    term_weights: dict[str, float] | None = None,
    prefixes=(),
) -> DataFrame:
    """Zone-weighted BM25 top-k entirely off the packed fielded index — ONE
    Spark action, rank+score identical to ``fielded_bm25_topk`` (pinned by
    tests/test_fields.py): each (field, term) list enters the block-max WAND
    loop as an independent list whose idf arrives pre-multiplied by w_f (and
    by the optional per-term ``term_weights`` — fielded PRF pass 2
    down-weights expansion terms this way) and whose per-row ``avgdl``
    column overrides the dl normalizer inside ``wand._wand_pass``. Skipping
    stays exact because each list's block_max was packed against the same
    avgdl. Every term in a ``prefixes`` range is a query term too."""
    spec = wand.QuerySpec([], list(terms), tuple(prefixes), term_weights)
    return wand._topk(wand._ranked_rows(
        spark, _fielded_rows(fidx, n_term_buckets), {"q": spec}, *wand._bm25(1.0, k), k
    ), k)


def fielded_phrase_topk(
    spark: SparkSession,
    fidx: FieldedPackedIndex,
    terms: list[str],
    k: int = 10,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """Zone-weighted exact-phrase top-k off the packed fielded index (ONE
    Spark action): the reference weights phrase results by ContentType
    exactly like keyword results (ref: DocumentRanker.java:138-167) — a doc
    scores w_f * sum_t idf*tfnorm_f for every zone f where the phrase
    occurs (phrases never span zones). Rank+score identical to
    ``fielded_phrase_bm25_topk`` (pinned by tests/test_fields.py)."""
    return fielded_mixed_topk(spark, fidx, terms, [], k, n_term_buckets)


def fielded_mixed_topk(
    spark: SparkSession,
    fidx: FieldedPackedIndex,
    phrase_terms: list[str],
    keyword_terms: list[str],
    k: int = 10,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
    weights: dict[str, float] | None = None,
    prefixes=(),
) -> DataFrame:
    """Zone-weighted Mixed top-k off the packed fielded index (ONE Spark
    action): per-field phrase survivors seed the candidate vector with their
    zone-weighted phrase-term mass, then every (field, keyword-term) list
    enters the block-max WAND loop as an independent list (w_f-folded idf,
    per-row avgdl). A term in both lists double-counts for survivors exactly
    like the unioned long-table plan (``fielded_mixed_bm25_topk``).
    ``weights``/``prefixes`` apply to the keyword part; ([], kw) is a
    keyword query, as in ``wand.mixed_topk``."""
    spec = wand.QuerySpec(list(phrase_terms), list(keyword_terms), tuple(prefixes), weights)
    return wand._topk(wand._ranked_rows(
        spark, _fielded_rows(fidx, n_term_buckets), {"q": spec}, *wand._bm25(1.0, k), k
    ), k)


def fielded_batch_topk(
    spark: SparkSession,
    fidx: FieldedPackedIndex,
    specs: dict[str, tuple[list[str], list[str]]],
    k: int = 10,
    n_term_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """Batched ZONE-WEIGHTED top-k: the whole workload (keyword / phrase /
    Mixed specs, same convention as ``wand.batch_topk``) in ONE Spark action
    off the packed fielded index — so a fielded deployment batches without
    giving up zone weighting (the executor invariant: a fielded executor
    never silently ranks unfielded). Per-query results are rank+score
    identical to fielded_wand_topk / fielded_phrase_topk / fielded_mixed_topk
    (tests/test_batch.py)."""
    return wand._batch_global_topk(wand._ranked_rows(
        spark, _fielded_rows(fidx, n_term_buckets), wand._pairs(specs),
        *wand._bm25(1.0, k), k,
    ), k)
