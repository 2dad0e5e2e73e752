"""Driver contract for the spark-graft builder (PySpark target).

Implements the correctness-gate surface for awesome_spark_search: each
``queries()`` entry runs a real engine operator over the driver-provided
parquet tables; ``oracle_sql()`` reproduces the same semantics in ANSI SQL
for DuckDB. Search-engine entries run the index pipeline with stemming OFF
(DuckDB has no Snowball stemmer; stemming parity is covered by the pytest
golden suite instead), which keeps both sides bit-reproducible.

All floating outputs are rounded to 4 decimals on BOTH sides so value-hash
comparison is robust to summation-order ulps.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from awesome_spark_search import corpus as _corpus
from awesome_spark_search import dedup as _dedup
from awesome_spark_search import pagerank as _pagerank
from awesome_spark_search import similarity as _similarity
from awesome_spark_search import textstats as _textstats
from awesome_spark_search import wand as _wand
from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.stopwords import stopword_sql_list

# ---------------------------------------------------------------------------
# engine cache: one index per (sf_dir) per driver process
# ---------------------------------------------------------------------------

_CACHE: dict[str, QueryExecutor] = {}


def _executor(spark: SparkSession, sf_dir: str) -> QueryExecutor:
    key = sf_dir.rstrip("/")
    if key not in _CACHE:
        src = _corpus.from_documents_table(spark, key).repartition(32, "doc_id").persist()
        idx = build_index(spark, src, do_stem=False)
        edges = _citation_edges(spark, key)
        # EVERY query type (keyword/phrase/boolean/mixed/PRF/LinkTo) runs
        # off the packed compressed index — the only thing QueryExecutor
        # serves from
        _CACHE[key] = QueryExecutor(
            spark, idx, source_df=src,
            packed_citations=_pagerank.pack_citations(edges),
        )
    return _CACHE[key]


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    return _executor(spark, sf_dir).index.stats.n_docs


def _citation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic citation graph over doc_ids: every doc cites
    (7*id+13) % n and (3*id+101) % n — reproducible in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("src")
    )
    n = docs.count()
    e1 = docs.select("src", ((F.col("src") * 7 + 13) % n).alias("dst"))
    e2 = docs.select("src", ((F.col("src") * 3 + 101) % n).alias("dst"))
    return e1.unionByName(e2).filter(F.col("src") != F.col("dst")).distinct()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )


_LSH_PAIRS: dict[str, DataFrame] = {}


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE MinHash/LSH chain per sf_dir per process: the candidate-pairs
    result is persisted and shared by the lsh_candidate_pairs entry and the
    ngram_jaccard verification stage (previously each rebuilt the whole
    shingle->minhash->band chain — 2x the q_lsh_pairs cost in a combined
    run)."""
    key = sf_dir.rstrip("/")
    if key not in _LSH_PAIRS:
        _LSH_PAIRS[key] = _dedup.lsh_candidate_pairs(_docs(spark, key)).persist()
    return _LSH_PAIRS[key]


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII planted (the synthetic corpus has
    none) so the redaction oracle checks real matches, not all-zeros; the
    DuckDB side plants the identical suffixes."""
    extra = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(" contact alice.smith@example.org now"))
        .when(F.col("doc_id") % 5 == 1, F.lit(" call 555-123-4567 soon"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" host 192.168.0.17 up"))
        .otherwise(F.lit(""))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), extra).alias("text")
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _search(spark, sf_dir, q, k=10):
    ex = _executor(spark, sf_dir)
    out = ex.search(q, k=k)
    return out.select("doc_id", F.round(F.col("score"), 4).alias("score"))


def _search_ids(spark, sf_dir, q, k=10):
    ex = _executor(spark, sf_dir)
    return ex.search(q, k=k).select("doc_id")


# ---------------------------------------------------------------------------
# oracle SQL fragments (shared tokenization CTE)
# ---------------------------------------------------------------------------

_STOP = stopword_sql_list()

# all_toks includes stop words (doc length semantics); terms excludes them
_TOK_CTE = f"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-zA-Z-_]+'),
                     t -> length(t) >= 2) AS all_toks
  FROM documents
),
terms AS (
  SELECT doc_id, unnest(list_filter(all_toks, t -> t NOT IN {_STOP})) AS term
  FROM toks
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
dl AS (SELECT doc_id, len(all_toks)::BIGINT AS doc_len FROM toks),
stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(len(all_toks))::BIGINT AS total_tokens,
         avg(len(all_toks)) AS avgdl
  FROM toks
),
dfcf AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1)
"""


def _bm25_sql(terms_sql: str, k: int = 10, extra_filter: str = "TRUE") -> str:
    """BM25 top-k for terms given by a SQL subquery producing (term[, weight])."""
    return f"""
WITH {_TOK_CTE},
qt AS ({terms_sql}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, qt.weight
  FROM tf JOIN qt USING (term)
),
scored AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m
  JOIN dfcf d USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  WHERE {extra_filter}
  GROUP BY m.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT {k}
"""


def _const_terms(terms: list[str], weight: float = 1.0) -> str:
    vals = ", ".join(f"('{t}', {weight})" for t in terms)
    return f"SELECT * FROM (VALUES {vals}) v(term, weight)"


_PHRASE_DOCS_SQL = """
phrase_docs AS (
  SELECT doc_id FROM toks
  WHERE len(list_filter(range(1, len(all_toks)),
        i -> all_toks[i] = '{w1}' AND all_toks[i+1] = '{w2}')) > 0
)
"""


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 keyword search over sf0.001 documents."""
    return _search(spark, "/root/testdata/sf0.001", "merge batch table", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- index core ---
    q["index_stats"] = lambda spark, sf: (
        (lambda ex: spark.createDataFrame(
            [(ex.index.stats.n_docs, ex.index.stats.total_tokens,
              round(ex.index.stats.avgdl, 4))],
            "n_docs long, total_tokens long, avgdl double",
        ))(_executor(spark, sf))
    )
    q["doc_lengths"] = lambda spark, sf: (
        _executor(spark, sf).index.doc_map.select("doc_id", "doc_len")
    )
    q["sha256_invariant"] = lambda spark, sf: (
        _executor(spark, sf).index.doc_map.select("doc_id", "content_sha256")
    )
    q["term_stats_top20"] = lambda spark, sf: (
        _executor(spark, sf).index.term_stats
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .select("term", "df", "cf").limit(20)
    )

    # --- query types (SURVEY §2.4) ---
    # NOTE on entry budget: the driver records the first 50 queries()
    # entries, so redundant-evidence entries moved to pytest-only pins in
    # round 5 (COVERAGE.md "driver-gate budget" section maps each one):
    # keyword_stopword_heavy (tests/test_golden_queries.py stopword-heavy
    # golden), wand_keyword + phrase_wand (keyword_bm25/phrase_bm25 ALREADY
    # serve through the packed WAND/phrase kernels — pinned by
    # tests/test_wand_resume.py + tests/test_packed_only.py oracle parity),
    # spelling_correction (subsumed by spelling_corrected_search + the
    # Damerau-Levenshtein property tests), packed_roundtrip_positions
    # (tests/test_wand_resume.py::test_decode_postings_roundtrip + codec
    # property tests), events_user_totals (tests/test_streaming.py running
    # totals), minhash_signatures (the lsh_candidate_pairs + ngram_jaccard
    # oracles recompute the ENTIRE signature chain — a wrong signature
    # would hash-mismatch both).
    q["keyword_bm25"] = lambda spark, sf: _search(spark, sf, "merge batch table")
    # batched multi-query serving: the whole workload — keyword bags, an
    # exact phrase, AND a Mixed query — in ONE Spark action (one
    # bucket-pruned packed scan of the union of all terms, per-shard
    # per-query kernels, one window for the global per-query top-k) — the
    # queries/sec lever at cluster scale; rank+score identical to calling
    # search() per query (tests/test_batch.py)
    q["batch_search"] = lambda spark, sf: (
        _executor(spark, sf).search_many(
            {
                "q0": "merge batch table",
                "q1": "vector stream",
                "q2": "table value merge",
                "q3": "stream batch value",
                "q4": '"table value"',
                "q5": '"table value" merge',
            },
            k=10,
        ).select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            "doc_id", F.round(F.col("score"), 4).alias("score"),
        )
    )
    q["phrase_bm25"] = lambda spark, sf: _search(spark, sf, '"table value"')
    # one right-associative nested query covers all three boolean ops in a
    # single entry (round-5 driver-gate budget: bool_and/bool_or/bool_not
    # consolidated — COVERAGE.md maps the move): parses to
    # AND(merge, OR(batch, NOT(vector, stream))), serves off the packed
    # per-shard set algebra (wand.boolean_docs), recency-ordered
    q["bool_nested"] = lambda spark, sf: _search_ids(
        spark, sf, "merge AND batch OR vector NOT stream"
    )
    q["prefix_bm25"] = lambda spark, sf: _search(spark, sf, "sc*")
    q["mixed_bm25"] = lambda spark, sf: _search(spark, sf, '"table value" merge')
    q["spelling_corrected_search"] = lambda spark, sf: _search(spark, sf, "mrege")
    # two-pass pseudo-relevance feedback (ref QueryProcessor.java:120-127),
    # feedback terms from the generated snippets of the top-3 docs; oracled:
    # documents.text carries no sentence punctuation, so each snippet is the
    # whole document and the PRF expansion is exactly SQL-expressible (the
    # sentence set-cover itself is pinned by tests/test_snippets_golden.py
    # and the discriminating fixture in tests/test_edge_cases.py)
    q["prf_search"] = lambda spark, sf: _search(spark, sf, "merge batch #3")
    # QL/JM serves off the PACKED index too (wand.ql_topk: per-shard decode,
    # dl from dls_vb, broadcast cf)
    q["ql_jm_keyword"] = lambda spark, sf: (
        (lambda ex: QueryExecutor(
            spark, ex.index, source_df=ex.source_df, scorer="ql",
        ).search("merge value", k=10)
         .select("doc_id", F.round(F.col("score"), 4).alias("score")))(
            _executor(spark, sf)
        )
    )
    # zone-weighted BM25 (text w=1.0, source w=0.5): the FULL search()
    # pipeline on an executor over a two-field index
    q["fielded_bm25"] = lambda spark, sf: (
        _fielded_executor(spark, sf).search(" ".join(_FIELD_TERMS), k=10)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"))
    )
    # the same query through the wand entry point directly (per-field
    # avgdl and zone weight inside block-max WAND) — same oracle
    q["fielded_bm25_packed"] = lambda spark, sf: (
        _wand.wand_topk(spark, _fielded_executor(spark, sf).index, _FIELD_TERMS, k=10)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"))
    )
    # zone weights reach EVERY ranked query type (ref DocumentRanker.java:
    # 138-167 weights phrase/Mixed results by ContentType exactly like
    # keyword): parse -> per-field phrase adjacency -> zone-weighted scoring
    q["fielded_phrase"] = lambda spark, sf: (
        _fielded_executor(spark, sf).search('"table value"', k=10)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"))
    )
    q["fielded_mixed"] = lambda spark, sf: (
        _fielded_executor(spark, sf).search('"table value" merge', k=10)
        .select("doc_id", F.round(F.col("score"), 4).alias("score"))
    )
    q["doc_metadata_topk"] = lambda spark, sf: (
        (lambda ex: ex.search("merge batch table", k=10)
         .join(ex.index.doc_map.select("doc_id", "repo", "path", "lang"), "doc_id")
         .select("doc_id", "repo", "path", "lang"))(_executor(spark, sf))
    )
    q["packed_roundtrip_tf"] = lambda spark, sf: (
        (lambda ex: __import__("awesome_spark_search.wand", fromlist=["x"])
         .decode_postings(ex.index, "merge"))(_executor(spark, sf))
    )
    # snippet_top5: oracled as an integration check — documents.text has no
    # sentence punctuation, so each snippet is exactly trim(text) of the
    # right top-5 doc; the sentence split + greedy set-cover ALGORITHM is
    # pinned by tests/test_snippets_golden.py (multi-sentence goldens)
    # packed_merge_roundtrip: two parity-split half-corpus indexes folded by
    # merge.merge_packed_indexes (NO re-tokenize — packed bytes shuffle once,
    # interleaved groups re-encode, ref InvertedIndexMerger.java:34-112);
    # decoding 'merge' postings off the merged index must equal the
    # full-corpus tokenize — shares packed_roundtrip_tf's oracle
    q["packed_merge_roundtrip"] = lambda spark, sf: _packed_merge_roundtrip(
        spark, sf
    )
    q["snippet_top5"] = lambda spark, sf: _snippet_top5(spark, sf)
    # ndcg_at_10: oracled — closed-form gain/DCG over the BM25 top-10 vs the
    # id-ascending pseudo-gold (ref: src/evaluation/NdcgCalculator.java:22-62)
    q["ndcg_at_10"] = lambda spark, sf: _ndcg_entry(spark, sf)
    # linkto goes through the FULL query pipeline (search("LinkTo:42")) and
    # serves off the PACKED citation index (delta+VByte citing lists, ref:
    # CitationIndexReader.java:61-112 is the reference's serving path) —
    # parse -> packed dst-filter -> decode must reproduce the plain
    # edge-filter oracle exactly
    q["linkto"] = lambda spark, sf: (
        _executor(spark, sf).search("LinkTo:42", k=100).select("doc_id")
    )
    # floor(x*1e6+0.5)/1e6 rounding on BOTH sides: the Spark and DuckDB
    # expression trees sum in different orders, and round() half-tie rules
    # differ between the engines (CLAUDE.md float invariant)
    q["pagerank_top10"] = lambda spark, sf: (
        _pagerank.pagerank(
            spark, _citation_edges(spark, sf), _n_docs(spark, sf), iterations=5
        )
        .select(
            "doc_id",
            (F.floor(F.col("pagerank") * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), F.col("doc_id").asc())
        .limit(10)
    )

    # --- dedup family ---
    # documents has no exact dups; dedup over documents UNION a doc_id-shifted
    # copy so the operator's output is non-trivial (every content x2)
    q["exact_dedup"] = lambda spark, sf: _dedup.exact_duplicates(
        _docs_with_planted_dups(spark, sf)
    )
    q["lsh_candidate_pairs"] = lambda spark, sf: _lsh_pairs(spark, sf)
    q["ngram_jaccard"] = lambda spark, sf: (
        _dedup.ngram_jaccard_pairs(
            _docs(spark, sf), _lsh_pairs(spark, sf)
        ).select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )
    # near-dup CLUSTER resolution: connected components (iterated min-label
    # propagation) over the persisted LSH candidate pairs — one survivor per
    # duplicate component, not per pair (a-b + b-c collapse transitively)
    q["dup_clusters"] = lambda spark, sf: _dedup.dup_clusters(
        _lsh_pairs(spark, sf)
    )
    q["simhash"] = lambda spark, sf: _dedup.simhash(_docs(spark, sf))

    # --- similarity search ---
    q["cosine_topk"] = lambda spark, sf: (
        _similarity.brute_force_topk(
            _emb(spark, sf), _query_vec(spark, sf), k=10
        ).select("vec_id", F.round("cosine", 4).alias("cosine"))
    )
    # int8-quantized cosine top-k: the 4x-storage ANN path — scales cancel
    # out of the score, so ranking runs on integer dots/norms; the oracle
    # re-derives the identical floor(x/s+0.5) quantization in SQL
    q["cosine_topk_int8"] = lambda spark, sf: (
        _similarity.quantized_topk(
            _similarity.quantize_embeddings(_emb(spark, sf)),
            _query_vec(spark, sf), k=10,
        ).select("vec_id", F.round("cosine", 4).alias("cosine"))
    )
    # centroid-blocked (IVF) pairing — the sub-quadratic scale path IS the
    # value-checked path; the all-pairs form is a test-only baseline
    # (tests/test_similarity.py)
    q["embedding_near_dup"] = lambda spark, sf: (
        _similarity.embedding_near_dup_pairs(
            _emb(spark, sf), threshold=0.45, centroids=_centroids(spark, sf)
        )
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )
    q["ivf_topk"] = lambda spark, sf: (
        _similarity.ivf_topk(
            _emb(spark, sf), _centroids(spark, sf), _query_vec(spark, sf),
            k=10, nprobe=2,
        ).select("vec_id", F.round("cosine", 4).alias("cosine"))
    )
    # the two ANN scale levers COMPOSED (promoted from pytest-only in round
    # 5): IVF cluster pruning (scan nprobe/nlist of the corpus) over the
    # int8-quantized store (4x fewer bytes per scanned row) — the oracle
    # re-derives cluster assignment, probe shortlist, AND the
    # floor(x/s+0.5) quantization in SQL
    q["ivf_topk_int8"] = lambda spark, sf: (
        _similarity.ivf_topk_quantized(
            _emb(spark, sf), _centroids(spark, sf), _query_vec(spark, sf),
            k=10, nprobe=2,
        ).select("vec_id", F.round("cosine", 4).alias("cosine"))
    )
    # k-means centroid TRAINING for the IVF build (VERDICT r4 #3): 3
    # deterministic Lloyd iterations (init = 8 lowest-id vectors, cosine
    # assignment with lowest-id tie-break, centroids re-quantized to the
    # 1e-6 grid after every update so both engines iterate from
    # bit-identical values); output = assignments under the final centroids
    q["kmeans_centroids"] = lambda spark, sf: (
        _similarity.kmeans_fit(spark, _emb(spark, sf), k=8, iterations=3)[1]
        .select("vec_id", F.col("cluster").cast("long").alias("cluster"))
    )

    # --- deterministic sampling (training-data pipeline ops) ---
    q["train_test_split"] = lambda spark, sf: (
        (lambda s: s.train_test_split(_docs(spark, sf), test_frac=0.1)
         .select("doc_id", "split"))(
            __import__("awesome_spark_search.sampling", fromlist=["x"])
        )
    )
    q["stratified_sample"] = lambda spark, sf: (
        (lambda s: s.stratified_sample(
            _docs(spark, sf), "lang", {"en": 0.5, "es": 1.0}, default_frac=0.25
        ).select("doc_id", "lang"))(
            __import__("awesome_spark_search.sampling", fromlist=["x"])
        )
    )

    # --- text analysis ---
    q["lang_id"] = lambda spark, sf: _textstats.lang_id(_docs(spark, sf))
    q["quality_score"] = lambda spark, sf: _textstats.quality_score(_docs(spark, sf))
    q["token_counts"] = lambda spark, sf: _textstats.token_counts(_docs(spark, sf))
    q["fingerprint"] = lambda spark, sf: _textstats.fingerprint(_docs(spark, sf))
    # Gopher-style repetition signals (dup-token / top-token / dup-bigram
    # ratios) — the boilerplate filter of a training-data curation pipeline
    q["repetition"] = lambda spark, sf: _textstats.repetition_stats(
        _docs(spark, sf)
    )
    # PII scrubbing over documents with deterministically planted PII
    # (email -> phone -> ip replacement order is part of the contract)
    q["pii_redaction"] = lambda spark, sf: _textstats.redact_pii(_pii_docs(spark, sf))
    # benchmark decontamination: docs with doc_id % 97 == 0 stand in for the
    # eval set; score = fraction of a doc's distinct shingles leaked into it
    q["contamination"] = lambda spark, sf: _dedup.contamination_scores(
        _docs(spark, sf), _docs(spark, sf).filter(F.col("doc_id") % 97 == 0)
    )

    # --- events (streaming-shaped batch ops; same plans run under
    # readStream + watermark, see awesome_spark_search/streaming.py) ---
    q["events_tumbling"] = lambda spark, sf: (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(
            F.date_format(F.window("ts", "5 minutes").start, "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    q["events_sliding"] = lambda spark, sf: (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(
            F.date_format(
                F.window("ts", "10 minutes", "5 minutes").start, "yyyy-MM-dd HH:mm:ss"
            ).alias("w_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    q["events_session"] = lambda spark, sf: (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
            "user_id", "n", "sum_value",
        )
    )
    # REAL stdlib container parsing (PNG IHDR / WAV fmt+data chunk walk) over
    # deterministic generated payloads. HASH-VERIFIED: synth_probe_media's
    # construction is closed-form in the row index, so the oracle recomputes
    # the expected metadata directly — if the byte-level parser misread any
    # chunk, the values would diverge. (Numeric columns cast to double on
    # both sides: NULLable ints round-trip as NaN floats.)
    q["media_probe"] = lambda spark, sf: (
        (lambda mm: mm.probe_media(mm.synth_probe_media(spark, 24))
         .select(
             "media_id", "container",
             F.col("width").cast("double").alias("width"),
             F.col("height").cast("double").alias("height"),
             F.col("channels").cast("double").alias("channels"),
             F.col("sample_rate").cast("double").alias("sample_rate"),
             F.col("duration_ms").cast("double").alias("duration_ms"),
         ))(
            __import__("awesome_spark_search.multimodal", fromlist=["x"])
        )
    )

    # REAL WAV PCM resample (decode_wav chunk walk + linear interp) over the
    # same closed-form fixture. All WAV rows have rate 16000 (i%3==1 makes
    # 8000*(1+i%3) = 16000), so the 8000 Hz target is an exact 2:1
    # decimation: n_samples = 50*(i+1), and the constant-256 PCM signal
    # (make_wav's \x00\x01 frames) keeps rms = 256 exactly. HASH-VERIFIED:
    # a misread chunk, channel mix, or interp error would shift the values.
    q["media_resample"] = lambda spark, sf: (
        (lambda mm: mm.resample_audio(
            mm.synth_probe_media(spark, 24), sample_rate=8000,
            decoder=mm.wav_resample_kernel)
         .select(
             "media_id",
             F.col("sample_rate").cast("double").alias("sample_rate"),
             F.col("n_samples").cast("double").alias("n_samples"),
             F.round(F.col("rms").cast("double"), 4).alias("rms"),
         ))(
            __import__("awesome_spark_search.multimodal", fromlist=["x"])
        )
    )

    # multimodal kernel plumbing in ONE rows-only entry (LAST by design —
    # the only entry without a value oracle; the three kernels it folds
    # were separate entries through round 4 and are still individually
    # contract-tested in tests/test_multimodal.py): feature extraction,
    # image resize (stub-by-default decoder; the REAL PNG decoder is
    # golden-tested), and frame sampling over synthetic binary payloads.
    q["media_kernels"] = lambda spark, sf: _media_kernels(spark)

    return q


def _media_kernels(spark) -> DataFrame:
    import awesome_spark_search.multimodal as mm

    m = mm.synth_media(spark, 64)
    feat = mm.extract_features(m).select("media_id", "payload_sha256", "n_bytes")
    rz = mm.resize_images(m, 16, 16).select(
        "media_id", "width", "height",
        F.col("payload_sha256").alias("resized_sha256"),
    )
    fr = mm.sample_frames(m).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    )
    # left joins: resize emits only image rows, frame sampling only video —
    # every synthesized media row stays present with NULLs elsewhere
    return feat.join(rz, "media_id", "left").join(fr, "media_id", "left")


_FIELD_WEIGHTS = {"text": 1.0, "source": 0.5}
_FIELD_TERMS = ["merge", "batch", "src"]

_FIELDED_EX: dict[str, QueryExecutor] = {}


def _fielded_executor(spark, sf) -> QueryExecutor:
    """One two-field index per sf per process (text w=1.0, source w=0.5),
    wrapped in a QueryExecutor: EVERY ranked query type — keyword, phrase,
    Mixed, PRF — then ranks zone-weighted end-to-end, mirroring the
    reference's always-zoned DocumentRanker (ref: DocumentRanker.java:
    138-167)."""
    key = sf.rstrip("/")
    if key not in _FIELDED_EX:
        docs = _docs(spark, key).select("doc_id", "text", "source")
        _FIELDED_EX[key] = QueryExecutor(
            spark,
            build_index(spark, docs, do_stem=False, field_weights=_FIELD_WEIGHTS),
            source_df=_executor(spark, key).source_df,
        )
    return _FIELDED_EX[key]


def _packed_merge_roundtrip(spark, sf) -> DataFrame:
    """Build two indexes over the doc_id-parity halves of the corpus (every
    doc_shard holds rows from BOTH — the full decode+re-encode merge path),
    fold them with merge_packed_indexes, and round-trip one term's postings
    off the merged packed table."""
    from awesome_spark_search.merge import merge_packed_indexes
    from awesome_spark_search.wand import decode_postings

    src = _corpus.from_documents_table(spark, sf.rstrip("/")).repartition(
        8, "doc_id"
    )
    halves = [
        build_index(spark, src.filter(f"doc_id % 2 = {i}"), do_stem=False)
        for i in (0, 1)
    ]
    merged = merge_packed_indexes(spark, halves)
    return decode_postings(merged, "merge")


def _docs_with_planted_dups(spark, sf) -> DataFrame:
    # Offset clones by count(*) without a driver-side action: the count rides
    # as a broadcast 1-row aggregate (same shape as pagerank's dangling-mass
    # join), so the whole entry stays ONE Spark action.
    docs = _docs(spark, sf).select("doc_id", "text")
    n_df = docs.agg(F.count(F.lit(1)).alias("_n"))
    return docs.unionByName(
        docs.crossJoin(F.broadcast(n_df)).select(
            (F.col("doc_id") + F.col("_n")).alias("doc_id"), "text"
        )
    )


def _snippet_top5(spark, sf) -> DataFrame:
    from awesome_spark_search.snippets import generate_snippet

    ex = _executor(spark, sf)
    top = ex.search("merge batch", k=5).collect()
    contents = {
        r["doc_id"]: r["content"]
        for r in ex.source_df.join(
            spark.createDataFrame([(r["doc_id"],) for r in top], "doc_id long"),
            "doc_id",
        ).select("doc_id", "content").collect()
    }
    rows = [
        (r["doc_id"], generate_snippet(contents.get(r["doc_id"], ""), ["merge", "batch"], do_stem=False))
        for r in top
    ]
    return spark.createDataFrame(rows, "doc_id long, snippet string")


def _ndcg_entry(spark, sf) -> DataFrame:
    import math

    from awesome_spark_search.snippets import ndcg

    ex = _executor(spark, sf)
    results = [r["doc_id"] for r in ex.search("merge batch table", k=10).collect()]
    gold = sorted(results)  # deterministic pseudo-gold: id-ascending ideal
    # floor(x*1e6+0.5)/1e6 on BOTH sides (round() half-ties differ by engine)
    v = math.floor(ndcg(gold, results, 10) * 1e6 + 0.5) / 1e6
    return spark.createDataFrame([(v,)], "ndcg double")


def _query_vec(spark, sf) -> list[float]:
    row = _emb(spark, sf).filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    return [float(x) for x in row["embedding"]]


def _centroids(spark, sf) -> list[list[float]]:
    rows = (
        _emb(spark, sf).filter(F.col("vec_id") < 10).orderBy("vec_id")
        .select("embedding").collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


# ---------------------------------------------------------------------------
# oracle_sql()
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["index_stats"] = f"""
WITH {_TOK_CTE}
SELECT n_docs, total_tokens, round(avgdl, 4) AS avgdl FROM stats
"""
    o["doc_lengths"] = f"""
WITH {_TOK_CTE}
SELECT doc_id, doc_len FROM dl
"""
    o["sha256_invariant"] = """
SELECT doc_id, sha256(text) AS content_sha256 FROM documents
"""
    o["term_stats_top20"] = f"""
WITH {_TOK_CTE}
SELECT term, df, cf FROM dfcf ORDER BY df DESC, term ASC LIMIT 20
"""

    o["keyword_bm25"] = _bm25_sql(_const_terms(["merge", "batch", "table"]))
    phrase_cte = _PHRASE_DOCS_SQL.format(w1="table", w2="value")
    o["phrase_bm25"] = f"""
WITH {_TOK_CTE},
{phrase_cte},
qt AS ({_const_terms(["table", "value"])}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, qt.weight
  FROM tf JOIN qt USING (term)
  WHERE tf.doc_id IN (SELECT doc_id FROM phrase_docs)
),
scored AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
)
SELECT doc_id, round(raw, 4) AS score FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""
    # right-associative parse: AND(merge, OR(batch, NOT(vector, stream)))
    o["bool_nested"] = f"""
WITH {_TOK_CTE}
SELECT doc_id FROM tf WHERE term = 'merge'
INTERSECT
(SELECT doc_id FROM tf WHERE term = 'batch'
 UNION
 (SELECT doc_id FROM tf WHERE term = 'vector'
  EXCEPT
  SELECT doc_id FROM tf WHERE term = 'stream'))
ORDER BY doc_id DESC LIMIT 10
"""
    _batch_vals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in [
            ("q0", ["merge", "batch", "table"]),
            ("q1", ["vector", "stream"]),
            ("q2", ["table", "value", "merge"]),
            ("q3", ["stream", "batch", "value"]),
        ]
        for t in terms
    )
    o["batch_search"] = f"""
WITH {_TOK_CTE},
{_PHRASE_DOCS_SQL.format(w1="table", w2="value")},
qts AS (SELECT * FROM (VALUES {_batch_vals}) v(query_id, term)),
matched AS (
  SELECT q.query_id, tf.doc_id, tf.term, tf.tf
  FROM tf JOIN qts q ON tf.term = q.term
  UNION ALL
  SELECT 'q4', tf.doc_id, tf.term, tf.tf
  FROM tf WHERE term IN ('table', 'value')
    AND tf.doc_id IN (SELECT doc_id FROM phrase_docs)
  UNION ALL
  SELECT 'q5', tf.doc_id, tf.term, tf.tf
  FROM tf WHERE term IN ('table', 'value')
    AND tf.doc_id IN (SELECT doc_id FROM phrase_docs)
  UNION ALL
  SELECT 'q5', tf.doc_id, tf.term, tf.tf FROM tf WHERE term = 'merge'
),
scored AS (
  SELECT m.query_id, m.doc_id,
         sum(ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw DESC, doc_id ASC) AS "rank"
  FROM scored
)
SELECT query_id, "rank", doc_id, score FROM ranked WHERE "rank" <= 10
ORDER BY query_id, "rank"
"""
    o["prefix_bm25"] = _bm25_sql(
        "SELECT DISTINCT term, 1.0 AS weight FROM dfcf WHERE term LIKE 'sc%'"
    )
    o["mixed_bm25"] = f"""
WITH {_TOK_CTE},
{phrase_cte},
ph AS (
  SELECT tf.doc_id, tf.term, tf.tf
  FROM tf WHERE term IN ('table', 'value')
    AND tf.doc_id IN (SELECT doc_id FROM phrase_docs)
),
kw AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf WHERE term = 'merge'),
matched AS (SELECT * FROM ph UNION ALL SELECT * FROM kw),
scored AS (
  SELECT m.doc_id,
         sum(ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
)
SELECT doc_id, round(raw, 4) AS score FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""
    o["spelling_corrected_search"] = _bm25_sql(_const_terms(["merge"]))
    # PRF: pass 1 = BM25 top-3 for (merge, batch); snippets == whole docs on
    # this corpus (no sentence punctuation in documents.text); expansion = 10
    # most frequent non-query tokens of those docs (tie: term ASC) at weight
    # 0.25; pass 2 = weighted BM25 over base+expansion
    o["prf_search"] = f"""
WITH {_TOK_CTE},
qt0 AS ({_const_terms(["merge", "batch"])}),
m0 AS (
  SELECT tf.doc_id, tf.term, tf.tf, q.weight FROM tf JOIN qt0 q USING (term)
),
s0 AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM m0 m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
),
top3 AS (SELECT doc_id FROM s0 ORDER BY raw DESC, doc_id ASC LIMIT 3),
prf_counts AS (
  SELECT t.term, count(*)::BIGINT AS c
  FROM terms t JOIN top3 USING (doc_id)
  WHERE t.term NOT IN ('merge', 'batch')
  GROUP BY 1
),
prf AS (SELECT term, 0.25 AS weight FROM prf_counts ORDER BY c DESC, term ASC LIMIT 10),
qt AS (SELECT term, weight FROM qt0 UNION ALL SELECT term, weight FROM prf),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, q.weight FROM tf JOIN qt q USING (term)
),
scored AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""
    o["ql_jm_keyword"] = f"""
WITH {_TOK_CTE},
qt AS ({_const_terms(["merge", "value"])}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN qt USING (term)
),
scored AS (
  SELECT m.doc_id,
         sum(ln(0.8 * m.tf / greatest(dl.doc_len, 1)
                + 0.2 * d.cf / s.total_tokens)) AS raw
  FROM matched m
  JOIN dfcf d USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY m.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""
    o["packed_roundtrip_tf"] = f"""
WITH {_TOK_CTE}
SELECT doc_id, tf::INT AS tf FROM tf WHERE term = 'merge'
"""
    # the merged-index round-trip must reproduce the full-corpus tokenize
    # bit-for-bit — one oracle shared with the single-index round-trip
    o["packed_merge_roundtrip"] = o["packed_roundtrip_tf"]
    # shared fielded tokenization CTE (text w=1.0, source w=0.5) — reused by
    # every fielded oracle; per-query CTEs (fdf, phrase restriction, scored)
    # compose on top
    fielded_cte = f"""ftoks AS (
  SELECT doc_id, 'text' AS field,
         list_filter(regexp_extract_all(lower(text), '[a-zA-Z-_]+'),
                     t -> length(t) >= 2) AS all_toks
  FROM documents
  UNION ALL
  SELECT doc_id, 'source' AS field,
         list_filter(regexp_extract_all(lower(source), '[a-zA-Z-_]+'),
                     t -> length(t) >= 2) AS all_toks
  FROM documents
),
fterms AS (
  SELECT doc_id, field,
         unnest(list_filter(all_toks, t -> t NOT IN {_STOP})) AS term
  FROM ftoks
),
ftf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM fterms GROUP BY 1, 2, 3),
fdl AS (SELECT doc_id, field, len(all_toks)::BIGINT AS doc_len FROM ftoks),
favg AS (SELECT field, avg(doc_len) AS avgdl FROM fdl GROUP BY 1),
fn AS (SELECT count(*)::BIGINT AS n_docs FROM documents)"""
    # zone-weighted BM25 rollup over a `matched`(doc_id, field, term, tf)
    # CTE; fdf (global df: docs holding the term in ANY field) composes per
    # query
    _fielded_score = """
scored AS (
  SELECT m.doc_id,
         sum((CASE m.field WHEN 'text' THEN 1.0 ELSE 0.5 END)
             * ln((n.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * l.doc_len / a.avgdl))) AS raw
  FROM matched m
  JOIN fdf d USING (term)
  JOIN fdl l ON l.doc_id = m.doc_id AND l.field = m.field
  JOIN favg a ON a.field = m.field
  CROSS JOIN fn n
  GROUP BY m.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10"""

    def _fdf(terms: list[str]) -> str:
        in_list = ", ".join(f"'{t}'" for t in terms)
        return f"""fdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM ftf
  WHERE term IN ({in_list}) GROUP BY 1
)"""

    o["fielded_bm25"] = f"""
WITH {fielded_cte},
{_fdf(_FIELD_TERMS)},
matched AS (
  SELECT doc_id, field, term, tf FROM ftf
  WHERE term IN ('merge', 'batch', 'src')
),
{_fielded_score}
"""
    # the executor and the direct wand entry serve the same query — one
    # oracle
    o["fielded_bm25_packed"] = o["fielded_bm25"]
    # fielded PHRASE: the phrase must occur within a single zone (positions
    # never chain across field boundaries) and only phrase-holding
    # (doc, field) pairs contribute — the per-field analog of phrase_bm25
    fphrase_cte = """fphrase AS (
  SELECT doc_id, field FROM ftoks
  WHERE len(list_filter(range(1, len(all_toks)),
        i -> all_toks[i] = 'table' AND all_toks[i+1] = 'value')) > 0
)"""
    o["fielded_phrase"] = f"""
WITH {fielded_cte},
{fphrase_cte},
{_fdf(["table", "value"])},
matched AS (
  SELECT m.doc_id, m.field, m.term, m.tf FROM ftf m
  JOIN fphrase p ON p.doc_id = m.doc_id AND p.field = m.field
  WHERE m.term IN ('table', 'value')
),
{_fielded_score}
"""
    # fielded MIXED: phrase part restricted to phrase-holding (doc, field)
    # pairs UNION ALL the keyword term over every field (a doc holding both
    # sums both contributions, like the unfielded mixed plan)
    o["fielded_mixed"] = f"""
WITH {fielded_cte},
{fphrase_cte},
{_fdf(["table", "value", "merge"])},
matched AS (
  SELECT m.doc_id, m.field, m.term, m.tf FROM ftf m
  JOIN fphrase p ON p.doc_id = m.doc_id AND p.field = m.field
  WHERE m.term IN ('table', 'value')
  UNION ALL
  SELECT doc_id, field, term, tf FROM ftf WHERE term = 'merge'
),
{_fielded_score}
"""
    o["doc_metadata_topk"] = f"""
WITH {_TOK_CTE},
qt AS ({_const_terms(["merge", "batch", "table"])}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, qt.weight FROM tf JOIN qt USING (term)
),
scored AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
),
top AS (SELECT doc_id FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10)
SELECT t.doc_id,
       'corpus/' || d.source AS repo,
       'docs/doc_' || d.doc_id || '.txt' AS path,
       d.lang
FROM top t JOIN documents d USING (doc_id)
"""
    o["snippet_top5"] = f"""
WITH {_TOK_CTE},
qt AS ({_const_terms(["merge", "batch"])}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, qt.weight FROM tf JOIN qt USING (term)
),
scored AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
),
top5 AS (SELECT doc_id FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 5)
SELECT t.doc_id, trim(d.text) AS snippet
FROM top5 t JOIN documents d USING (doc_id)
"""
    # NDCG@10 closed-form: gain(r) = 1 + floor(10 * 0.5^(0.1 r));
    # DCG = g1 + sum_{i>=2} g_i/log2(i); gold = result ids ascending
    o["ndcg_at_10"] = f"""
WITH {_TOK_CTE},
qt AS ({_const_terms(["merge", "batch", "table"])}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, qt.weight FROM tf JOIN qt USING (term)
),
scored AS (
  SELECT m.doc_id,
         sum(m.weight * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
             * m.tf / (m.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / s.avgdl))) AS raw
  FROM matched m JOIN dfcf d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY m.doc_id
),
res AS (
  SELECT doc_id, row_number() OVER (ORDER BY raw DESC, doc_id ASC) AS i
  FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
),
gold AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id ASC) AS g FROM res),
gains AS (
  SELECT r.i, 1 + floor(10 * power(0.5, 0.1 * g.g)) AS gain
  FROM res r JOIN gold g USING (doc_id)
),
dcg AS (
  SELECT sum(CASE WHEN i = 1 THEN gain ELSE gain / log2(i) END) AS v FROM gains
),
idcg AS (
  SELECT sum(CASE WHEN g = 1 THEN gain ELSE gain / log2(g) END) AS v
  FROM (SELECT g, 1 + floor(10 * power(0.5, 0.1 * g)) AS gain FROM gold)
)
SELECT floor((dcg.v / idcg.v) * 1e6 + 0.5) / 1e6 AS ndcg FROM dcg, idcg
"""
    # LIMIT 100 matches the Spark side's search(..., k=100): both sides
    # truncate identically under the same recency order, so the entry stays
    # green even at a scale factor where the target's citation fan-in
    # exceeds k (ADVICE r4)
    o["linkto"] = """
WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id * 7 + 13) % n.n AS dst FROM documents, n
  UNION
  SELECT doc_id AS src, (doc_id * 3 + 101) % n.n AS dst FROM documents, n
)
SELECT src AS doc_id FROM e WHERE dst = 42 AND src != dst
ORDER BY doc_id DESC LIMIT 100
"""
    # pagerank_top10: power iteration (damping 0.85, dangling mass folded
    # back uniformly — ref: src/querying/ranking/PageRankCalculator.java:53-82)
    # unrolled as 5 DuckDB CTE iterations over the same synthetic edge set
    pr_iters = []
    for k in range(1, 6):
        p = k - 1
        pr_iters.append(f"""
d{k} AS (
  SELECT coalesce(sum(r.rank), 0) AS dang
  FROM r{p} r LEFT JOIN deg ON deg.src = r.id WHERE deg.src IS NULL
),
i{k} AS (
  SELECT e.dst, sum(r.rank / deg.out_deg) AS inflow
  FROM e JOIN r{p} r ON r.id = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r{k} AS (
  SELECT nodes.id,
         (1 - 0.85) / nn.n + 0.85 * (coalesce(i.inflow, 0) + d.dang / nn.n) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d{k} d
  LEFT JOIN i{k} i ON i.dst = nodes.id
)""")
    o["pagerank_top10"] = f"""
WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
cnt AS (SELECT count(*)::BIGINT AS n FROM documents),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id::BIGINT AS src, (doc_id * 7 + 13) % cnt.n AS dst FROM documents, cnt
    UNION ALL
    SELECT doc_id::BIGINT AS src, (doc_id * 3 + 101) % cnt.n AS dst FROM documents, cnt
  ) WHERE src != dst
),
nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
deg AS (SELECT src, count(*)::DOUBLE AS out_deg FROM e GROUP BY 1),
r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes, nn),
{','.join(pr_iters)}
SELECT id AS doc_id, floor(rank * 1e6 + 0.5) / 1e6 AS pagerank
FROM r5
ORDER BY pagerank DESC, doc_id ASC LIMIT 10
"""

    o["exact_dedup"] = """
WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + n.n, text FROM documents, n
)
SELECT sha256(text) AS content_sha256, count(*)::BIGINT AS dup_count,
       min(doc_id) AS canonical_doc_id
FROM all_docs GROUP BY 1 HAVING count(*) > 1
"""
    # one parameterized CTE chain for every MinHash-family oracle — the
    # canonical (exact-dup-collapsed) variant feeds the LSH oracles so they
    # mirror the engine's scale guards; the cap interpolates from
    # dedup.MAX_BUCKET_SIZE (single source of truth)
    def _minhash_chain(canonical: bool) -> str:
        pre, src = "", "documents d"
        if canonical:
            pre = ("canon AS (SELECT min(doc_id) AS doc_id FROM documents "
                   "GROUP BY sha256(text)),\n")
            src = "documents d JOIN canon USING (doc_id)"
        return pre + f"""dtoks AS (
  SELECT d.doc_id,
         list_filter(regexp_extract_all(lower(d.text), '[a-z-_]+'),
                     t -> length(t) >= 2) AS l
  FROM {src}
),
shingle AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(l[i:i+2], ' ')), 1, 8))::BIGINT AS shingle_hash
  FROM dtoks, unnest(range(1, len(l) - 1)) AS t(i)
  WHERE len(l) >= 3
),
perms AS (SELECT unnest(range(0, 8)) AS p),
hashed AS (
  SELECT s.doc_id, p.p,
         (((1103515245 * (p.p + 1) + 12345) % 2147483647) * s.shingle_hash
          + ((69069 * (p.p + 1) + 1) % 2147483647)) % 4294967291 AS h
  FROM shingle s CROSS JOIN perms p
),
sig AS (
  SELECT doc_id, p, min(h) AS m FROM hashed GROUP BY 1, 2
)"""

    bands_cte = _minhash_chain(True) + f""",
bands AS (
  SELECT doc_id, (p // 2) AS band,
         md5(array_to_string(list(m ORDER BY p), ',')) AS bucket
  FROM sig GROUP BY doc_id, (p // 2)
),
bsize AS (SELECT band, bucket, count(*) AS c FROM bands GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  JOIN bsize ON bsize.band = l.band AND bsize.bucket = l.bucket
  WHERE bsize.c <= {_dedup.MAX_BUCKET_SIZE}
)"""
    o["lsh_candidate_pairs"] = f"""
WITH {bands_cte}
SELECT doc_a, doc_b FROM pairs
"""
    o["ngram_jaccard"] = f"""
WITH {bands_cte},
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM shingle GROUP BY 1),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS i
  FROM pairs p
  JOIN shingle sa ON sa.doc_id = p.doc_a
  JOIN shingle sb ON sb.doc_id = p.doc_b AND sb.shingle_hash = sa.shingle_hash
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.i / (za.n_sh + zb.n_sh - i.i), 4) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
"""
    # dup_clusters: connected components as a recursive CTE over the SAME
    # banded-LSH pair set — pins transitivity (reach computes every label a
    # node can see; min per node = the component's min id)
    o["dup_clusters"] = f"""
WITH RECURSIVE {bands_cte},
uedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, lbl) AS (
  SELECT src, src FROM uedges
  UNION
  SELECT e.src, r.lbl FROM uedges e JOIN reach r ON r.doc_id = e.dst
)
SELECT doc_id, min(lbl) AS cluster_id, (doc_id = min(lbl)) AS is_survivor
FROM reach GROUP BY doc_id
"""
    o["simhash"] = """
WITH dtoks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z-_]+'),
                     t -> length(t) >= 2) AS l
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(l) AS term FROM dtoks) GROUP BY 1, 2
),
th AS (
  SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 8))::BIGINT AS h FROM tf
),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM th, (SELECT unnest(range(0, 32)) AS bit) b
  GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""

    cos_expr = (
        "list_cosine_similarity(e.embedding::DOUBLE[], "
        "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0))"
    )
    o["cosine_topk"] = f"""
SELECT vec_id, round({cos_expr}, 4) AS cosine
FROM embeddings e
ORDER BY {cos_expr} DESC, vec_id ASC LIMIT 10
"""
    # int8 quantization replica: same floor(x/s+0.5) clamp formula on both
    # sides; dots/norms are exact small-int sums in double, so the score is
    # bit-deterministic across engines
    _quant = (
        "CASE WHEN s = 0 THEN list_transform(v, x -> 0.0) ELSE "
        "list_transform(v, x -> greatest(-127.0, least(127.0, "
        "floor(x / s + 0.5)))) END"
    )
    o["cosine_topk_int8"] = f"""
WITH ev AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
  FROM embeddings
),
eq AS (SELECT vec_id, {_quant} AS q FROM ev),
qq AS (SELECT q AS qv FROM eq WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CASE WHEN sqrt(list_dot_product(e.q, e.q))
                   * sqrt(list_dot_product(qq.qv, qq.qv)) = 0 THEN 0.0
              ELSE list_dot_product(e.q, qq.qv)
                   / (sqrt(list_dot_product(e.q, e.q))
                      * sqrt(list_dot_product(qq.qv, qq.qv)))
         END AS c
  FROM eq e CROSS JOIN qq
)
SELECT vec_id, round(c, 4) AS cosine
FROM scored ORDER BY c DESC, vec_id ASC LIMIT 10
"""
    # cluster-blocked: pairs form only within a centroid cell (mirrors the
    # Spark IVF blocking; assignment tie-break = lowest centroid id)
    o["embedding_near_dup"] = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 10
),
assign AS (
  SELECT e.vec_id,
         (SELECT cid FROM cents
          ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c) DESC, cid ASC
          LIMIT 1) AS cluster
  FROM embeddings e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a
JOIN assign aa ON aa.vec_id = a.vec_id
JOIN embeddings b ON a.vec_id < b.vec_id
JOIN assign ab ON ab.vec_id = b.vec_id AND ab.cluster = aa.cluster
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
"""
    o["ivf_topk"] = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 10
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
assign AS (
  SELECT e.vec_id,
         (SELECT cid FROM cents
          ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c) DESC, cid ASC
          LIMIT 1) AS cluster
  FROM embeddings e
),
probe AS (
  SELECT cid FROM cents, q
  ORDER BY list_cosine_similarity(c, qv) DESC, cid ASC LIMIT 2
)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cosine
FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id CROSS JOIN q
WHERE a.cluster IN (SELECT cid FROM probe)
ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id ASC
LIMIT 10
"""

    # IVF x int8 composed: cluster assignment + probe shortlist off the
    # FLOAT vectors (exactly like ivf_topk), rerank over the quantized
    # store (exactly like cosine_topk_int8) — quantization is per-vector,
    # so pruning before or after it is identical
    o["ivf_topk_int8"] = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 10
),
qf AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
assign AS (
  SELECT e.vec_id,
         (SELECT cid FROM cents
          ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c) DESC, cid ASC
          LIMIT 1) AS cluster
  FROM embeddings e
),
probe AS (
  SELECT cid FROM cents, qf
  ORDER BY list_cosine_similarity(c, qv) DESC, cid ASC LIMIT 2
),
ev AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
  FROM embeddings
),
eq AS (SELECT vec_id, {_quant} AS q FROM ev),
qq AS (SELECT q AS qv8 FROM eq WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CASE WHEN sqrt(list_dot_product(e.q, e.q))
                   * sqrt(list_dot_product(qq.qv8, qq.qv8)) = 0 THEN 0.0
              ELSE list_dot_product(e.q, qq.qv8)
                   / (sqrt(list_dot_product(e.q, e.q))
                      * sqrt(list_dot_product(qq.qv8, qq.qv8)))
         END AS c
  FROM eq e CROSS JOIN qq
  WHERE e.vec_id IN (
    SELECT a.vec_id FROM assign a
    WHERE a.cluster IN (SELECT cid FROM probe))
)
SELECT vec_id, round(c, 4) AS cosine
FROM scored ORDER BY c DESC, vec_id ASC LIMIT 10
"""

    # kmeans_centroids: the 3 Lloyd iterations unrolled as CTEs (same
    # convention as pagerank_top10's unrolled power iteration); every
    # centroid component floors to the 1e-6 grid after each mean, so both
    # engines' iteration trajectories are bit-identical and the final
    # assignment (cosine argmax, lowest-cid tie-break) is deterministic
    km_iters = []
    for t in range(1, 4):
        p = t - 1
        km_iters.append(f"""
a{t} AS (
  SELECT e.vec_id,
         (SELECT cid FROM c{p}
          ORDER BY list_cosine_similarity(e.v, c{p}.c) DESC, cid ASC
          LIMIT 1) AS cluster
  FROM e
),
m{t} AS (
  SELECT a.cluster AS cid, r.i AS i,
         floor(avg(e.v[r.i]) * 1e6 + 0.5) / 1e6 AS x
  FROM e JOIN a{t} a USING (vec_id), unnest(range(1, len(e.v) + 1)) AS r(i)
  GROUP BY 1, 2
),
c{t} AS (
  SELECT cid, list(x ORDER BY i) AS c FROM m{t} GROUP BY cid
  UNION ALL
  SELECT cid, c FROM c{p}
  WHERE cid NOT IN (SELECT DISTINCT cluster FROM a{t})
)""")
    o["kmeans_centroids"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (
  SELECT vec_id AS cid, list_transform(v, x -> floor(x * 1e6 + 0.5) / 1e6) AS c
  FROM e WHERE vec_id < 8
),
{','.join(km_iters)}
SELECT e.vec_id,
       (SELECT cid FROM c3
        ORDER BY list_cosine_similarity(e.v, c3.c) DESC, cid ASC
        LIMIT 1) AS cluster
FROM e
"""

    markers = {
        "en": ["the", "of", "and", "is", "to", "in"],
        "es": ["el", "la", "de", "que", "los", "es"],
        "fr": ["le", "la", "les", "des", "est", "une"],
        "de": ["der", "die", "das", "und", "ist", "ein"],
    }
    lang_cases = []
    for lang in sorted(markers):
        ws = ", ".join(f"'{w}'" for w in markers[lang])
        lang_cases.append(
            f"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), t -> t IN ({ws}))) AS hits_{lang}"
        )
    o["lang_id"] = f"""
WITH h AS (SELECT doc_id, {', '.join(lang_cases)} FROM documents),
best AS (
  SELECT doc_id,
         greatest(hits_de, hits_en, hits_es, hits_fr) AS mx,
         CASE
           WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
           WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
           WHEN hits_es >= hits_fr THEN 'es'
           ELSE 'fr' END AS lang
  FROM h
)
SELECT doc_id, CASE WHEN mx > 0 THEN lang ELSE 'und' END AS pred_lang FROM best
"""
    stop = _STOP
    o["quality_score"] = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(lower(text), '[a-z-_]+'),
                     t -> length(t) >= 2) AS l
  FROM documents
),
m AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len(l)::BIGINT AS n_tokens,
         CASE WHEN len(l) > 0
              THEN len(list_filter(l, x -> x IN {stop}))::DOUBLE / len(l)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(l) > 0
              THEN list_sum(list_transform(l, x -> length(x)))::DOUBLE / len(l)
              ELSE 0.0 END AS mean_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
       round(stop_ratio, 6) AS stopword_ratio,
       round(mean_len, 6) AS mean_token_len,
       floor((0.4 * least(n_chars / 500.0, 1.0)
            + 0.3 * least(stop_ratio * 5, 1.0)
            + 0.3 * (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END)) * 1e6 + 0.5) / 1e6 AS quality
FROM m
"""
    o["token_counts"] = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) > 0
            THEN len(regexp_extract_all(trim(text), '\S+'))::BIGINT ELSE 0 END AS ws_tokens,
       (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')))::BIGINT AS bpe_ish_tokens,
       length(text)::BIGINT AS chars
FROM documents
"""
    o["fingerprint"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z-_]+'),
                     t -> length(t) >= 2) AS l
  FROM documents
)
SELECT doc_id,
       md5(array_to_string(l, ' ')) AS fp_norm,
       md5(array_to_string(l[1:16], ' ')) AS fp_prefix
FROM t
"""
    o["repetition"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z-_]+'),
                     t -> length(t) >= 2) AS l
  FROM documents
),
base AS (
  SELECT doc_id, l, len(l)::BIGINT AS n, len(list_distinct(l))::BIGINT AS nd
  FROM t
),
freq AS (
  SELECT doc_id, max(c) AS top FROM (
    SELECT doc_id, count(*) AS c
    FROM t, unnest(l) AS u(tok) GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
g2 AS (
  SELECT t.doc_id, count(*)::BIGINT AS n2,
         count(DISTINCT (l[i] || ' ' || l[i + 1]))::BIGINT AS nd2
  FROM t, unnest(range(1, len(l))) AS r(i)
  GROUP BY t.doc_id
)
SELECT b.doc_id,
       b.n AS n_tokens,
       floor((CASE WHEN b.n > 0 THEN 1.0 - b.nd / b.n::DOUBLE ELSE 0.0 END)
             * 1e6 + 0.5) / 1e6 AS dup_token_ratio,
       floor((CASE WHEN b.n > 0 THEN coalesce(f.top, 0) / b.n::DOUBLE
              ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS top_token_ratio,
       floor((CASE WHEN coalesce(g.n2, 0) > 0 THEN 1.0 - g.nd2 / g.n2::DOUBLE
              ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS dup_2gram_ratio
FROM base b
LEFT JOIN freq f USING (doc_id)
LEFT JOIN g2 g USING (doc_id)
"""
    # pii_redaction: same planted suffixes as _pii_docs; counts on the
    # original (augmented) text, then email -> phone -> ip replacement in
    # the same order. Patterns interpolate from textstats (single source of
    # truth; written without backslashes/alternation so Java regex and RE2
    # agree). DuckDB regexp_replace needs the 'g' flag (Spark's is global).
    _em, _ph, _ip = _textstats.PII_EMAIL, _textstats.PII_PHONE, _textstats.PII_IPV4
    o["pii_redaction"] = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 0 THEN ' contact alice.smith@example.org now'
           WHEN 1 THEN ' call 555-123-4567 soon'
           WHEN 2 THEN ' host 192.168.0.17 up'
           ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_em}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{_ph}'))::BIGINT AS n_phones,
       len(regexp_extract_all(text, '{_ip}'))::BIGINT AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_em}', '<EMAIL>', 'g'), '{_ph}', '<PHONE>', 'g'),
           '{_ip}', '<IP>', 'g')) AS redacted_md5
FROM aug
"""
    # contamination: same shingle chain as the MinHash oracles (k=3, distinct
    # per doc); benchmark set = doc_id % 97 == 0; ratio uses the
    # floor(x*1e6+0.5)/1e6 convention (CLAUDE.md float invariant)
    o["contamination"] = """
WITH dtoks AS (
  SELECT d.doc_id,
         list_filter(regexp_extract_all(lower(d.text), '[a-z-_]+'),
                     t -> length(t) >= 2) AS l
  FROM documents d
),
shingle AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(l[i:i+2], ' ')), 1, 8))::BIGINT AS shingle_hash
  FROM dtoks, unnest(range(1, len(l) - 1)) AS t(i)
  WHERE len(l) >= 3
),
bench AS (SELECT DISTINCT shingle_hash FROM shingle WHERE doc_id % 97 = 0),
tot AS (SELECT doc_id, count(*)::BIGINT AS c FROM shingle GROUP BY 1),
cont AS (
  SELECT s.doc_id, count(*)::BIGINT AS c
  FROM shingle s JOIN bench b USING (shingle_hash) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(tot.c, 0)::BIGINT AS n_shingles,
       coalesce(cont.c, 0)::BIGINT AS n_contaminated,
       CASE WHEN coalesce(tot.c, 0) > 0
            THEN floor(coalesce(cont.c, 0) / tot.c * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS contamination
FROM documents d
LEFT JOIN tot ON tot.doc_id = d.doc_id
LEFT JOIN cont ON cont.doc_id = d.doc_id
"""
    # media_probe: the fixture (multimodal.synth_probe_media) is closed-form
    # in the row index — PNG dims 4+i%7 x 3+i%5, WAV rate 8000*(1+i%3) with
    # 1+i%2 channels and 100*(i+1) frames, every 3rd row unparseable — so
    # the oracle recomputes what the REAL byte-level parser must read out of
    # the containers it generated. duration = n_frames*1000 // rate
    # (integer division, mirroring probe_payload's arithmetic).
    o["media_probe"] = """
WITH r AS (SELECT unnest(range(0, 24)) AS i)
SELECT i AS media_id,
       CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'unknown' END AS container,
       CASE WHEN i % 3 = 0 THEN (4 + i % 7)::DOUBLE END AS width,
       CASE WHEN i % 3 = 0 THEN (3 + i % 5)::DOUBLE END AS height,
       CASE WHEN i % 3 = 1 THEN (1 + i % 2)::DOUBLE END AS channels,
       CASE WHEN i % 3 = 1 THEN (8000 * (1 + i % 3))::DOUBLE END AS sample_rate,
       CASE WHEN i % 3 = 1 THEN ((100 * (i + 1)) * 1000 // (8000 * (1 + i % 3)))::DOUBLE END AS duration_ms
FROM r
"""
    # media_resample: the fixture's WAV rows (i%3==1) are all 16000 Hz with
    # constant-256 int16 frames; a 2:1 decimation halves 100*(i+1) frames
    # and preserves the constant, so the oracle is closed-form in i.
    o["media_resample"] = """
WITH r AS (SELECT unnest(range(0, 24)) AS i)
SELECT i AS media_id, 8000::DOUBLE AS sample_rate,
       (50 * (i + 1))::DOUBLE AS n_samples, 256.0::DOUBLE AS rms
FROM r WHERE i % 3 = 1
"""
    o["events_tumbling"] = """
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
       event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""
    # sliding window (10 min, step 5): each event falls in exactly two windows
    o["events_sliding"] = """
WITH e AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type, value FROM events
),
w AS (
  SELECT b AS ws, event_type, value FROM e
  UNION ALL
  SELECT b - INTERVAL '5 minutes' AS ws, event_type, value FROM e
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM w GROUP BY 1, 2
"""
    # session windows (gap = 10 min): classic gaps-and-islands
    o["events_session"] = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev IS NULL
                  OR ts - prev > INTERVAL '10 minutes' THEN 1 ELSE 0 END AS brk
  FROM o
),
islands AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start, user_id,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM islands GROUP BY user_id, sid
"""
    o["train_test_split"] = """
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(doc_id::varchar), 1, 8))::BIGINT % 10000 < 1000
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""
    o["stratified_sample"] = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(doc_id::varchar), 1, 8))::BIGINT % 10000 <
      CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 10000 ELSE 2500 END
"""
    return o
