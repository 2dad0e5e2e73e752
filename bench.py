"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline pipeline at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32):

* full index build (tokenize -> packed VByte blobs with block-max ->
  term_stats; packed is the only stored form of the postings) over the
  documents table, reported as build_sec and
  build_docs_per_sec,
* best-of-2 timings over the headline query/operator set (BM25 keyword,
  phrase, boolean, prefix, mixed, PRF, block-max WAND on the packed index,
  a 16-query batched workload in ONE action, MinHash-LSH dedup, SimHash,
  embedding cosine top-k, language-ID, windowed events agg) — min over two
  back-to-back runs because this host's bursty CPU steal makes single
  samples swing 2-3x; a pure-CPU host-control probe is reported alongside
  so noisy windows are identifiable,
* the north metric's latency figure: p50/p95 over 12 back-to-back keyword
  top-k actions, plus batched queries/sec (batch16_qps) and the measured
  batch-vs-sequential speedup.

Output: {"metric": ..., "value": total_sec, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ..., ...extras}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _control_work(_):
    x = 0
    for i in range(5_000_000):
        x += i
    return x


def run(sf_dir: str, cpus: int, do_stem: bool = True) -> dict:
    from pyspark.sql import functions as F

    from awesome_spark_search import corpus, dedup, similarity, textstats
    from awesome_spark_search.build import build_index
    from awesome_spark_search.executor import QueryExecutor
    from awesome_spark_search.session import get_spark
    from awesome_spark_search.wand import wand_topk

    spark = get_spark("bench", cores=cpus)
    timings: dict[str, float] = {}

    def timed(name: str, fn, reps: int = 2):
        """best-of-``reps``: this host shows bursty CPU steal (identical jobs
        vary up to 2-3x — BENCH/BASELINE.md appendix), so a single sample of
        a sub-second query is dominated by whichever window it lands in.
        The min over two back-to-back runs is the standard steal-robust
        estimator; builds run once (long enough to average bursts, and a
        rerun would double bench wall time for little variance gain)."""
        out = None
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        return out

    def host_control() -> dict:
        """Pure-CPU capacity probe: wall time of one fixed loop per worker at
        1 / cpus-wide parallelism (~0.21 s each when the host grants all
        cores). A single thread can run full speed while 32-wide jobs crawl
        — external CPU steal on this VM caps the PHYSICAL cores granted, so
        only a cpus-wide probe calibrates the engine numbers:
        effective_cores ~= cpus * calm/wide. Lets a reader tell a
        noisy-window bench from an engine change without rerunning."""

        def probe(nw: int) -> float:
            import multiprocessing as mp

            t0 = time.perf_counter()
            with mp.Pool(nw) as p:
                p.map(_control_work, range(nw))
            return round(time.perf_counter() - t0, 4)

        return {"w1": probe(1), f"w{cpus}": probe(cpus)}

    control_start = host_control()

    # the documents table is one small parquet file -> one input split;
    # spread it like a real multi-file corpus so the build uses every core
    src = corpus.from_documents_table(spark, sf_dir).repartition(
        max(cpus * 2, 8), "doc_id"
    ).persist()
    n_docs = src.count()

    def _build():
        # a one-field build never caches its tokenized rows: they stream
        # into the pack shuffle, and every query serves off the packed index
        idx = build_index(spark, src, do_stem=do_stem)
        # force full materialization: packed.count() runs the whole
        # tokenize->pack chain in ONE action; doc_map is narrow,
        # term_stats a tiny rollup off the cached packed table
        idx.packed.count()
        idx.doc_map.count()
        idx.term_stats.count()
        return idx

    idx = timed("index_build", _build, reps=1)
    # every query type serves off the compressed index (WAND, positional
    # decode, doc-set algebra)
    ex = QueryExecutor(spark, idx, source_df=src)

    # one untimed warmup query: first search pays Python-worker startup and
    # plan codegen; steady-state latency is the meaningful number
    ex.search("warmupquerynoop", k=1).collect()

    timed("q_keyword_bm25", lambda: ex.search("merge batch table", k=10).collect())
    timed("q_phrase", lambda: ex.search('"table value"', k=10).collect())
    timed("q_bool_and", lambda: ex.search("merge AND batch", k=10).collect())
    timed("q_prefix", lambda: ex.search("sc*", k=10).collect())
    timed("q_mixed", lambda: ex.search('"table value" merge', k=10).collect())
    timed("q_prf", lambda: ex.search("merge batch #3", k=10).collect())

    wand_terms = ex._tokenize_query("merge batch table")
    timed("q_wand_topk", lambda: wand_topk(spark, idx, wand_terms, k=10).collect())

    # the north metric's latency figure: p50/p95 over 12 back-to-back
    # single-query top-k BM25 actions (packed WAND serving). Report raw
    # order statistics — on this steal-prone host p95 mostly measures the
    # worst host window of the 12, so read it against host_control_sec.
    lat = []
    for _ in range(12):
        t0 = time.perf_counter()
        ex.search("merge batch table", k=10).collect()
        lat.append(time.perf_counter() - t0)
    lat.sort()
    keyword_p50 = round(lat[len(lat) // 2], 4)
    keyword_p95 = round(lat[min(len(lat) - 1, round(0.95 * (len(lat) - 1)))], 4)

    # batched serving: a 16-query keyword workload in ONE Spark action
    # (search_many: one bucket-pruned packed scan of the union of all terms,
    # per-shard per-query WAND, one window) vs the same 16 queries run
    # sequentially — the queries/sec lever at cluster scale. BOTH sides are
    # best-of-2 and the reps interleave (seq, batch, batch, seq) per the
    # repo's steal-robust methodology, so neither side pockets a calm window.
    batch16 = {
        f"b{i}": q
        for i, q in enumerate(
            [
                "merge batch table", "vector stream", "table value",
                "stream batch value", "merge vector", "batch table",
                "scan sort merge", "hash join group", "index query score",
                "buffer posting list", "compress encode decode",
                "partition shard block", "cache flush commit",
                "search rank filter", "token stream parse", "schema column row",
            ]
        )
    }
    def _seq16() -> float:
        t0 = time.perf_counter()
        for q in batch16.values():
            ex.search(q, k=10).collect()
        return time.perf_counter() - t0

    seq_samples = [_seq16()]
    timed("q_batch16", lambda: ex.search_many(batch16, k=10).collect())
    seq_samples.append(_seq16())
    batch16_sequential = round(min(seq_samples), 4)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # steady-state warmup for the analytics operators, same principle as the
    # serving warmup above: the FIRST run of each plan shape pays
    # whole-stage-codegen compilation (2-5 s for the 32-wide md5/conv trees
    # of LSH/SimHash) — a once-per-cluster-lifetime JIT cost, not operator
    # throughput. One pass over a 16-row slice compiles the same generated
    # stages; the timed runs then measure the operator on the full table.
    tiny = docs.limit(16)
    dedup.lsh_candidate_pairs(tiny).count()
    dedup.simhash(tiny).count()
    textstats.lang_id(tiny).count()

    timed("q_lsh_pairs", lambda: dedup.lsh_candidate_pairs(docs).count())
    timed("q_simhash", lambda: dedup.simhash(docs).count())

    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    timed(
        "q_cosine_topk",
        lambda: similarity.brute_force_topk(emb, qvec, k=10).collect(),
    )
    timed("q_lang_id", lambda: textstats.lang_id(docs).count())
    timed(
        "q_events_window",
        lambda: spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .count(),
    )

    # at-scale build throughput: the sf documents table is small enough that
    # fixed per-job costs dominate; a larger seeded corpus (cached in /tmp)
    # shows the engine's amortized docs/sec
    big_n = int(os.environ.get("SPARK_GRAFT_BIG_N", "50000"))
    big_docs_per_sec = None
    if big_n > 0:
        cache = f"/tmp/ass_bench_corpus_{big_n}.parquet"
        if not os.path.exists(cache):
            corpus.generate_pandas(big_n, seed=42).to_parquet(
                cache, index=False, row_group_size=5000
            )
        big_src = spark.read.parquet(cache).repartition(max(cpus * 2, 8), "doc_id").persist()
        big_src.count()

        def _build_big():
            bidx = build_index(spark, big_src, do_stem=True, doc_shard_size=4096)
            bidx.packed.count(); bidx.doc_map.count(); bidx.term_stats.count()

        timed("index_build_50k", _build_big, reps=1)
        big_docs_per_sec = round(big_n / timings["index_build_50k"], 2)

    # headline value excludes the supplementary at-scale build
    total = round(sum(v for k, v in timings.items() if k != "index_build_50k"), 4)
    # round-over-round comparability: q_batch16 joined in round 5,
    # q_mixed/q_prf in round 4 — earlier rounds' totals correspond to these
    # subsets, not to "value"
    pre_r5 = round(total - timings.get("q_batch16", 0.0), 4)
    legacy = round(
        pre_r5 - timings.get("q_mixed", 0.0) - timings.get("q_prf", 0.0), 4
    )
    build_sec = timings["index_build"]
    control_end = host_control()
    return {
        "metric": "index_build_plus_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "value_pre_r5_query_set": pre_r5,
        "value_pre_r4_query_set": legacy,
        "q_keyword_p50": keyword_p50,
        "q_keyword_p95": keyword_p95,
        "batch16_sequential_sec": batch16_sequential,
        "batch16_qps": round(16 / timings["q_batch16"], 2)
        if timings.get("q_batch16")
        else None,
        "batch16_speedup_vs_sequential": round(
            batch16_sequential / timings["q_batch16"], 2
        )
        if timings.get("q_batch16")
        else None,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "build_docs_per_sec": round(n_docs / build_sec, 2) if build_sec else None,
        "big_corpus_n_docs": big_n,
        "big_corpus_build_docs_per_sec": big_docs_per_sec,
        # each wall-sec value is ~0.21 s when the host grants every core;
        # w32 >> w1 means external steal capped the physical cores during
        # this bench (effective_cores ~= cpus * 0.21 / w32) and the engine
        # numbers are inflated by roughly that same factor
        "host_control_sec": {"start": control_start, "end": control_end},
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run(sf_dir, cpus)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
