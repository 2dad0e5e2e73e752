"""spark-submit entrypoint: run queries against a built index.

Usage:
    spark-submit --py-files awesome_spark_search.zip jobs/query.py \
        --index /path/to/index_root --source /path/to/source_table \
        [--k 10] [--scorer bm25|ql] [--batch] "query one" '"a phrase"' ...

The index root opens with ``build.load_index``: every query serves from
its packed postings (stages/packed, the only stored form of the postings)
with the term-bucket count, stemming and stage schemas recorded in its
build_summary.json, and its recorded field weights (none recorded: a plain
index); a stages/postings directory left by an older build is never read
and can be deleted. An index without them (or one built before packed rows
carried their field, or with a term-bucket count other than
``build.TERM_BUCKETS``), or a query the chosen mode cannot serve, ends with
a one-line error on stderr and exit code 2.

On a one-shard index of at most ``QueryExecutor.PACKED_COPY_MAX_TOKENS``
tokens the first query also reads the whole packed table once into the
executor's driver-side copy, from which every query then takes its rows
with no Spark job; the first query's wall_ms includes that read.

Prints one JSON line per query: {"query", "k", "wall_ms", "corrections",
"results": [{"doc_id", "score"}, ...]}. With --batch, every query serves in
ONE Spark action (search_many) and each line carries the shared
"batch_wall_ms" instead of a per-query "wall_ms"; "corrections" stays
per-query (the batch map filtered to that query's tokens).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from awesome_spark_search.build import load_index
from awesome_spark_search.executor import QueryExecutor


def _lines(ex: QueryExecutor, queries: list[str], k: int, batch: bool):
    """The JSON output dicts, one per query."""
    if not batch:
        for q in queries:
            t0 = time.perf_counter()
            rows = ex.search(q, k=k).collect()
            yield {
                "query": q,
                "k": k,
                "wall_ms": round((time.perf_counter() - t0) * 1000, 1),
                # applied spelling corrections, surfaced like the reference's
                # result-object corrections map (UnrankedQueryResult.java)
                "corrections": ex.last_corrections,
                "results": [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows],
            }
        return
    qmap = {f"q{i}": q for i, q in enumerate(queries)}
    t0 = time.perf_counter()
    rows = ex.search_many(qmap, k=k).collect()
    wall = round((time.perf_counter() - t0) * 1000, 1)
    by_qid: dict[str, list] = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(r)
    for i, q in enumerate(queries):
        # corrections restricted to THIS query's tokens (the batch map
        # covers every query; per-line output mirrors single-query mode)
        q_terms = set(ex._tokenize_query(q))
        yield {
            "query": q,
            "k": k,
            "batch_wall_ms": wall,  # ONE action served the whole batch
            "corrections": {
                t: c for t, c in ex.last_corrections.items() if t in q_terms
            },
            "results": [
                {"doc_id": r["doc_id"], "score": r["score"]}
                for r in by_qid.get(f"q{i}", [])
            ],
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--source", default=None, help="source table (PRF/snippets)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--scorer", choices=["bm25", "ql"], default="bm25")
    ap.add_argument(
        "--batch", action="store_true",
        help="serve ALL queries in ONE Spark action (search_many; ranked "
        "one-pass types only - keyword/phrase/mixed)",
    )
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("ass-query").getOrCreate()
    try:
        idx = load_index(spark, args.index)
        src = spark.read.parquet(args.source) if args.source else None
        ex = QueryExecutor(spark, idx, source_df=src, scorer=args.scorer)
        for line in _lines(ex, args.queries, args.k, args.batch):
            print(json.dumps(line))
    except ValueError as e:  # an index or a query this mode cannot serve
        print(f"error: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
