"""spark-submit entrypoint: run queries against a built index.

Usage:
    spark-submit --py-files awesome_spark_search.zip jobs/query.py \
        --index /path/to/index_root --source /path/to/source_table \
        [--k 10] [--scorer bm25|ql] [--batch] "query one" '"a phrase"' ...

Every query serves from the index's packed postings (stages/packed, the
only stored form of the postings) with the term-bucket count, stemming and
stage schemas recorded in its build_summary.json; a stages/postings
directory left by an older build is never read and can be deleted. An
index without them (or one built before packed rows carried their field),
or a query the chosen mode cannot serve, ends with a one-line error on
stderr and exit code 2.

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
from pyspark.sql import types as T

from awesome_spark_search.build import TOTALS, Index, IndexStats, stats_from_totals
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.lineage import write_json_atomic


def summary_path(root: str) -> str:
    """The root's build_summary.json: written last by jobs/build_index.py and
    jobs/merge_index.py, after every stage, so its presence marks a whole
    index."""
    return os.path.join(root, "build_summary.json")


def drop_summary(root: str) -> None:
    """Remove the root's summary before a job's first stage write: a crash
    mid-write then leaves a root load_index refuses, never old layout
    metadata beside half-written stages."""
    if os.path.exists(summary_path(root)):
        os.remove(summary_path(root))


def stats_record(stats: IndexStats) -> dict:
    """A summary's stats: the additive ``TOTALS`` load_index rebuilds the
    IndexStats from, and the avgdl for a reader of the file."""
    return {**{k: getattr(stats, k) for k in TOTALS}, "avgdl": stats.avgdl}


# the stages serving reads; the summary records the schema of each
SERVING_STAGES = ("packed", "doc_map", "term_stats")


def stage_schemas(spark: SparkSession, root: str) -> dict:
    """The serving stages' schemas as Spark infers them from the files a job
    has just written, for its summary: load_index reads every stage with
    its recorded schema and infers none."""
    return {
        s: spark.read.parquet(os.path.join(root, "stages", s)).schema.jsonValue()
        for s in SERVING_STAGES
    }


def write_summary(root: str, summary: dict) -> None:
    os.makedirs(root, exist_ok=True)
    write_json_atomic(summary_path(root), summary)


def load_index(spark: SparkSession, root: str) -> Index:
    """The serving view of an index root written by jobs/build_index.py or
    jobs/merge_index.py: packed postings, term_stats and doc_map, laid out
    as its build_summary.json records. Each stage is read with the schema the
    summary records (``stage_schemas``), so no Parquet footer is read for
    schema inference, and the IndexStats come from the summary's recorded
    totals (``stats_from_totals``), so no stats job runs: opening a root
    runs only Spark's listing of the term_bucket= partition directories.
    ValueError when the root has no stages/packed or no summary (an
    unfinished or interrupted build or merge), or predates packed rows
    carrying their field and the recorded term-bucket count, stemming,
    stats totals and stage schemas."""
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
    if not recorded or set(schemas) != set(SERVING_STAGES) or "field" not in {
        f["name"] for f in schemas["packed"]["fields"]
    }:
        raise ValueError(
            f"the index at {root!r} was built by an older version (no field "
            "column or no recorded term_buckets/do_stem/stats totals/stage "
            "schemas); rebuild it with jobs/build_index.py"
        )
    read = {
        stage: spark.read.schema(T.StructType.fromJson(schemas[stage])).parquet(
            os.path.join(stages, stage)
        )
        for stage in SERVING_STAGES
    }
    # jobs/build_index.py builds plain (one-field) indexes only
    return Index(
        doc_map=read["doc_map"], term_stats=read["term_stats"],
        packed=read["packed"], stats=stats_from_totals(**{k: s[k] for k in TOTALS}),
        do_stem=s["do_stem"], doc_shard_size=s["doc_shard_size"],
        n_term_buckets=s["term_buckets"],
    )


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
