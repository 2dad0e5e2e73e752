"""spark-submit entrypoint: build (or resume) the inverted index.

Usage:
    spark-submit --py-files awesome_spark_search.zip jobs/build_index.py \
        --source /path/to/source_table_parquet \
        --out    /path/to/index_root \
        [--no-stem] [--doc-shard-size 1048576]

The source table must carry (repo, path, commit, lang, content) per the
input_hint shape; ``doc_id`` is assigned deterministically by
(repo, path, commit) order if absent. Every stage checkpoints to
``<out>/stages/<name>`` with a ``_manifest.json`` (per-partition lineage +
metrics); a rerun after a kill skips completed stages. ``<out>/build_summary.json``
is removed before the first stage runs and written last, atomically
(``build.commit``), so a killed build leaves a root ``build.load_index``
(and so jobs/query.py) refuses until the rerun completes. The term-bucket
count is not a setting: every index has ``build.TERM_BUCKETS``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index, commit, drop_summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="parquet dir of the source table")
    ap.add_argument("--out", required=True, help="index root (stages + manifests)")
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--doc-shard-size", type=int, default=1 << 20)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("ass-build-index").getOrCreate()
    src = spark.read.parquet(args.source)
    if "doc_id" not in src.columns:
        src = corpus.assign_doc_ids(src, ["repo", "path", "commit"])

    drop_summary(args.out)
    t0 = time.time()
    idx = build_index(
        spark,
        src,
        do_stem=not args.no_stem,
        checkpoint_dir=os.path.join(args.out, "stages"),
        doc_shard_size=args.doc_shard_size,
    )
    summary = commit(
        args.out, idx,
        wall_sec=round(time.time() - t0, 3),
        docs_per_sec=round(idx.stats.n_docs / max(time.time() - t0, 1e-9), 2),
        stages=idx.build_metrics,
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
