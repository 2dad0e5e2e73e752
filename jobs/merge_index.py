"""spark-submit entrypoint: fold k built indexes into one (delta compaction).

Usage:
    spark-submit --py-files awesome_spark_search.zip jobs/merge_index.py \
        --out /path/to/merged_index_root \
        /path/to/base_index_root /path/to/delta_index_root [...]

Every input is an index root written by jobs/build_index.py (or a previous
merge), opened with ``build.load_index``; no stats job runs, and content is
never re-read nor re-tokenized: ``merge.merge_packed_indexes`` moves packed
bytes through one (field, term, doc_shard) shuffle and sums the sources'
recorded totals. ``build.save_index`` writes the result in the build's stage
layout, each stage with its manifest, replacing any index already under
``--out``: the summary and manifests go first and the summary is written
last, atomically, so a merge that dies mid-write leaves a root jobs/query.py
refuses. Doc sets must be disjoint (re-ingest and tombstones belong to the
streaming path, which removes replaced and deleted docs from its base with
``merge.drop_docs`` before it merges). Sources that cannot merge (shared doc_ids, mismatched
doc_shard_size, stemming or field weights, a root load_index cannot serve)
and an ``--out`` that is one of the input roots end with a one-line error on
stderr and exit code 2, before anything is written.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="merged index root")
    ap.add_argument("roots", nargs="+", help="2+ input index roots")
    args = ap.parse_args(argv)
    if len(args.roots) < 2:
        ap.error("need at least two index roots to merge")
    if any(os.path.realpath(r) == os.path.realpath(args.out) for r in args.roots):
        # the merge reads its inputs lazily while writing: overwriting one
        # of them would destroy it halfway through
        print(f"error: --out {args.out!r} is one of the input roots; merge into a "
              "new root", file=sys.stderr)
        return 2

    from awesome_spark_search.build import load_index, save_index
    from awesome_spark_search.merge import merge_packed_indexes

    spark = SparkSession.builder.appName("ass-merge-index").getOrCreate()
    try:
        merged = merge_packed_indexes(spark, [load_index(spark, r) for r in args.roots])
    except ValueError as e:  # sources that cannot merge (overlap, mismatch)
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps(save_index(spark, merged, args.out, merged_from=args.roots)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
