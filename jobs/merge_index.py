"""spark-submit entrypoint: fold k built indexes into one (delta compaction).

Usage:
    spark-submit --py-files awesome_spark_search.zip jobs/merge_index.py \
        --out /path/to/merged_index_root \
        /path/to/base_index_root /path/to/delta_index_root [...]

Every input is an index root written by jobs/build_index.py (or a previous
merge). Content is never re-read and tokenization never re-runs: packed
bytes move through one (field, term, doc_shard) shuffle
(awesome_spark_search.merge.merge_packed_indexes — single-source groups
pass through byte-identical, block_max refreshed against the merged
avgdl). No stats job runs: each input's IndexStats load from the totals
its build_summary.json records, the merged stats are their sums, and the
merged totals are recorded in turn. The output root uses the same stage
layout (doc_map, packed and term_stats; no long postings table is read or
written), so jobs/query.py serves it unchanged. The output keeps the
sources' recorded term-bucket count. A stages/postings directory left in a
root by an older build is never read and can be deleted. Doc sets must be
disjoint (re-ingest/tombstone resolution belongs to the streaming path,
upstream of packing): inputs whose doc_id ranges do not overlap are
disjoint as they stand, and overlapping ones pay one doc_map duplicate
probe. Sources that cannot merge (shared doc_ids, mismatched doc_shard_size, bucket count
or stemming, a root load_index cannot serve) and an ``--out`` that is one
of the input roots end with a one-line error on stderr and exit code 2,
before anything is written. An existing build_summary.json under ``--out``
is removed before the first stage write and the new one is written last,
atomically, so a merge that dies mid-write leaves a root jobs/query.py
refuses instead of serving torn stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

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

    from awesome_spark_search.merge import merge_packed_indexes
    from query import (  # same jobs/ dir
        drop_summary, load_index, stage_schemas, stats_record, write_summary,
    )

    spark = SparkSession.builder.appName("ass-merge-index").getOrCreate()
    try:
        indexes = [load_index(spark, r) for r in args.roots]
        t0 = time.time()
        merged = merge_packed_indexes(spark, indexes)
    except ValueError as e:  # sources that cannot merge (overlap, mismatch)
        print(f"error: {e}", file=sys.stderr)
        return 2
    drop_summary(args.out)
    stages = os.path.join(args.out, "stages")
    (
        merged.packed.repartition("term_bucket")
        .sortWithinPartitions("term", "doc_shard")
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(os.path.join(stages, "packed"))
    )
    merged.doc_map.write.mode("overwrite").parquet(
        os.path.join(stages, "doc_map")
    )
    (
        merged.term_stats.repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(os.path.join(stages, "term_stats"))
    )
    summary = {
        **stats_record(merged.stats),
        "doc_shard_size": merged.doc_shard_size,
        "term_buckets": merged.n_term_buckets,
        "do_stem": merged.do_stem,
        "merged_from": args.roots,
        "wall_sec": round(time.time() - t0, 2),
        "schemas": stage_schemas(spark, args.out),
    }
    write_summary(args.out, summary)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
