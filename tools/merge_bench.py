"""A/B: delta compaction via merge_packed_indexes vs full re-build.

Builds two half-corpus indexes once (the 'yesterday's index + today's
delta' setup), then interleaves best-of-N timings of
  (a) re-building the packed index over the union corpus from content, and
  (b) folding the two packed indexes with merge_packed_indexes (the
      halves split by doc_id parity, so their doc_id ranges overlap and
      the merge runs its doc_map duplicate probe),
both materialized to completion (packed.count + term_stats.count). The
interleaving keeps the comparison fair under this host's bursty CPU steal
(CLAUDE.md: never time two heavy jobs concurrently; compare ratios from
adjacent windows).

Usage: python tools/merge_bench.py [n_docs_total] [reps]
Prints one JSON line: {"n_docs", "rebuild_sec", "merge_sec", "ratio", ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from awesome_spark_search import corpus
    from awesome_spark_search.build import build_index
    from awesome_spark_search.merge import merge_packed_indexes
    from awesome_spark_search.session import get_spark

    spark = get_spark("merge-bench", cores=cpus)
    cache = f"/tmp/ass_bench_corpus_{n}.parquet"
    if not os.path.exists(cache):
        corpus.generate_pandas(n, seed=42).to_parquet(
            cache, index=False, row_group_size=5000
        )
    src = (
        spark.read.parquet(cache)
        .repartition(max(cpus * 2, 8), "doc_id")
        .persist()
    )
    src.count()
    halves = [src.filter(f"doc_id % 2 = {i}").persist() for i in (0, 1)]
    [h.count() for h in halves]

    kw = dict(do_stem=True, doc_shard_size=4096)

    def build_half(h):
        ix = build_index(spark, h, **kw)
        ix.packed.count(); ix.term_stats.count(); ix.doc_map.count()
        return ix

    # the standing state: both halves already indexed (untimed)
    ia, ib = build_half(halves[0]), build_half(halves[1])

    def rebuild():
        ix = build_index(spark, src, **kw)
        ix.packed.count(); ix.term_stats.count(); ix.doc_map.count()
        for df in (ix.packed, ix.term_stats, ix.doc_map):
            df.unpersist()

    def merge():
        m = merge_packed_indexes(spark, [ia, ib])
        m.packed.count(); m.term_stats.count()
        for df in (m.packed, m.term_stats, m.doc_map):
            df.unpersist()

    # one untimed warmup each (codegen/JIT), then interleaved best-of-reps
    rebuild(); merge()
    t_rebuild, t_merge = [], []
    for _ in range(reps):
        t0 = time.perf_counter(); rebuild(); t_rebuild.append(time.perf_counter() - t0)
        t0 = time.perf_counter(); merge(); t_merge.append(time.perf_counter() - t0)
    out = {
        "n_docs": n,
        "cpus": cpus,
        "reps": reps,
        "rebuild_sec": round(min(t_rebuild), 3),
        "merge_sec": round(min(t_merge), 3),
        "rebuild_all": [round(x, 3) for x in t_rebuild],
        "merge_all": [round(x, 3) for x in t_merge],
        "ratio": round(min(t_rebuild) / min(t_merge), 2),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
