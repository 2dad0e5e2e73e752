"""Dump formatted physical plans of the headline operators to PLANS.md —
the .explain('formatted') evidence behind the plan-gate tests
(tests/test_plans.py): every query type serves from the packed index, with
partition pruning, filter pushdown, query-term-filtered broadcasts (or,
on the executor path with a cached dictionary, a plain term filter with
no stats in the plan) and
single-shuffle shapes. Each serving section names its path: the
distributed plan of an index with several doc_shards, or the driver path
of a one-shard index past the executor's copy gate, whose plan is the one
collect of its term rows (under the gate a one-shard query has no plan: it
slices the executor's driver-side copy of the packed rows).

Usage: python tools/dump_plans.py [out.md]
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import tempfile

    from pyspark.sql import functions as F

    from awesome_spark_search import corpus, dedup, wand
    from awesome_spark_search.build import build_index
    from awesome_spark_search.session import get_spark
    from awesome_spark_search.wand import (
        batch_topk,
        boolean_docs,
        mixed_topk,
        phrase_topk,
        ql_topk,
        ql_topk_many,
        wand_topk,
    )

    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "PLANS.md")
    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    ckpt = tempfile.mkdtemp(prefix="ass_plans_")
    src = spark.createDataFrame(corpus.generate_pandas(300, seed=21))
    idx = build_index(spark, src, do_stem=True, checkpoint_dir=ckpt,
                      doc_shard_size=64)

    def fmt(df) -> str:
        s = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # strip exploded per-run temp paths for readability
        return re.sub(r"file:[^\s,\]]*", "file:<ckpt>", s)

    def _executor_plan(idx, terms):
        from awesome_spark_search.executor import QueryExecutor
        from awesome_spark_search.wand import QuerySpec

        one, _ = QueryExecutor(spark, idx)._plans()
        return one(QuerySpec([], terms), 10)

    def _one_shard_plan():
        # default doc_shard_size: the 300 docs are one doc_shard, so the
        # query runs on the driver; with the copy's gate shut its plan is
        # the frame it collects
        from awesome_spark_search.executor import QueryExecutor

        one = build_index(spark, src, do_stem=True,
                          checkpoint_dir=tempfile.mkdtemp(prefix="ass_plans_one_"))
        seen, real = [], wand._collect_shards
        limit = QueryExecutor.PACKED_COPY_MAX_TOKENS

        def recording(rows, *args):
            seen.append(rows)
            return real(rows, *args)

        wand._collect_shards = recording
        QueryExecutor.PACKED_COPY_MAX_TOKENS = -1
        try:
            _executor_plan(one, ["buffer", "merg", "scan"])
        finally:
            wand._collect_shards = real
            QueryExecutor.PACKED_COPY_MAX_TOKENS = limit
        return seen[0]

    def _fielded_plan():
        fidx = build_index(
            spark, src.select("doc_id", "content", "path"), do_stem=False,
            field_weights={"content": 1.0, "path": 0.5}, doc_shard_size=64,
        )
        return _executor_plan(fidx, ["buffer", "merge"])

    DIST = "Distributed path: 5 doc_shards of 64 docs."
    BUILD = "Build-side operator: no serving path."
    sections = [
        ("Block-max WAND top-10 over the packed index", DIST,
         "ONE action: broadcast of the term-filtered idf rows joined onto "
         "bucket-pruned packed blobs (no position stream without a phrase), "
         "per-shard applyInPandas (the one "
         "ranked-plan builder's shard step, emitting query_id rows), global "
         "TakeOrderedAndProject.",
         wand_topk(spark, idx, ["buffer", "merge", "scan"], k=10)),
        ("Batched multi-query top-k (3 queries, ONE action)", DIST,
         "The same builder as the single-query plans: the whole workload "
         "shares one bucket-pruned packed scan (union of all terms) and one "
         "per-shard applyInPandas running each query's block-max WAND loop; "
         "only the tail differs - the per-query global top-k is a window "
         "over n_shards*k*n_queries local rows. At any batch size: two hash "
         "exchanges (the per-shard repartition and the tiny window) plus the "
         "final presentation sort's range exchange.",
         batch_topk(
             spark, idx,
             {"q0": ([], ["buffer", "merge"]), "q1": ([], ["scan"]),
              "q2": ([], ["buffer", "scan"])},
             k=10,
         )),
        ("QL/JM top-10 (phrase, Mixed and PRF forms share this plan)", DIST,
         "WAND's one-action shape under the QL scorer: broadcast of the "
         "term-filtered GLOBAL cf rows, per-shard full decode (no admission "
         "bound for QL), global TakeOrderedAndProject.",
         ql_topk(spark, idx, ["buffer", "merg", "scan"], k=10)),
        ("Batched QL/JM (keyword, phrase and Mixed; shared per-term decode)", DIST,
         "The batch shape under the QL scorer: broadcast of "
         "the term-filtered GLOBAL cf rows, per-shard decode shared by every "
         "query that uses a term (exact for QL - nothing skips), window "
         "top-k.",
         ql_topk_many(
             spark, idx,
             {"q0": ([], ["buffer", "merge"]), "q1": (["merg", "sort"], ["scan"])},
             k=10,
         )),
        ("Mixed phrase+keyword over the packed index (one per-shard pass)", DIST,
         "Same ONE-action shape as WAND: every term's packed rows arrive in "
         "one bucket-pruned scan and each doc_shard runs phrase-eval + "
         "candidate-seeded WAND inside a single applyInPandas.",
         mixed_topk(spark, idx, ["buffer", "merge"], ["scan"], k=10)),
        ("Exact phrase over the packed index", DIST,
         "The same one-action shape: the phrase terms' rows, per-shard "
         "doc-id intersection, then positions decoded only for candidate "
         "blocks.",
         phrase_topk(spark, idx, ["merg", "sort"], k=10)),
        ("Prefix past the cached vocabulary (term range)", DIST,
         "A prefix that cannot be expanded on the driver selects the term "
         "range [p, p + U+FFFF): no term_bucket pruning, the range pushes "
         "down to both scans; the rest is the WAND plan. PRF's weighted "
         "second pass has this plan too (weights scale idf in the kernel).",
         wand_topk(spark, idx, ["scan"], k=10, weights={"scan": 0.25},
                   prefixes=("tok",))),
        ("Boolean doc-set algebra (AND/OR/NOT)", DIST,
         "Bucket-pruned scan of the doc-id blobs only, per-shard numpy set "
         "algebra in one applyInPandas (the shard runner every packed plan "
         "shares), recency top-k. LinkTo leaves' citing docs join the term "
         "rows in one union keyed by doc_shard, so the same step sees both.",
         boolean_docs(spark, idx, ("and", ("terms", ["merg"]),
                                   ("not", ("terms", ["buffer"]),
                                    ("terms", ["scan"]))), k=10)),
        ("SimHash (single groupBy, 32 codegen sums)", BUILD,
         "No per-bit row expansion: one exchange keyed doc_id carrying 32 "
         "partial sums.",
         dedup.simhash(src.select("doc_id", F.col("content").alias("text")))),
        ("LSH candidate pairs (guarded path)", BUILD,
         "Exact-dup collapse, one banding explode, ONE shuffle to bucket "
         "arrays, JVM pair expansion bounded by the bucket cap.",
         dedup.lsh_candidate_pairs(
             src.select("doc_id", F.col("content").alias("text")))),
        ("Keyword top-10 with the cached dictionary (executor path)", DIST,
         "The plan QueryExecutor builds when its driver-cached {term: (idf, "
         "cf)} dictionary is loaded: a plain filter of the bucket-pruned "
         "packed rows (the frame pruned once per executor) - no term_stats "
         "scan, no join, no broadcast job, no stat projection; the shard "
         "step attaches each term's idf (computed in the JVM when the "
         "dictionary was collected) - then the same per-shard applyInPandas "
         "and TakeOrderedAndProject as the broadcast plan above.",
         # built last: loading the dictionary plans a job of its own,
         # which would renumber every plan formatted after it
         lambda: _executor_plan(idx, ["buffer", "merg", "scan"])),
        ("Fielded (zone-weighted) keyword top-10 (executor path)", DIST,
         "The same executor plan over a two-field index (content w=1.0, "
         "path w=0.5): packed rows carry their field, and the per-shard "
         "kernel scales each row's idf by its zone weight and normalizes by "
         "its field's avgdl, both driver values. Like every executor plan "
         "it takes idf from the cached dictionary - no term_stats scan, no "
         "join, no broadcast, no stat projection.",
         _fielded_plan),
        ("Keyword top-10, executor, one doc_shard past the copy gate (driver path)",
         "Driver path: 1 doc_shard (the same 300 docs at the default "
         "doc_shard_size), the executor's copy gate shut.",
         "The plan the executor's keyword query collects when the index has "
         "one doc_shard but more tokens than PACKED_COPY_MAX_TOKENS: the "
         "bucket-pruned packed scan and term filter, with "
         "no stat projection and no position stream, collected with one "
         "Arrow collect - no "
         "exchange, no pandas UDF. The shard kernel and the top-k then run "
         "on the driver, over exactly the rows the distributed plan's one "
         "kernel task would get. Under the gate the executor holds the "
         "packed rows on the driver and the query has no plan at all.",
         _one_shard_plan),
    ]
    lines = [
        "# PLANS — formatted physical plans of the headline operators",
        "",
        "Generated by `python tools/dump_plans.py` over a 300-doc seeded",
        "corpus with a checkpointed (Parquet-backed) index — the same plan",
        "shapes the plan-gate tests assert (tests/test_plans.py). Regenerate",
        "after any operator change.",
        "",
    ]
    for title, path, note, df in sections:
        df = df() if callable(df) else df
        lines += [f"## {title}", "", path, "", note, "", "```", fmt(df).rstrip(), "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
