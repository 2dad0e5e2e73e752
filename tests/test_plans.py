"""Physical-plan quality gates: the optimizations we rely on at 100 TB must
be visible in the packed serving plans at any scale — partition pruning on
term_bucket, Parquet filter pushdown, no term-stats join with the executor's
cached dictionary (else a broadcast), a fixed exchange count for batches,
and no Spark job at all for a one-shard query served from the executor's
copy of the packed rows."""

import re

import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def packed_ckpt_index(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("plan_idx_packed"))
    src = spark.createDataFrame(corpus.generate_pandas(120, seed=21))
    return build_index(
        spark, src, do_stem=True, checkpoint_dir=ckpt, doc_shard_size=32,
    )


def test_batch_plan_shape(spark, packed_ckpt_index):
    """The batched multi-query plan must stay the single-action shape at any
    batch size: broadcast idf join (never a shuffle join), term_bucket
    partition pruning + pushed term filters on the ONE shared packed scan,
    and, regardless of how many queries ride the batch, exactly two hash
    exchanges — the per-shard applyInPandas repartition and the tiny
    (n_shards * k * n_queries rows) window for the per-query global top-k —
    plus the final presentation sort's one range exchange."""
    from awesome_spark_search.wand import batch_topk

    df = batch_topk(
        spark, packed_ckpt_index,
        {"q0": ([], ["buffer", "merge"]), "q1": ([], ["scan"]),
         "q2": ([], ["buffer", "scan"])},
        k=5,
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan[:2000]
    pf = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pf and any("term" in x for x in pf), plan[:2000]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan[:3000]
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1, plan[:3000]
    rows = df.collect()
    assert {r["query_id"] for r in rows} == {"q0", "q1", "q2"}
    assert all(r["score"] > 0 for r in rows)


def test_wand_plan_single_action_shape(spark, packed_ckpt_index):
    """The packed WAND query must (a) broadcast the term-filtered idf side
    (no driver-side collect exists to check, but the join must be a
    broadcast, not a shuffle join), (b) prune packed partitions on
    term_bucket, and (c) push the term filter to the packed scan."""
    from awesome_spark_search.wand import wand_topk

    df = wand_topk(spark, packed_ckpt_index, ["buffer", "merge"], k=10)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan[:2000]
    pf = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pf and any("term" in x for x in pf), plan[:2000]
    # and it returns the right thing
    rows = df.collect()
    assert rows and rows[0]["score"] > 0


def test_executor_plans_read_packed_rows_with_no_stats_join(spark, packed_ckpt_index):
    """The executor's plans, with its cached dictionary: the kernels' idf/cf
    come from the dictionary, so neither a single query nor a batch scans
    term_stats, joins or broadcasts; bucket pruning and the pushed term
    filter stay, with one hash exchange for one query (the per-shard
    repartition) and two for a batch (plus the window's)."""
    from awesome_spark_search.executor import QueryExecutor
    from awesome_spark_search.wand import QuerySpec

    one, many = QueryExecutor(spark, packed_ckpt_index)._plans()
    single = one(QuerySpec([], ["buffer", "merge"]), 10)
    batch = many(
        {"q0": ([], ["buffer", "merge"]), "q1": ([], ["scan"]),
         "q2": ([], ["buffer", "scan"])},
        5,
    )
    for df, n_hash in ((single, 1), (batch, 2)):
        plan = _plan(df)
        assert "BroadcastExchange" not in plan, plan[:3000]
        assert "Join" not in plan, plan[:3000]
        assert "term_stats" not in plan, plan[:3000]
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "term_bucket" in m.group(1), plan[:2000]
        pf = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert pf and any("term" in x for x in pf), plan[:2000]
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == n_hash, plan[:3000]
        rows = df.collect()
        assert rows and all(r["score"] > 0 for r in rows)


@pytest.fixture(scope="module")
def fielded_ckpt_index(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("plan_idx_fielded"))
    src = spark.createDataFrame(corpus.generate_pandas(120, seed=21))
    return build_index(
        spark, src, do_stem=True, checkpoint_dir=ckpt, doc_shard_size=32,
        field_weights={"content": 1.0, "path": 0.5},
    )


def test_fielded_executor_plans_read_packed_rows_with_no_stats_join(
    spark, fielded_ckpt_index
):
    """A fielded index takes the same dictionary path: the executor's plans
    for one query and a batch take idf from the dictionary (no term_stats
    scan, no join, no broadcast), prune term_bucket partitions, and keep one and two
    hash exchanges — zone weights and field avgdl are driver values."""
    from awesome_spark_search.executor import QueryExecutor
    from awesome_spark_search.wand import QuerySpec

    one, many = QueryExecutor(spark, fielded_ckpt_index)._plans()
    single = one(QuerySpec([], ["buffer", "merg"]), 10)
    batch = many(
        {"q0": ([], ["buffer", "merg"]), "q1": ([], ["scan"]),
         "q2": ([], ["buffer", "scan"])},
        5,
    )
    for df, n_hash in ((single, 1), (batch, 2)):
        plan = _plan(df)
        assert "BroadcastExchange" not in plan, plan[:3000]
        assert "Join" not in plan, plan[:3000]
        assert "term_stats" not in plan, plan[:3000]
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "term_bucket" in m.group(1), plan[:2000]
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == n_hash, plan[:3000]
        rows = df.collect()
        assert rows and all(r["score"] > 0 for r in rows)


@pytest.fixture(scope="module")
def one_shard_ckpt_index(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("plan_idx_one_shard"))
    src = spark.createDataFrame(corpus.generate_pandas(120, seed=21))
    return build_index(spark, src, do_stem=True, checkpoint_dir=ckpt)


def _recording_collects(monkeypatch) -> list:
    """The frames ``wand._collect_shards`` collects from now on."""
    from awesome_spark_search import wand

    collected = []
    real = wand._collect_shards

    def recording(rows, *args):
        collected.append(rows)
        return real(rows, *args)

    monkeypatch.setattr(wand, "_collect_shards", recording)
    return collected


def _jobs(spark, group, run) -> tuple[int, list]:
    """(Spark jobs run, rows) of ``run().collect()`` in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = run().collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


def test_one_shard_plans_run_one_job_with_no_exchange(spark, one_shard_ckpt_index, monkeypatch):
    """Over one doc_shard every executor query type runs on the driver —
    keyword, phrase, Mixed, Boolean, a QL keyword query and a 3-query
    batch. From the executor's copy of the packed rows (``wand.PackedCopy``)
    each runs NO Spark job and collects nothing, and so does a prefix range
    past PREFIX_EXPAND_MAX. With the copy's gate shut, each runs ONE Spark
    job (the Arrow collect of the term rows), whose plan is the
    bucket-pruned packed scan with no exchange and no pandas UDF."""
    from awesome_spark_search.executor import QueryExecutor

    collected = _recording_collects(monkeypatch)
    batch = {"q0": "buffer merge", "q1": '"merge sort"', "q2": "scan"}
    for copy in (True, False):
        if not copy:
            monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", -1)
        bm25 = QueryExecutor(spark, one_shard_ckpt_index)
        ql = QueryExecutor(spark, one_shard_ckpt_index, scorer="ql")
        for ex in (bm25, ql):
            ex.search("buffer", k=5).collect()  # warm: caches the dictionary
            assert (ex._dictionary.copy is not None) == copy
        cases = {
            "keyword": lambda: bm25.search("buffer merge", k=10),
            "phrase": lambda: bm25.search('"merge sort"', k=10),
            "mixed": lambda: bm25.search('"merge sort" buffer', k=10),
            "boolean": lambda: bm25.search("buffer AND NOT merge", k=10),
            "ql": lambda: ql.search("buffer merge", k=10),
            "batch": lambda: bm25.search_many(batch, k=5),
        }
        if copy:
            bm25.PREFIX_EXPAND_MAX = 0  # every prefix stays a term range
            cases["prefix range"] = lambda: bm25.search("buf* scan", k=10)
        for name, run in cases.items():
            collected.clear()
            n_jobs, rows = _jobs(spark, f"one_shard_{name}_{copy}", run)
            assert rows, name
            if copy:
                assert n_jobs == 0 and not collected, (name, n_jobs)
                continue
            assert n_jobs == 1, name
            assert len(collected) == 1, name
            plan = _plan(collected[0])
            assert "Exchange" not in plan, (name, plan[:3000])
            assert "FlatMapGroupsInPandas" not in plan, (name, plan[:3000])
            assert "FlatMapCoGroupsInPandas" not in plan, (name, plan[:3000])
            m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
            assert m and "term_bucket" in m.group(1), (name, plan[:2000])
            if name in ("keyword", "ql"):
                # no phrase: the position stream is never read
                assert "pos_vb" not in plan, (name, plan[:3000])


@pytest.fixture(scope="module")
def parquet_citations(spark, tmp_path_factory):
    from awesome_spark_search.pagerank import pack_citations

    edges = [(d, 3) for d in range(120) if d % 7 == 3 and d != 3]
    path = str(tmp_path_factory.mktemp("plan_citations") / "packed")
    pack_citations(spark.createDataFrame(edges, "src long, dst long")).write.parquet(path)
    return spark.read.parquet(path)


def test_one_shard_linkto_plans_run_one_job_with_no_exchange(
    spark, one_shard_ckpt_index, parquet_citations, monkeypatch
):
    """A LinkTo leaf takes the same one-shard driver path as every other
    plan: a Boolean with a LinkTo leaf and a bare LinkTo (the one-leaf
    Boolean) each run ONE Spark job with no exchange and no cogroup in its
    plan. From the executor's copy of the packed rows that job collects the
    citation rows alone (no packed scan); with the copy's gate shut it
    collects the union of their term rows and link rows."""
    from awesome_spark_search.executor import QueryExecutor

    collected = _recording_collects(monkeypatch)
    citing = sorted((d for d in range(120) if d % 7 == 3 and d != 3), reverse=True)
    for copy in (True, False):
        if not copy:
            monkeypatch.setattr(QueryExecutor, "PACKED_COPY_MAX_TOKENS", -1)
        ex = QueryExecutor(spark, one_shard_ckpt_index, packed_citations=parquet_citations)
        ex.search("buffer", k=5).collect()  # warm: caches the dictionary
        assert (ex._dictionary.copy is not None) == copy
        for name, query in (("boolean_linkto", "scan OR LinkTo:3"), ("linkto", "LinkTo:3")):
            collected.clear()
            n_jobs, rows = _jobs(spark, f"one_shard_{name}_{copy}", lambda: ex.search(query, k=10))
            assert rows and all(r["score"] is None for r in rows), name
            assert n_jobs == 1, name
            assert len(collected) == 1, name
            plan = _plan(collected[0])
            assert "Exchange" not in plan, (name, plan[:3000])
            assert "FlatMapCoGroupsInPandas" not in plan, (name, plan[:3000])
            # the packed scan's blob column: only the collect path's Boolean
            # with a term leaf reads packed rows in the job
            reads_packed = not copy and name == "boolean_linkto"
            assert ("doc_ids_vb" in plan) == reads_packed, (name, plan[:3000])
            if name == "linkto":
                assert [r["doc_id"] for r in rows] == citing[:10]
