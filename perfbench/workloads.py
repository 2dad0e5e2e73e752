"""The benchmark's workloads. Each is a closed loop with one client: the
engine is a library whose caller waits for every answer.

A workload object owns its Spark-side state between calls: ``setup`` builds
what the loop serves from, ``prepare`` builds the oracle and the seeded
inputs outside any timing, and ``op(i)`` runs client operation i, checks its
answer and returns its wall time, leaving a per-part split in ``last``
(query kind -> seconds, or build/merge/verify -> seconds). Replaying ``op(i)``
repeats the same operation on the same inputs.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from awesome_spark_search.build import build_index
from awesome_spark_search.executor import QueryExecutor
from awesome_spark_search.merge import merge_packed_indexes

from oracle import OracleIndex

import gen
import verify

K = 10
WARM_QUERY = "index"
# serve-mixed warms up with a misspelled word as well: the first correction
# job of a session pays a one-time cost (about 3 s on a 4-core VM) that
# later corrections do not, and it belongs in setup, not in the one
# `corrected` query of a measured block
WARM_SERVE_QUERY = "index indx"
BLOB_COLS = ("doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb")


class Ctx:
    """One run's shared state: seed, session, tracer, failure counts."""

    def __init__(self, seed: int, out_dir: str):
        self.seed = seed
        self.out_dir = out_dir
        self.spark = None
        self.tracer = None          # a tracing.Tracer during the traced phase
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.builds: dict[str, dict] = {}

    def group(self, name: str) -> None:
        """Tag the following Spark jobs (traced phase only)."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    def begin(self, op_id: str) -> None:
        if self.tracer is not None:
            self.tracer.op_id = op_id
        self.group(op_id)

    def stage_group(self, stage: str) -> dict:
        """Span fields for a StageRunner stage; its jobs get a group of their own."""
        self.group(f"{self.tracer.op_id}/stage:{stage}")
        return {"stage": stage}

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def record(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{what}: {reason}")


def timed_build(ctx: Ctx, op_id: str, src, checkpoint_dir: str | None):
    """build_index as jobs/build_index.py calls it (checkpointed) or with the
    library defaults (in memory), then a count on each returned frame."""
    ctx.group(f"{op_id}/build_index")
    with ctx.span("build.build_index"):
        idx = build_index(ctx.spark, src, checkpoint_dir=checkpoint_dir)
    ctx.group(f"{op_id}/packed")
    with ctx.span("build.packed_count"):
        idx.packed.count()
    ctx.group(f"{op_id}/term_stats")
    with ctx.span("build.term_stats_count"):
        idx.term_stats.count()
    ctx.builds[op_id] = {
        "checkpointed": checkpoint_dir is not None,
        "lineage_write_s": sum(m["wall_sec"] for m in idx.build_metrics),
    }
    return idx


def packed_profile(ctx: Ctx, index) -> tuple[dict[str, int], int, int]:
    """(packed rows per term, blob bytes, postings) of a packed index, as an
    untimed job of its own."""
    ctx.group("aux")
    blob = sum((F.octet_length(c) for c in BLOB_COLS[1:]), F.octet_length(BLOB_COLS[0]))
    rows = index.packed.groupBy("term").agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n").alias("n"), F.sum(blob).alias("bytes")
    ).collect()
    return ({r["term"]: r["rows"] for r in rows},
            sum(r["bytes"] for r in rows), sum(r["n"] for r in rows))


class ServeMixed:
    name = "serve-mixed"
    block = len(gen.SERVE_BLOCK)
    max_ops = 10 ** 6

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        ctx = self.ctx
        ctx.begin("setup")
        ctx.spark.catalog.clearCache()
        self.pdf = gen.serve_corpus(ctx.seed)
        self.src = ctx.spark.createDataFrame(self.pdf)
        self.index = timed_build(ctx, "setup", self.src, None)
        self.ex = QueryExecutor(ctx.spark, self.index, source_df=self.src, use_packed=True)
        ctx.group("setup/warm")
        self.ex.search(WARM_SERVE_QUERY, k=K).collect()

    def prepare(self) -> None:
        contents = dict(zip(self.pdf["doc_id"].tolist(), self.pdf["content"].tolist()))
        oracle = OracleIndex(contents, do_stem=True)
        self.checker = verify.Checker(oracle, contents, K)
        qgen = gen.QueryGen(gen.query_rng(self.ctx.seed, 1), list(contents.values()),
                            set(oracle.postings))
        self.stream = gen.serve_stream(qgen)
        self.queries: list[gen.Query] = []
        self.query_parts: dict[str, tuple[float, str]] = {}

    def op(self, i: int) -> float:
        """Query i of the stream (the same query each time i is replayed)."""
        ctx = self.ctx
        while len(self.queries) <= i:
            self.queries.append(next(self.stream))
        q = self.queries[i]
        op_id = f"q{i}"
        gc.collect()    # the previous answer check's garbage, outside timing
        t0 = time.perf_counter()
        ctx.begin(op_id)
        try:
            rows = self.ex.search(q.text, k=K).collect()
        except Exception as e:  # a failed query is counted, the loop goes on
            ctx.record(f"{q.kind} {q.text!r}", f"{type(e).__name__}: {e}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.last = {{"mixed": "phrase"}.get(q.kind, q.kind): dt}
        if ctx.tracer is not None:
            self.query_parts[op_id] = (dt, op_id)
        reason = self.checker.check(
            q, [(r["doc_id"], r["score"]) for r in rows], self.ex.last_corrections
        )
        ctx.record(f"{q.kind} {q.text!r}", reason)
        return dt

    def aux(self) -> dict:
        rows, blob_bytes, postings = packed_profile(self.ctx, self.index)
        return {"rows_by_op": {op_id: rows for op_id in self.query_parts},
                "bytes_per_posting": blob_bytes / max(postings, 1),
                "merge_output_bytes": []}


class BuildMerge:
    name = "build-merge"
    block = 2                                    # merge rounds
    max_ops = gen.MAX_ROUNDS

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ckpt_root = os.path.join(ctx.out_dir, "checkpoints")

    def setup(self) -> None:
        ctx = self.ctx
        ctx.begin("setup")
        ctx.spark.catalog.clearCache()
        self.base_pdf, self.deltas = gen.build_corpus(ctx.seed)
        base = timed_build(ctx, "setup", ctx.spark.createDataFrame(self.base_pdf), None)
        # the warm-up batch has the verification batch's kinds (keyword,
        # phrase, Mixed): the first phrase kernel of a session pays a
        # one-time cost that would otherwise land in the first merge round
        phrase = gen.warm_phrase(self.base_pdf["content"].tolist())
        ctx.group("setup/warm")
        QueryExecutor(ctx.spark, base, use_packed=True).search_many(
            {"w": WARM_QUERY, "p": phrase, "m": f"{phrase} {WARM_QUERY}"}, k=K).collect()
        self.states = [base]        # states[i]: the index round i merges into

    def prepare(self) -> None:
        base = dict(zip(self.base_pdf["doc_id"].tolist(), self.base_pdf["content"].tolist()))
        self.oracle = OracleIndex(base, do_stem=True)
        self.checker = verify.Checker(self.oracle, base, K)
        self.rng = gen.query_rng(self.ctx.seed, 2)
        self.content_bytes = sum(len(c.encode()) for c in base.values())
        self.batches: list[dict[str, gen.Query]] = []
        self.cached: dict[int, list] = {}      # frames round i persisted
        self.traced_merged: dict[str, object] = {}
        self.query_parts: dict[str, tuple[float, str]] = {}

    def checkpointed_build(self) -> float:
        """The base again, built as jobs/build_index.py builds it: every stage
        checkpointed to Parquet in a fresh directory. Returns on-disk bytes
        of all stages (manifests excluded: they hold wall times) per content
        byte. Traced runs only; its figures count among the builds."""
        root = os.path.join(self.ckpt_root, "base")
        shutil.rmtree(root, ignore_errors=True)
        self.ctx.begin("ckpt")
        timed_build(self.ctx, "ckpt", self.ctx.spark.createDataFrame(self.base_pdf),
                    os.path.join(root, "stages"))
        total = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root) for f in files
            if not f.endswith("_manifest.json")
        )
        return total / self.content_bytes

    def op(self, i: int) -> float:
        """Round i: build delta i, fold it into states[i], serve a
        verification batch from the result. Replaying round i starts again
        from states[i]. Oracle upkeep and query drawing are untimed."""
        ctx = self.ctx
        op_id = f"r{i}"
        delta = self.deltas[i]
        # a replay would otherwise find its frames already cached: Spark
        # reuses the cache of an identical plan
        for frame in self.cached.pop(i, []):
            frame.unpersist(blocking=True)
        gc.collect()    # the previous answer check's garbage, outside timing
        t0 = time.perf_counter()
        ctx.begin(op_id)
        didx = timed_build(ctx, op_id, ctx.spark.createDataFrame(delta), None)
        t1 = time.perf_counter()
        ctx.group(f"{op_id}/merge")
        with ctx.span("merge.merge_packed_indexes"):
            merged = merge_packed_indexes(ctx.spark, [self.states[i], didx])
        ctx.group(f"{op_id}/merge_packed")
        with ctx.span("merge.packed_count"):
            merged.packed.count()
            merged.term_stats.count()
        t2 = time.perf_counter()

        docs = dict(zip(delta["doc_id"].tolist(), delta["content"].tolist()))
        verify.extend_oracle(self.oracle, docs)
        self.checker.contents.update(docs)
        ctx.record(f"merge {op_id} stats", self.checker.check_stats(merged.stats))
        if len(self.batches) <= i:
            qgen = gen.QueryGen(self.rng, list(docs.values()), set(self.oracle.postings))
            self.batches.append(gen.verify_batch(qgen))
        batch = self.batches[i]

        t3 = time.perf_counter()
        ctx.group(f"{op_id}/verify")
        ex = QueryExecutor(ctx.spark, merged, use_packed=True)
        rows = ex.search_many({qid: q.text for qid, q in batch.items()}, k=K).collect()
        t4 = time.perf_counter()
        by_qid: dict[str, list] = {qid: [] for qid in batch}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_qid[r["query_id"]].append((r["doc_id"], r["score"]))
        for qid, q in batch.items():
            reason = self.checker.check(q, by_qid[qid], ex.last_corrections)
            ctx.record(f"{op_id} {q.kind} {q.text!r}", reason)

        del self.states[i + 1:]
        self.states.append(merged)
        self.cached[i] = [didx.doc_map, didx.postings, didx.packed, didx.term_stats,
                          merged.doc_map, merged.packed, merged.term_stats]
        self.last = {"build": t1 - t0, "merge": t2 - t1, "verify": t4 - t3}
        if ctx.tracer is not None:
            self.traced_merged[op_id] = merged
            self.query_parts[op_id] = (t4 - t3, f"{op_id}/verify")
        return (t2 - t0) + (t4 - t3)

    def aux(self) -> dict:
        out = {"rows_by_op": {}, "merge_output_bytes": [], "bytes_per_posting": 0.0}
        for op_id, m in self.traced_merged.items():
            rows, blob_bytes, postings = packed_profile(self.ctx, m)
            out["rows_by_op"][op_id] = rows
            out["merge_output_bytes"].append(blob_bytes)
            out["bytes_per_posting"] = blob_bytes / max(postings, 1)
        return out


WORKLOADS = {w.name: w for w in (ServeMixed, BuildMerge)}
