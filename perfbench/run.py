"""awesome_spark_search benchmark: one seeded workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 8 --trace 0

``--trace 0`` measures with tracing off and reports the end-to-end metrics.
``--trace 1`` makes the traced run over one block of operations, each run
once traced (spans plus Spark event log, its own job group) and once
untraced, and reports the per-layer metrics with the tracing overhead.
Either way every answer is checked against tests/oracle.py outside the timed
region. A readable report goes to stdout, and the last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Spans are written
to .perfbench_out/. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 2            # the first runs cold, the second warm

# The engine and its oracle are imported from the checkout; a directory
# without them fails here, before any result is printed.
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests")]
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import layers  # noqa: E402
import tracing  # noqa: E402
from verify import UNVERIFIED  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402


def host_control_s(n: int = 2_000_000) -> float:
    """A fixed pure-Python CPU loop: reported beside every run, never gated,
    so that a run taken during a CPU-steal window can be recognised."""
    t0 = time.perf_counter()
    h = 0
    for i in range(n):
        h = (h * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def start_spark(app: str, extra_conf: dict | None = None):
    from awesome_spark_search.session import get_spark

    return get_spark(app, cores=len(os.sched_getaffinity(0)), extra_conf=extra_conf)


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def loop(wl, ctx: Ctx, budget_s: float) -> tuple[list[float], dict[str, list[float]]]:
    """Closed loop, one client: the next operation starts when the previous
    one (and its untimed answer check) is done. Runs whole blocks of
    operations (a fixed mix) until they have taken ``budget_s`` seconds.
    Returns the operation times and the per-part samples."""
    times: list[float] = []
    parts: dict[str, list[float]] = {}
    while len(times) < wl.max_ops and (sum(times) < budget_s or len(times) % wl.block):
        try:
            times.append(wl.op(len(times)))
        except Exception as e:  # an operation that breaks the workload ends the loop
            traceback.print_exc(file=sys.stderr)
            ctx.record(f"op {len(times)}", f"{type(e).__name__}: {e}")
            break
        add_parts(parts, wl.last)
    return times, parts


def add_parts(parts: dict[str, list[float]], last: dict[str, float]) -> None:
    for k, v in last.items():
        parts.setdefault(k, []).append(v)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer samples."""
    s = sorted(samples)
    if len(s) <= 10:
        return 100.0, s[-1]
    return 100.0 * (len(s) - 10) / len(s), s[len(s) - 11]


def p50(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def breakdown_lines(name: str, parts: dict[str, list[float]],
                    values: dict[str, float]) -> list[str]:
    """Readable per-kind (serve) or per-phase (ingest) figures of untraced
    operations; fills the matching per-layer breakdown values."""
    lines = []
    if name == "serve-mixed":
        for kind in ("keyword", "corrected", "phrase", "boolean", "prf"):
            xs = parts.get(kind, [])
            values[f"serve.{kind}_p50_s"] = p50(xs)
            lines.append(f"  {kind:<10} p50 {p50(xs):.4f} s  n={len(xs)}")
        all_q = [dt for xs in parts.values() for dt in xs]
        pct, val = tail(all_q)
        values["serve.query_tail_s"] = val
        lines.append(f"  query tail p{pct:.0f} {val:.4f} s  n={len(all_q)}")
    else:
        from gen import DELTA_DOCS, VERIFY_BATCH

        b = p50(parts["build"])
        values["ingest.build_docs_per_s"] = DELTA_DOCS / b if b else 0.0
        values["ingest.merge_s"] = p50(parts["merge"])
        values["ingest.merged_query_p50_s"] = p50(parts["verify"])
        lines += [
            f"  delta build  p50 {b:.4f} s ({values['ingest.build_docs_per_s']:.1f} docs/s)"
            f"  n={len(parts['build'])}",
            f"  merge        p50 {values['ingest.merge_s']:.4f} s",
            f"  verify batch p50 {values['ingest.merged_query_p50_s']:.4f} s"
            f" ({len(parts['verify'])} batches of {VERIFY_BATCH} queries)",
        ]
    return lines


def run_untraced(wl_cls, ctx: Ctx, seconds: int) -> tuple[dict, list[str]]:
    control = [host_control_s()]
    t0 = time.perf_counter()
    ctx.spark = start_spark(f"perfbench-{wl_cls.name}")
    session_s = time.perf_counter() - t0
    wl = wl_cls(ctx)
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        reps.append(time.perf_counter() - t0)
    wl.prepare()
    gc.freeze()     # the oracle's objects stay out of the collections timed queries trigger
    times, parts = loop(wl, ctx, seconds)
    control.append(host_control_s())
    ctx.spark.stop()

    # throughput, not the median operation, is the end-to-end figure: it
    # takes in every operation of the run, where the median of one 10-query
    # block rests on two queries of whichever kinds sit in the middle
    metrics = {
        "setup_s": (session_s + statistics.median(reps), "s"),
        "ops_per_s": (len(times) / sum(times) if times else 0.0, "1/s"),
    }
    lines = [
        f"{wl_cls.name} seed={ctx.seed}: {len(times)} ops in {sum(times):.2f} s,"
        f" op p50 {p50(times):.4f} s",
        f"  session start {session_s:.3f} s; setup reps "
        + ", ".join(f"{r:.3f}" for r in reps) + " s",
        f"  host control {control[0]:.4f} s before, {control[1]:.4f} s after",
        "  op times " + " ".join(f"{t:.3f}" for t in times) + " s",
    ]
    lines += breakdown_lines(wl.name, parts, {})
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, lines


def install_wrappers(tracer: tracing.Tracer, ctx: Ctx) -> None:
    from awesome_spark_search import executor, lineage, queries, snippets, wand

    tracer.wrap(queries, "parse", "queries.parse")
    tracer.wrap(executor, "correct_terms", "spell.correct_terms")
    tracer.wrap(executor.QueryExecutor, "search", "executor.search")
    tracer.wrap(executor.QueryExecutor, "search_many", "executor.search_many")
    tracer.wrap(executor.QueryExecutor, "_localize", "executor.localize")
    for fn, terms in layers.WAND_PLANS.items():
        tracer.wrap(wand, fn, "wand.plan",
                    capture=lambda a, kw, fn=fn, terms=terms: {"fn": fn, "terms": terms(a)})
    tracer.wrap(snippets, "generate_snippet", "snippets.generate_snippet")
    tracer.wrap(lineage.StageRunner, "run", "lineage.stage",
                capture=lambda a, kw: ctx.stage_group(a[1]))


def run_traced(wl_cls, ctx: Ctx) -> tuple[dict, list[str]]:
    """The fixed operation list, each operation run twice in a row: once
    traced (wrappers installed, its own job group) and once untraced, the
    order alternating between operations. The overhead is the median
    traced-minus-untraced difference of these pairs. The event log is on
    for the whole session, so its own cost falls on both halves."""
    control = host_control_s()
    evdir = os.path.join(OUT, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    ctx.spark = start_spark(f"perfbench-{wl_cls.name}-traced", {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + evdir,
        "spark.eventLog.compress": "false",
    })
    tracer = tracing.Tracer()
    wl = wl_cls(ctx)

    def traced(fn, *args):
        ctx.tracer = tracer
        install_wrappers(tracer, ctx)
        try:
            return fn(*args)
        finally:
            tracer.restore()
            ctx.tracer = None

    traced(wl.setup)
    wl.prepare()
    gc.freeze()
    ctx.spark.sparkContext.setJobGroup("untraced", "untraced")
    wl.op(0)            # warm-up: the first operation of a session runs cold
    pairs, parts = [], {}
    for i in range(wl_cls.block):
        halves = {}
        for is_traced in ((False, True) if i % 2 == 0 else (True, False)):
            if is_traced:
                halves[True] = traced(wl.op, i)
            else:
                ctx.spark.sparkContext.setJobGroup("untraced", "untraced")
                halves[False] = wl.op(i)
                add_parts(parts, wl.last)
        pairs.append((halves[False], halves[True]))
    aux = wl.aux()
    if hasattr(wl, "checkpointed_build"):
        aux["index_bytes_per_content_byte"] = traced(wl.checkpointed_build)
    ctx.spark.stop()
    groups = tracing.parse_eventlog(evdir)

    untraced_p50 = p50([u for u, _ in pairs])
    overhead = p50([t - u for u, t in pairs])
    singles = {
        "codec.bytes_per_posting": aux["bytes_per_posting"],
        "op_p50_s": untraced_p50,
        "trace.overhead_s": overhead,
        "trace.overhead_ratio": overhead / untraced_p50 if untraced_p50 else 0.0,
        "host.control_s": control,
        "ingest.index_bytes_per_content_byte": aux.get("index_bytes_per_content_byte", 0.0),
    }
    lines = [f"{wl_cls.name} seed={ctx.seed} traced run: {len(pairs)} operation pairs, "
             f"untraced p50 {untraced_p50:.4f} s, traced p50 {p50([t for _, t in pairs]):.4f} s, "
             f"overhead p50 {overhead:+.4f} s"]
    lines += breakdown_lines(wl.name, parts, singles)
    metrics = layers.report(tracer, groups, wl, aux, ctx.builds, singles)

    stem = os.path.join(OUT, f"spans-{wl_cls.name}-seed{ctx.seed}")
    tracer.dump(stem + ".jsonl")
    self_s = tracer.self_times()
    with open(stem + ".summary.json", "w") as f:
        json.dump({"self_s": self_s, "metrics": metrics}, f, indent=1, sort_keys=True)
    lines.append("  self time by span: " + ", ".join(
        f"{k} {v:.3f}s" for k, v in sorted(self_s.items(), key=lambda kv: -kv[1])))
    lines.append(f"  spans: {os.path.relpath(stem, ROOT)}.jsonl")
    return metrics, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(OUT, exist_ok=True)
    local_dirs = os.path.join(OUT, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    ctx = Ctx(args.seed, OUT)
    wl_cls = WORKLOADS[args.workload]
    try:
        if args.trace:
            metrics, lines = run_traced(wl_cls, ctx)
        else:
            metrics, lines = run_untraced(wl_cls, ctx, args.seconds)
    finally:
        shutdown_jvm()
        for d in (local_dirs, os.path.join(OUT, "checkpoints"), os.path.join(OUT, "eventlog")):
            shutil.rmtree(d, ignore_errors=True)

    lines.append(f"  checked {ctx.attempted} operations, {ctx.failed} failed")
    lines += [f"  FAILED {f}" for f in ctx.failures[:20]]
    lines += [f"  unverified: {u}" for u in UNVERIFIED]
    print("\n".join(lines))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
