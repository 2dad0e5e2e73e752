"""Per-layer metrics of a traced run.

Each layer figure is taken per operation (a query, or a merge round) and
reported as its median (``.p50``) and its workload total (``.total``); build
figures are per build and merge figures per merge. A workload that never
enters a layer reports 0 for it.
"""

from __future__ import annotations

import statistics

from tracing import GroupStats, merged

# wand entry points that build a query plan, and the terms each one scans
WAND_PLANS = {
    "wand_topk": lambda a: list(a[2]),
    "phrase_topk": lambda a: list(a[2]),
    "mixed_topk": lambda a: list(a[2]) + list(a[3]),
    "boolean_docs": lambda a: _spec_terms(a[2]),
    "batch_topk": lambda a: [t for ph, kw in a[2].values() for t in [*ph, *kw]],
}

PER_OP = [
    ("queries.parse_s", "s"), ("spell.calls", "count"), ("spell.correct_s", "s"),
    ("executor.driver_s", "s"), ("executor.localize_s", "s"), ("wand.plan_s", "s"),
    ("wand.packed_rows", "count"), ("wand.kernel_task_s", "s"),
    ("snippets.generate_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.action_s", "s"), ("spark.task_s", "s"),
    ("spark.parallelism", "ratio"), ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"), ("spark.spill_bytes", "B"),
]
PER_BUILD = [
    ("build.stats_s", "s"), ("build.packed_s", "s"), ("build.term_stats_s", "s"),
    ("build.tokenize_task_s", "s"), ("build.pack_task_s", "s"),
    ("build.shuffle_bytes", "B"), ("lineage.write_s", "s"),
]
PER_MERGE = [
    ("merge.call_s", "s"), ("merge.packed_s", "s"), ("merge.shuffle_bytes", "B"),
    ("merge.output_bytes", "B"),
]
SINGLE = [
    ("codec.bytes_per_posting", "B"), ("trace.overhead_s", "s"),
    ("trace.overhead_ratio", "ratio"), ("host.control_s", "s"),
    # the median operation, per-kind and per-phase times of the traced
    # run's untraced halves
    ("op_p50_s", "s"), ("serve.keyword_p50_s", "s"), ("serve.corrected_p50_s", "s"),
    ("serve.phrase_p50_s", "s"), ("serve.boolean_p50_s", "s"),
    ("serve.prf_p50_s", "s"), ("serve.query_tail_s", "s"),
    ("ingest.build_docs_per_s", "1/s"), ("ingest.merge_s", "s"),
    ("ingest.merged_query_p50_s", "s"), ("ingest.index_bytes_per_content_byte", "ratio"),
]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = []
    for name, unit in PER_OP + PER_BUILD + PER_MERGE:
        out += [(f"{name}.p50", unit), (f"{name}.total", unit)]
    return out + SINGLE


def _spec_terms(spec) -> list[str]:
    if spec[0] == "terms":
        return list(spec[1])
    return _spec_terms(spec[1]) + _spec_terms(spec[2])


def _of(groups: dict[str, GroupStats], prefix: str) -> GroupStats:
    return merged(groups, [g for g in groups if g == prefix or g.startswith(prefix + "/")])


def per_op(tracer, groups, wl, aux) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {name: [] for name, _ in PER_OP}
    for op_id, (query_s, query_group) in wl.query_parts.items():
        g = _of(groups, op_id)
        rows = aux["rows_by_op"].get(op_id, {})
        packed_rows = sum(
            sum(rows.get(t, 0) for t in set(s["terms"])) for s in tracer.find("wand.plan", op_id)
        )
        vals = {
            "queries.parse_s": tracer.total("queries.parse", op_id),
            "spell.calls": tracer.count("spell.correct_terms", op_id),
            "spell.correct_s": tracer.total("spell.correct_terms", op_id),
            "executor.driver_s": query_s - merged(groups, [query_group]).action_s,
            "executor.localize_s": tracer.total("executor.localize", op_id),
            "wand.plan_s": tracer.total("wand.plan", op_id),
            "wand.packed_rows": packed_rows,
            "wand.kernel_task_s": g.pandas_group_task_s,
            "snippets.generate_s": tracer.total("snippets.generate_snippet", op_id),
            "spark.jobs": len(g.jobs),
            "spark.stages": g.stages,
            "spark.tasks": g.tasks,
            "spark.action_s": g.action_s,
            "spark.task_s": g.task_s,
            "spark.parallelism": g.task_s / g.stage_wall_s if g.stage_wall_s else 0.0,
            "spark.shuffle_write_bytes": g.shuffle_write,
            "spark.shuffle_read_bytes": g.shuffle_read,
            "spark.spill_bytes": g.spill,
        }
        for name, v in vals.items():
            out[name].append(v)
    return out


def per_build(tracer, groups, builds: dict[str, dict]) -> dict[str, list[float]]:
    """Checkpointed builds tokenize in the postings stage and pack in the
    packed stage; in-memory builds do both in the packed frame's count job,
    split at its shuffle boundary."""
    out: dict[str, list[float]] = {name: [] for name, _ in PER_BUILD}
    for b, info in builds.items():
        if info["checkpointed"]:
            tok = groups.get(f"{b}/stage:postings", GroupStats())
            pack = groups.get(f"{b}/stage:packed", GroupStats())
            tok_s, pack_s = tok.task_s, pack.task_s
            shuffle = tok.shuffle_write + pack.shuffle_write
        else:
            g = groups.get(f"{b}/packed", GroupStats())
            tok_s, pack_s, shuffle = g.pre_shuffle_task_s, g.post_shuffle_task_s, g.shuffle_write
        vals = {
            "build.stats_s": tracer.total("build.build_index", b),
            "build.packed_s": tracer.total("build.packed_count", b),
            "build.term_stats_s": tracer.total("build.term_stats_count", b),
            "build.tokenize_task_s": tok_s,
            "build.pack_task_s": pack_s,
            "build.shuffle_bytes": shuffle,
            "lineage.write_s": info["lineage_write_s"],
        }
        for name, v in vals.items():
            out[name].append(v)
    return out


def per_merge(tracer, groups, wl, aux) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {name: [] for name, _ in PER_MERGE}
    for i, output_bytes in enumerate(aux["merge_output_bytes"]):
        op_id = f"r{i}"
        out["merge.call_s"].append(tracer.total("merge.merge_packed_indexes", op_id))
        out["merge.packed_s"].append(tracer.total("merge.packed_count", op_id))
        out["merge.shuffle_bytes"].append(
            merged(groups, [f"{op_id}/merge", f"{op_id}/merge_packed"]).shuffle_write
        )
        out["merge.output_bytes"].append(output_bytes)
    return out


def summarize(series: dict[str, list[float]]) -> dict[str, float]:
    """name -> {name.p50, name.total}; parallelism totals are a ratio of sums."""
    out = {}
    for name, vals in series.items():
        out[f"{name}.p50"] = statistics.median(vals) if vals else 0.0
        out[f"{name}.total"] = float(sum(vals))
    return out


def report(tracer, groups, wl, aux, builds, singles: dict[str, float]) -> dict[str, dict]:
    ops = per_op(tracer, groups, wl, aux)
    values = summarize(ops)
    all_ops = merged(groups, [g for g in groups if any(
        g == op or g.startswith(op + "/") for op in wl.query_parts)])
    values["spark.parallelism.total"] = (
        all_ops.task_s / all_ops.stage_wall_s if all_ops.stage_wall_s else 0.0
    )
    values.update(summarize(per_build(tracer, groups, builds)))
    values.update(summarize(per_merge(tracer, groups, wl, aux)))
    values.update(singles)
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in names()}
