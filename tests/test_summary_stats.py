"""An index root's IndexStats travel in its build_summary.json as additive
totals: build.load_index rebuilds them from there with no Spark job,
a summary without them is refused, and a resumed build whose checkpointed
``stats`` stage predates the totals re-runs that one stage. The job mains
run in-process, on the test session."""

import json
import os
import shutil
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))

import build_index as build_job  # noqa: E402

from awesome_spark_search import corpus  # noqa: E402
from awesome_spark_search.build import build_index, load_index, summary_path  # noqa: E402


@pytest.fixture(scope="module")
def built_root(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("summary_stats")
    src = str(d / "src.parquet")
    corpus.generate_pandas(80, seed=13).to_parquet(src, index=False)
    root = str(d / "ix")
    assert build_job.main(["--source", src, "--out", root]) == 0
    return src, root


def test_load_index_runs_no_job_of_its_own(spark, built_root):
    """load_index reads its three stages with the schemas the summary
    records, so of the jobs Spark's own reads of them run (file listing,
    Parquet schema inference) only the parallel listings of the
    term_bucket= directories of packed and term_stats remain: 2 jobs, no
    inference, no stats aggregate. The recorded schemas equal the inferred
    ones, and its stats equal the in-memory build's, field by field."""
    src, root = built_root
    sc = spark.sparkContext
    stages = [os.path.join(root, "stages", s) for s in ("packed", "doc_map", "term_stats")]

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    load_index(spark, root)  # warm: both counts below see the same caches
    inferred, read_jobs = jobs("read_stages", lambda: [spark.read.parquet(p) for p in stages])
    idx, load_jobs = jobs("load_index", lambda: load_index(spark, root))
    assert load_jobs == 2 and read_jobs > load_jobs, (load_jobs, read_jobs)
    assert [idx.packed.schema, idx.doc_map.schema, idx.term_stats.schema] == [
        df.schema for df in inferred
    ]
    assert idx.stats == build_index(spark, spark.read.parquet(src)).stats


def test_a_summary_without_totals_is_refused(spark, built_root, tmp_path):
    _, root = built_root
    old = str(tmp_path / "old")
    shutil.copytree(root, old)
    with open(summary_path(old)) as f:
        s = json.load(f)
    del s["tokens_by_field"]
    with open(summary_path(old), "w") as f:
        json.dump(s, f)
    with pytest.raises(ValueError, match="older version.*rebuild"):
        load_index(spark, old)


def test_resume_reruns_a_stats_stage_without_totals(spark, built_root, tmp_path, capsys):
    """A stats stage checkpointed in the old layout (avgdl columns, no
    token totals or min_doc_id) is re-run on resume — only that stage — and
    the summary's stats equal a fresh build's."""
    src, root = built_root
    resumed = str(tmp_path / "resumed")
    shutil.copytree(root, resumed)
    with open(summary_path(root)) as f:
        fresh = json.load(f)
    spark.createDataFrame(
        [(fresh["n_docs"], fresh["total_tokens"], fresh["avgdl"], fresh["max_doc_id"],
          fresh["avgdl"])],
        "n_docs long, total_tokens long, avgdl double, max_doc_id long, avgdl_0 double",
    ).write.mode("overwrite").parquet(os.path.join(resumed, "stages", "stats"))
    capsys.readouterr()
    assert build_job.main(["--source", src, "--out", resumed]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [m["stage"] for m in summary["stages"]] == ["stats"]
    assert load_index(spark, resumed).stats == load_index(spark, root).stats
