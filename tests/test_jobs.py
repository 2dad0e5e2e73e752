"""End-to-end spark-submit entrypoints: build an index on disk with
jobs/build_index.py, resume it, then query it with jobs/query.py — each in a
fresh subprocess (the spark-submit execution model minus the wrapper)."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=420, returncode=0):
    proc = subprocess.run(
        [sys.executable, *args],
        capture_output=True, text=True, cwd=REPO, timeout=timeout,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert proc.returncode == returncode, proc.stderr[-4000:]
    return proc.stdout if returncode == 0 else proc.stderr


def _json_lines(stdout):
    return [json.loads(l) for l in stdout.strip().splitlines() if l.startswith("{")]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    import pandas  # noqa: F401  (pyarrow write below)
    from awesome_spark_search import corpus

    d = tmp_path_factory.mktemp("jobs_corpus")
    pdf = corpus.generate_pandas(150, seed=9)
    path = str(d / "src.parquet")
    pdf.to_parquet(path, index=False)
    return path


def test_build_then_query_jobs(corpus_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("jobs_index"))

    stdout = _run(["jobs/build_index.py", "--source", corpus_dir, "--out", out])
    summary = json.loads(stdout.strip().splitlines()[-1])
    assert summary["n_docs"] == 150
    # packed is the only stored form of the postings
    assert {m["stage"] for m in summary["stages"]} == {
        "doc_map", "stats", "packed", "term_stats"
    }
    assert sorted(os.listdir(os.path.join(out, "stages"))) == sorted(
        f for s in ("doc_map", "stats", "packed", "term_stats")
        for f in (s, f"{s}._manifest.json")
    )
    assert os.path.exists(os.path.join(out, "build_summary.json"))

    # resume: a second run must skip every stage
    stdout2 = _run(["jobs/build_index.py", "--source", corpus_dir, "--out", out])
    summary2 = json.loads(stdout2.strip().splitlines()[-1])
    assert summary2["stages"] == []
    assert summary2["n_docs"] == 150

    # query the on-disk index from a fresh process
    stdout3 = _run([
        "jobs/query.py", "--index", out, "--source", corpus_dir,
        "buffer merge", '"merge sort buffer"',
    ])
    lines = [json.loads(l) for l in stdout3.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 2
    assert all(len(l["results"]) > 0 for l in lines)
    # deterministic ordering: score desc, doc_id asc
    for l in lines:
        scores = [r["score"] for r in l["results"]]
        assert scores == sorted(scores, reverse=True)

    # the default path serves the packed block-max WAND plan AND applies
    # spelling corrections: a typo'd query ranks like its correction
    typo, fixed = _json_lines(_run([
        "jobs/query.py", "--index", out, "--source", corpus_dir, "mrege", "merge",
    ]))
    assert typo["corrections"] == {"mrege": "merg"} and fixed["corrections"] == {}
    assert typo["results"] and typo["results"] == fixed["results"]

    # --batch --scorer ql (keyword, prefix and phrase via ql_topk_many)
    # returns EXACTLY the per-query QL lines
    ql_args = ["--index", out, "--source", corpus_dir, "--scorer", "ql",
               "buffer merge", "token*", '"merge sort"']
    ql_lines = _json_lines(_run(["jobs/query.py", *ql_args]))
    ql_batch = _json_lines(_run(["jobs/query.py", "--batch", *ql_args]))
    assert all(l["results"] for l in ql_lines)
    assert [l["results"] for l in ql_batch] == [l["results"] for l in ql_lines]

    # clean errors, no tracebacks: a query --batch cannot serve, and an index
    # root without packed postings
    err = _run([
        "jobs/query.py", "--index", out, "--batch", "buffer AND merge",
    ], returncode=2)
    assert "error:" in err and "one-pass queries only" in err
    assert "Traceback" not in err
    empty = str(tmp_path_factory.mktemp("no_index"))
    err = _run(["jobs/query.py", "--index", empty, "buffer"], returncode=2)
    assert "no packed postings" in err and "Traceback" not in err

    # --batch: BOTH queries (a keyword bag + a phrase) in ONE Spark action
    # off the on-disk packed index, result parity with the per-query lines
    stdout5 = _run([
        "jobs/query.py", "--index", out, "--source", corpus_dir, "--batch",
        "buffer merge", '"merge sort buffer"',
    ])
    blines = [json.loads(l) for l in stdout5.strip().splitlines() if l.startswith("{")]
    assert len(blines) == 2
    for batch_l, per_q in zip(blines, lines):
        assert [r["doc_id"] for r in batch_l["results"]] == [
            r["doc_id"] for r in per_q["results"]
        ]
        for b, p in zip(batch_l["results"], per_q["results"]):
            assert abs(b["score"] - p["score"]) < 1e-9

    # --- delta compaction deployment: split the corpus by doc parity, build
    # two half indexes, fold them with jobs/merge_index.py, and the merged
    # root must serve IDENTICAL results to the full index above through
    # jobs/query.py (fresh processes throughout)
    import pandas as pd

    d = tmp_path_factory.mktemp("jobs_merge")
    full_pdf = pd.read_parquet(corpus_dir)
    a_path, b_path = str(d / "a.parquet"), str(d / "b.parquet")
    full_pdf[full_pdf.doc_id % 2 == 0].to_parquet(a_path, index=False)
    full_pdf[full_pdf.doc_id % 2 == 1].to_parquet(b_path, index=False)
    out_a, out_b, out_m = str(d / "ix_a"), str(d / "ix_b"), str(d / "ix_m")
    _run(["jobs/build_index.py", "--source", a_path, "--out", out_a])
    _run(["jobs/build_index.py", "--source", b_path, "--out", out_b])
    mout = _run(["jobs/merge_index.py", "--out", out_m, out_a, out_b])
    # overlapping sources: a one-line error and exit 2, never a traceback
    err = _run(
        ["jobs/merge_index.py", "--out", str(d / "ix_bad"), out_a, out_a],
        returncode=2,
    )
    assert "error:" in err and "share doc_ids" in err
    assert "Traceback" not in err
    msummary = json.loads(mout.strip().splitlines()[-1])
    assert msummary["n_docs"] == 150
    assert os.path.exists(os.path.join(out_m, "build_summary.json"))
    # the merge writes the serving stages alone, each with its manifest
    assert sorted(os.listdir(os.path.join(out_m, "stages"))) == sorted(
        f for s in ("doc_map", "packed", "term_stats")
        for f in (s, f"{s}._manifest.json")
    )

    stdout5 = _run([
        "jobs/query.py", "--index", out_m, "--source", corpus_dir,
        "buffer merge", '"merge sort buffer"',
    ])
    mlines = [
        json.loads(l) for l in stdout5.strip().splitlines() if l.startswith("{")
    ]
    for merged_line, full_line in zip(mlines, lines):
        assert [r["doc_id"] for r in merged_line["results"]] == [
            r["doc_id"] for r in full_line["results"]
        ]
        for mr, fr in zip(merged_line["results"], full_line["results"]):
            assert abs(mr["score"] - fr["score"]) < 1e-9


def test_query_job_refuses_another_bucket_count(corpus_dir, tmp_path_factory):
    """jobs/query.py serves only roots whose build_summary.json records the
    one term-bucket count, build.TERM_BUCKETS: a root recording 8 buckets
    (a build of an older version with a bucket setting) is refused with one
    error line that says to rebuild, never pruned with the wrong hash into
    a silent []. A root without the recorded layout is refused the same
    way."""
    root = str(tmp_path_factory.mktemp("jobs_buckets"))
    _run(["jobs/build_index.py", "--source", corpus_dir, "--out", root])
    summary = os.path.join(root, "build_summary.json")
    with open(summary) as f:
        s = json.load(f)
    assert s["term_buckets"] == 64

    for edit, why in (
        (lambda s: s.update(term_buckets=8), "built with 8 term buckets"),
        (lambda s: s.pop("term_buckets"), "older version"),
    ):
        edit(s)
        with open(summary, "w") as f:
            json.dump(s, f)
        err = _run(["jobs/query.py", "--index", root, "buffer"], returncode=2)
        errors = [l for l in err.splitlines() if l.startswith("error:")]
        assert len(errors) == 1 and why in errors[0] and "rebuild" in errors[0], err
        assert "Traceback" not in err


def _tree(root):
    """{relative path: file bytes} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_merge_into_an_input_root_and_negative_k_are_refused(corpus_dir, tmp_path_factory):
    """jobs/merge_index.py refuses an --out that is one of its input roots
    (spelled differently, so the check compares real paths) with a one-line
    error, before writing anything: the input's files are unchanged.
    jobs/query.py refuses --k -1 the same way."""
    import pandas as pd

    d = tmp_path_factory.mktemp("jobs_out_is_input")
    full_pdf = pd.read_parquet(corpus_dir)
    roots = {}
    for name, parity in (("a", 0), ("b", 1)):
        path = str(d / f"{name}.parquet")
        full_pdf[full_pdf.doc_id % 2 == parity].to_parquet(path, index=False)
        roots[name] = str(d / f"ix_{name}")
        _run(["jobs/build_index.py", "--source", path, "--out", roots[name]])
    before = _tree(roots["a"])
    err = _run(
        ["jobs/merge_index.py", "--out", roots["a"] + "/./", roots["a"], roots["b"]],
        returncode=2,
    )
    # refused before Spark starts: the error line is all there is
    assert err.strip().startswith("error:") and "input roots" in err, err
    assert len(err.strip().splitlines()) == 1, err
    assert _tree(roots["a"]) == before

    err = _run(["jobs/query.py", "--index", roots["a"], "--k", "-1", "buffer"], returncode=2)
    assert err.strip().splitlines()[-1] == "error: k must be >= 0, not -1", err
    assert "Traceback" not in err


_CRASH_MID_WRITE = """
import sys

sys.path.insert(0, "jobs")
from pyspark.sql.readwriter import DataFrameWriter

stock_parquet = DataFrameWriter.parquet


def parquet(self, path, *args, **kwargs):
    if path.rstrip("/").endswith(sys.argv[1]):
        raise RuntimeError("simulated crash mid-write")
    return stock_parquet(self, path, *args, **kwargs)


DataFrameWriter.parquet = parquet
import build_index, merge_index, query

for job, argv in ((merge_index, sys.argv[2:6]), (build_index, sys.argv[6:10])):
    try:
        job.main(argv)
    except RuntimeError as e:
        print("crashed:", e)
for root in (sys.argv[3], sys.argv[9]):
    print("query exit:", query.main(["--index", root, "buffer"]))
"""


def test_a_crash_mid_write_leaves_a_root_query_refuses(corpus_dir, tmp_path_factory):
    """A merge into a root that holds an index, or a build resuming one,
    that dies at a stage write leaves no build_summary.json beside the
    half-written stages, so jobs/query.py refuses the root with its
    one-line "rebuild" error instead of serving old layout metadata over
    torn stages."""
    import shutil

    import pandas as pd

    d = tmp_path_factory.mktemp("jobs_torn")
    full_pdf = pd.read_parquet(corpus_dir)
    srcs, roots = {}, {}
    for name, parity in (("a", 0), ("b", 1)):
        srcs[name] = str(d / f"{name}.parquet")
        full_pdf[full_pdf.doc_id % 2 == parity].to_parquet(srcs[name], index=False)
        roots[name] = str(d / f"ix_{name}")
        _run(["jobs/build_index.py", "--source", srcs[name], "--out", roots[name]])
    out_m = str(d / "ix_m")
    shutil.copytree(roots["a"], out_m)  # --out already holds a whole index
    # the build's packed stage re-runs once its manifest is gone
    os.remove(os.path.join(roots["a"], "stages", "packed._manifest.json"))
    merge_argv = ["--out", out_m, roots["a"], roots["b"]]
    build_argv = ["--source", srcs["a"], "--out", roots["a"]]

    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_MID_WRITE, "packed", *merge_argv, *build_argv],
        capture_output=True, text=True, cwd=REPO, timeout=420,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = proc.stdout.splitlines()
    assert out.count("crashed: simulated crash mid-write") == 2, out
    assert out.count("query exit: 2") == 2, out
    errors = [l for l in proc.stderr.splitlines() if l.startswith("error:")]
    assert len(errors) == 2 and all("rebuild" in e for e in errors), proc.stderr[-4000:]
    for root in (out_m, roots["a"]):
        assert not os.path.exists(os.path.join(root, "build_summary.json"))
