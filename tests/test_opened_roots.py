"""Library operations over index roots opened with build.load_index,
which reads the packed table and no long postings: a merge of two opened
roots and streaming onto an opened base must each equal a build of the
whole corpus. ``build.save_index``, the writer of merged roots, writes any
index (fielded too) so that load_index opens it as it was, and a merge into
a root that holds an index replaces that index whole. The job mains run
in-process, on the test session."""

import json
import os
import shutil
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))

import build_index as build_job  # noqa: E402
import merge_index as merge_job  # noqa: E402

from awesome_spark_search import corpus  # noqa: E402
from awesome_spark_search.build import (  # noqa: E402
    STAGE_LAYOUT, build_index, load_index, save_index,
)
from awesome_spark_search.executor import QueryExecutor  # noqa: E402
from awesome_spark_search.merge import merge_packed_indexes  # noqa: E402
from awesome_spark_search.streaming import IncrementalIndexer  # noqa: E402

N_DOCS = 120
QUERIES = ["buffer merge scan", '"merge sort" buffer', "token*", "buffer AND merge"]


@pytest.fixture(scope="module")
def halves(spark, tmp_path_factory):
    """The whole corpus as a source frame, and one index root per half."""
    d = tmp_path_factory.mktemp("opened_roots")
    pdf = corpus.generate_pandas(N_DOCS, seed=21)
    roots = []
    for name, part in (("a", pdf[pdf.doc_id < N_DOCS // 2]), ("b", pdf[pdf.doc_id >= N_DOCS // 2])):
        src = str(d / f"{name}.parquet")
        part.to_parquet(src, index=False)
        roots.append(str(d / f"ix_{name}"))
        assert build_job.main(["--source", src, "--out", roots[-1]]) == 0
    return spark.createDataFrame(pdf), pdf, roots


@pytest.fixture(scope="module")
def full(spark, halves):
    return build_index(spark, halves[0])


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    return tuple(map(_norm, v)) if isinstance(v, list) else v


def _sorted_rows(df, cols=None):
    return sorted(tuple(_norm(r[c]) for c in cols or sorted(df.columns)) for r in df.collect())


def _term_stats(ix):
    return _sorted_rows(ix.term_stats, ["term", "df", "cf", "term_bucket"])


def test_merge_of_opened_roots_equals_rebuild(spark, halves, full):
    _, _, roots = halves
    merged = merge_packed_indexes(spark, [load_index(spark, r) for r in roots])
    cols = sorted(full.packed.columns)
    assert _sorted_rows(merged.packed, cols) == _sorted_rows(full.packed, cols)
    assert _term_stats(merged) == _term_stats(full)
    assert merged.stats == full.stats


def test_streaming_onto_an_opened_base_equals_rebuild(spark, halves, full, tmp_path):
    src, _, roots = halves
    ingest = IncrementalIndexer(spark, str(tmp_path / "delta"))
    ingest.foreach_batch(src.filter(f"doc_id >= {N_DOCS // 2}").select("doc_id", "content"), 0)
    streamed = ingest.to_index(base=load_index(spark, roots[0]))
    assert _term_stats(streamed) == _term_stats(full)
    assert streamed.stats == full.stats
    ex_s, ex_f = QueryExecutor(spark, streamed), QueryExecutor(spark, full)
    for q in QUERIES:
        want = [(r["doc_id"], r["score"]) for r in ex_f.search(q, k=10).collect()]
        assert want, q
        assert [(r["doc_id"], r["score"]) for r in ex_s.search(q, k=10).collect()] == want, q


def _ranked(spark, ix, q):
    return [(r["doc_id"], r["score"]) for r in QueryExecutor(spark, ix).search(q, k=10).collect()]


def _assert_complete_manifests(root):
    """Every serving stage has a complete manifest whose per-file row
    counts name the stage's files and add up to the stage's rows."""
    for stage in STAGE_LAYOUT:
        with open(os.path.join(root, "stages", f"{stage}._manifest.json")) as f:
            m = json.load(f)
        d = os.path.join(root, "stages", stage)
        assert m["complete"] and m["stage"] == stage
        assert all(os.path.exists(os.path.join(d, p["file"])) for p in m["partitions"])
        assert m["rows"] == sum(p["rows"] for p in m["partitions"]) > 0


def test_a_two_field_index_round_trips(spark, halves, tmp_path):
    """save_index -> load_index keeps a fielded index's field weights,
    stats and stage rows, and the opened root ranks and scores
    zone-weighted queries exactly as the in-memory index."""
    pdf = halves[1].copy()
    pdf["title"] = pdf.content.str.split().str[:6].str.join(" ")
    weights = {"content": 1.0, "title": 0.5}
    idx = build_index(spark, spark.createDataFrame(pdf), field_weights=weights)
    root = str(tmp_path / "fielded")
    summary = save_index(spark, idx, root)
    assert summary["field_weights"] == weights
    assert [m["stage"] for m in summary["stages"]] == list(STAGE_LAYOUT)
    _assert_complete_manifests(root)

    opened = load_index(spark, root)
    assert opened.field_weights == weights
    assert opened.stats == idx.stats
    assert (opened.do_stem, opened.doc_shard_size) == (idx.do_stem, idx.doc_shard_size)
    for stage in STAGE_LAYOUT:
        assert _sorted_rows(getattr(opened, stage)) == _sorted_rows(getattr(idx, stage)), stage
    for q in QUERIES:
        want = _ranked(spark, idx, q)
        assert want, q
        assert _ranked(spark, opened, q) == want, q


def test_merge_job_replaces_an_index_under_out(spark, halves, full, tmp_path):
    """jobs/merge_index.py into a root that holds another whole index (its
    manifests complete) writes every serving stage anew, each with a
    complete manifest, and the root serves the merged rows: those of a
    build of the whole corpus."""
    _, _, roots = halves
    out = str(tmp_path / "out")
    shutil.copytree(roots[0], out)
    assert merge_job.main(["--out", out, *roots]) == 0
    _assert_complete_manifests(out)
    with open(os.path.join(out, "build_summary.json")) as f:
        summary = json.load(f)
    assert [m["stage"] for m in summary["stages"]] == list(STAGE_LAYOUT)
    assert summary["merged_from"] == roots

    merged = load_index(spark, out)
    assert merged.stats == full.stats
    cols = sorted(full.packed.columns)
    assert _sorted_rows(merged.packed, cols) == _sorted_rows(full.packed, cols)
    assert _term_stats(merged) == _term_stats(full)
    assert _sorted_rows(merged.doc_map, ["doc_id", "content_sha256"]) == _sorted_rows(
        full.doc_map, ["doc_id", "content_sha256"]
    )
    for q in QUERIES:
        want = _ranked(spark, full, q)
        assert want, q
        assert _ranked(spark, merged, q) == want, q


def test_save_index_leaves_no_manifest_of_the_index_it_replaces(spark, halves, full, tmp_path):
    """save_index into a root that holds a checkpointed build removes every
    stage manifest of that build, its ``stats`` stage's too: none survives
    beside the new serving stages, so a build resumed into the root later
    recomputes its stats from the stages it resumes and commits stats that
    match them (a surviving manifest would commit the old build's)."""
    _, pdf, roots = halves
    out = str(tmp_path / "out")
    shutil.copytree(roots[0], out)
    stages = os.path.join(out, "stages")
    assert os.path.exists(os.path.join(stages, "stats._manifest.json"))
    save_index(spark, full, out)
    assert sorted(f for f in os.listdir(stages) if f.endswith("._manifest.json")) == sorted(
        f"{s}._manifest.json" for s in STAGE_LAYOUT
    )
    src = str(tmp_path / "full.parquet")
    pdf.to_parquet(src, index=False)
    assert build_job.main(["--source", src, "--out", out]) == 0
    assert load_index(spark, out).stats == full.stats


def _unsorted_files(stages, stage, keys):
    """(files of ``stage`` whose rows are out of ``keys`` order, files read),
    read file by file with pyarrow."""
    import pyarrow.parquet as pq

    bad, n = [], 0
    for d, _, files in os.walk(os.path.join(stages, stage)):
        for f in (f for f in files if f.endswith(".parquet")):
            t = pq.read_table(os.path.join(d, f), columns=keys)
            rows = list(zip(*(t.column(k).to_pylist() for k in keys)))
            n += 1
            if rows != sorted(rows):
                bad.append(os.path.relpath(os.path.join(d, f), stages))
    return bad, n


def test_every_stage_file_is_in_key_order(spark, tmp_path):
    """Every written packed file holds its rows in (term, doc_shard) order
    and every term_stats file in term order, in a checkpointed two-field
    build and in a save_index root alike, so Parquet's per-row-group min/max
    statistics prune term lookups inside a term_bucket. (A sort on the
    partition column that the partitioned writer adds would replace the
    runner's own sort and leave rows in arrival order.)"""
    pdf = corpus.generate_pandas(60, seed=27)
    pdf["title"] = pdf.content.str.split().str[:6].str.join(" ")
    src = spark.createDataFrame(pdf)
    weights = {"content": 1.0, "title": 0.5}
    ckpt = str(tmp_path / "ckpt" / "stages")
    build_index(spark, src, checkpoint_dir=ckpt, doc_shard_size=16, field_weights=weights)
    saved = str(tmp_path / "saved")
    save_index(spark, build_index(spark, src, doc_shard_size=16, field_weights=weights), saved)
    for stages in (ckpt, os.path.join(saved, "stages")):
        for stage, keys in (("packed", ["term", "doc_shard"]), ("term_stats", ["term"])):
            bad, n = _unsorted_files(stages, stage, keys)
            assert n > 1 and not bad, (stages, stage, bad)


def test_load_index_refuses_another_bucket_count(spark, halves, tmp_path):
    """A root whose summary records a term-bucket count other than
    build.TERM_BUCKETS (a build of an older version with a bucket setting)
    is refused with a ValueError that says to rebuild: its terms sit in
    other buckets than the ones a lookup prunes to."""
    root = str(tmp_path / "b8")
    shutil.copytree(halves[2][0], root)
    path = os.path.join(root, "build_summary.json")
    with open(path) as f:
        s = json.load(f)
    with open(path, "w") as f:
        json.dump({**s, "term_buckets": 8}, f)
    with pytest.raises(ValueError, match="built with 8 term buckets.*rebuild"):
        load_index(spark, root)
