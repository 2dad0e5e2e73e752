"""The merge's stats from its sources' additive totals, and its doc_id range
rule: merged stats EQUAL a rebuild's field by field (the avgdl formula is
shared, so they are bit-equal, not close), sources whose doc_id ranges do
not overlap merge with no Spark job at all, and overlapping ranges still
run the doc_map duplicate probe."""

import pytest

from awesome_spark_search import corpus
from awesome_spark_search.build import build_index
from awesome_spark_search.merge import merge_packed_indexes


def _word(i, words=("merge", "buffer", "sort", "alpha", "beta", "gamma", "delta")):
    return words[i % len(words)]


def _fielded_rows(empty_title_for_even: bool):
    rows = []
    for d in range(40):
        body = " ".join(_word(d + j) for j in range(1 + (d * 3) % 9))
        title = " ".join(_word(d * 2 + j) for j in range(1 + d % 3))
        if empty_title_for_even and d % 2 == 0:
            title = ""
        rows.append((d, body, title))
    return rows


def _case(spark, name):
    """(sources, rebuilt) for one split of a corpus."""
    if name.startswith("fielded"):
        src = spark.createDataFrame(
            _fielded_rows(name == "fielded_empty_field"),
            "doc_id long, body string, title string",
        )
        kw = dict(do_stem=False, doc_shard_size=8,
                  field_weights={"body": 1.0, "title": 0.5})
        parts = [src.filter(f"doc_id % 2 = {i}") for i in (0, 1)]
    else:
        src = spark.createDataFrame(corpus.generate_pandas(90, seed=11))
        kw = dict(do_stem=False, doc_shard_size=16)
        parts = {
            "contiguous": [src.filter("doc_id < 45"), src.filter("doc_id >= 45")],
            "parity": [src.filter(f"doc_id % 2 = {i}") for i in (0, 1)],
            "three_way": [src.filter(f"doc_id % 3 = {i}") for i in range(3)],
        }[name]
    return [build_index(spark, p, **kw) for p in parts], build_index(spark, src, **kw)


@pytest.mark.parametrize(
    "name", ["contiguous", "parity", "three_way", "fielded", "fielded_empty_field"]
)
def test_merged_stats_equal_rebuilt_stats(spark, name):
    sources, rebuilt = _case(spark, name)
    merged = merge_packed_indexes(spark, sources)
    assert merged.stats == rebuilt.stats
    if name == "fielded_empty_field":
        # the even source's title is empty everywhere: its avgdl takes the
        # 1.0 floor, and the merged one is the rebuild's true mean
        assert sources[0].stats.tokens_by_field["title"] == 0
        assert sources[0].stats.avgdl_by_field["title"] == 1.0
        assert merged.stats.avgdl_by_field["title"] != 1.0


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_range_disjoint_merge_runs_no_spark_job(spark):
    """Contiguous sources, an empty one among them: no probe, no stats
    aggregate — merge_packed_indexes itself runs no job. Interleaved ranges
    (the parity split) pay the duplicate probe."""
    src = spark.createDataFrame(corpus.generate_pandas(60, seed=5))
    kw = dict(do_stem=False, doc_shard_size=16)
    parts = [
        build_index(spark, src.filter(cond), **kw)
        for cond in ("doc_id < 30", "doc_id >= 30", "doc_id < 0")
    ]
    merged, n_jobs = _jobs(spark, "merge_disjoint", lambda: merge_packed_indexes(spark, parts))
    assert n_jobs == 0
    assert merged.stats.n_docs == 60 and merged.packed.count() > 0

    evens, odds = (build_index(spark, src.filter(f"doc_id % 2 = {i}"), **kw) for i in (0, 1))
    _, n_jobs = _jobs(spark, "merge_interleaved", lambda: merge_packed_indexes(spark, [evens, odds]))
    assert n_jobs > 0


def test_overlapping_ranges_sharing_an_id_raise(spark):
    """Ranges [0, 4] and [3, 7] overlap and share doc 4: the probe finds it.
    Doc 4's terms differ between the sources, so no packed group holds both
    copies and the merge kernel alone would never see the collision."""
    def build(rows):
        src = spark.createDataFrame(rows, "doc_id long, content string")
        return build_index(spark, src, do_stem=False, doc_shard_size=16)

    a = build([(0, "merge buffer"), (2, "buffer scan"), (4, "alpha beta")])
    b = build([(3, "sort window"), (4, "gamma delta"), (7, "merge sort")])
    with pytest.raises(ValueError, match="share doc_ids"):
        merge_packed_indexes(spark, [a, b])
