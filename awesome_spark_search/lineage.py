"""Checkpoint-resumable stage orchestration with per-partition lineage.

The reference's build is single-process and restarts from zero on failure; its
only resumability is the temp-spill-run files (ref: src/indexing/
DocumentIndexer.java:194-202, 280-297). The rebuild makes resumability a
first-class contract (north rule): every stage writes its output as Parquet
plus a ``_manifest.json`` recording inputs, row counts, per-partition metrics
and wall-clock. A resumed build skips stages whose manifest is complete and
re-reads their Parquet, so a kill between any two stages loses at most one
stage of work. The tokenized posting rows are not a stage (they are never
stored), so a build killed before ``packed`` completes re-tokenizes on
resume, as does a multi-field build's ``term_stats``. Each manifest's
``partitions[].file`` is relative to its stage directory. Every index root
is written through a StageRunner (``build.save_index`` writes merged and
compacted roots), so every root's stages carry manifests.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_json_atomic(path: str, record: dict) -> None:
    """Write ``record`` as JSON to ``path`` via a temp file and os.replace:
    a reader sees the old file, no file, or the whole new one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1)
    os.replace(tmp, path)


class StageRunner:
    """Runs named stages; each stage = DataFrame -> Parquet + manifest."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None):
        self.spark = spark
        self.dir = checkpoint_dir
        self.metrics: list[dict] = []

    def _paths(self, name: str) -> tuple[str, str]:
        assert self.dir is not None
        out = os.path.join(self.dir, name)
        return out, os.path.join(self.dir, f"{name}._manifest.json")

    def is_complete(self, name: str) -> bool:
        if self.dir is None:
            return False
        _, manifest = self._paths(name)
        if not os.path.exists(manifest):
            return False
        try:
            with open(manifest) as f:
                return json.load(f).get("complete", False)
        except (json.JSONDecodeError, OSError):
            return False

    def invalidate(self, name: str) -> None:
        """Mark a stage incomplete, so the next ``run`` rebuilds it."""
        if self.dir is not None and os.path.exists(self._paths(name)[1]):
            os.remove(self._paths(name)[1])

    def invalidate_all(self) -> None:
        """Mark every stage under the checkpoint dir incomplete, those this
        runner will not run too (a later resumed build must not pick up a
        stage of the index that was there before)."""
        if self.dir is not None and os.path.isdir(self.dir):
            for f in os.listdir(self.dir):
                if f.endswith("._manifest.json"):
                    os.remove(os.path.join(self.dir, f))

    def run(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
    ) -> DataFrame:
        """Execute (or resume) one stage.

        Without a checkpoint dir the stage stays a lazy DataFrame (test mode).
        With one, the stage materializes to Parquet exactly once; per-partition
        row counts are recorded as lineage. ``sort_within`` clusters rows
        inside the written files (after co-locating partition_by values) so
        Parquet row-group min/max statistics prune point/range lookups — the
        role of the reference's seek list (GenericSeekList.java:51-71). The
        sort leads with ``partition_by``: that is the order the partitioned
        writer needs, so it adds no sort of its own, which would replace
        ours and leave each file in arrival order.
        """
        if self.dir is None:
            return build()
        out, manifest = self._paths(name)
        if self.is_complete(name):
            return self.spark.read.parquet(out)
        t0 = time.time()
        df = build()
        if sort_within:
            if partition_by:
                df = df.repartition(*[F.col(c) for c in partition_by])
            df = df.sortWithinPartitions(*(partition_by or []), *sort_within)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        result = self.spark.read.parquet(out)
        # per-partition (spark task partition) lineage: file-level row counts
        part_rows = [
            # input_file_name is a file: URI
            {"file": os.path.relpath(unquote(urlparse(r["file"]).path), os.path.abspath(out)),
             "rows": r["rows"]}
            for r in result.withColumn("file", F.input_file_name())
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        n_rows = sum(p["rows"] for p in part_rows)
        record = {
            "stage": name,
            "complete": True,
            "rows": n_rows,
            "partitions": part_rows,
            "wall_sec": round(time.time() - t0, 3),
            "finished_at_unix": int(time.time()),
        }
        write_json_atomic(manifest, record)  # manifest exists => stage complete
        self.metrics.append(record)
        return result
