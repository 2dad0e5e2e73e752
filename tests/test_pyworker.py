"""The worker zip-cache guard (awesome_spark_search/pyworker.py).

Before every task PySpark calls ``importlib.invalidate_caches()``, which on
Python >= 3.10 makes each zip importer re-read its archive's directory. Inside
a Spark Python worker the package stat-guards that re-read: an unchanged
archive is not read again, a changed one is. The first tests simulate a
worker in a subprocess (no Spark); the last ones run real tasks.
"""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code, *args, cwd=REPO, timeout=120):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code), *args],
        capture_output=True, text=True, cwd=cwd, timeout=timeout, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_guard_skips_unchanged_archives_and_rereads_changed_ones(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zmod_a": "VALUE = 1\n"})
    out = _python(
        """
        import importlib, json, os, sys, zipfile, zipimport

        zpath, repo = sys.argv[1], sys.argv[2]
        sys.path.insert(0, repo)
        from pyspark import TaskContext

        TaskContext._getOrCreate()  # what worker.main sets before unpickling UDFs
        import awesome_spark_search  # noqa: F401
        from awesome_spark_search import pyworker

        reads = []
        stock_read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting
        sys.path.insert(0, zpath)
        import zmod_a  # a new importer reads its archive on construction

        del reads[:]
        importlib.invalidate_caches()  # first invalidation: reads, stamps
        first = list(reads)
        del reads[:]
        importlib.invalidate_caches()  # unchanged archive: no read
        unchanged = list(reads)
        del reads[:]

        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            z.writestr("zmod_a.py", "VALUE = 1\\n")
            z.writestr("zmod_b.py", "VALUE = 2  # a different size\\n")
        os.replace(tmp, zpath)
        importlib.invalidate_caches()
        import zmod_b

        print(json.dumps({
            "guarded": zipimport.zipimporter.invalidate_caches
            is pyworker._guarded_invalidate,
            "first": first, "unchanged": unchanged, "changed": list(reads),
            "values": [zmod_a.VALUE, zmod_b.VALUE],
        }))
        """,
        zpath, REPO,
    )
    got = json.loads(out.strip().splitlines()[-1])
    assert got["guarded"]
    assert got["first"] == [zpath]
    assert got["unchanged"] == []
    assert got["changed"] == [zpath]
    assert got["values"] == [1, 2]


@pytest.mark.parametrize("import_pyspark", [False, True])
def test_plain_process_keeps_the_stdlib_method(import_pyspark):
    """Outside a worker (no TaskContext, or pyspark never imported) the
    package leaves zipimport alone: the driver's importers are untouched."""
    out = _python(
        f"""
        import sys, zipimport

        stock = zipimport.zipimporter.invalidate_caches
        if {import_pyspark}:
            import pyspark  # noqa: F401
        import awesome_spark_search  # noqa: F401

        print(zipimport.zipimporter.invalidate_caches is stock,
              stock.__module__, "pyspark" in sys.modules)
        """
    )
    assert out.split() == ["True", "zipimport", str(import_pyspark)]


def test_tasks_skip_unchanged_archives_and_import_late_py_files(spark, tmp_path):
    """In real tasks: a reused worker's per-task invalidation reads no
    archive once the package is imported, and a zip shipped with addPyFile
    after the workers started still imports in a later task."""
    df = spark.range(16).repartition(8)

    def count_reads(it):
        # importing the package (as every engine UDF does) installs the
        # guard; the wrapper then counts every directory read this worker
        # makes from here on, including the next task's setup
        import os as _os
        import zipimport

        import awesome_spark_search  # noqa: F401
        import pandas as pd

        if not hasattr(zipimport, "_test_reads"):
            stock_read = zipimport._read_directory
            zipimport._test_reads = [0]

            def counting(archive):
                zipimport._test_reads[0] += 1
                return stock_read(archive)

            zipimport._read_directory = counting
        for _ in it:
            pass
        yield pd.DataFrame({
            "pid": [_os.getpid()],
            "reads": [zipimport._test_reads[0]],
            "guarded": [
                zipimport.zipimporter.invalidate_caches.__name__
                == "_guarded_invalidate"
            ],
        })

    schema = "pid long, reads long, guarded boolean"
    # job 1 installs guard and counter; job 2's task setups stamp every
    # importer; job 3's task setups on those workers must read nothing
    warm, first, second = (
        df.mapInPandas(count_reads, schema).toPandas() for _ in range(3)
    )
    assert warm.guarded.all() and first.guarded.all() and second.guarded.all()
    before = first.groupby("pid").reads.max()
    after = second.groupby("pid").reads.min()
    reused = before.index.intersection(after.index).intersection(warm.pid)
    assert len(reused) > 0
    assert (after[reused] == before[reused]).all(), (before, after)

    zpath = str(tmp_path / "asearch_late_pyfile.zip")
    _write_zip(zpath, {"asearch_late_pyfile": "VALUE = 41 + 1\n"})
    spark.sparkContext.addPyFile(zpath)

    def late_import(it):
        import asearch_late_pyfile
        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({"value": [asearch_late_pyfile.VALUE]})

    got = df.mapInPandas(late_import, "value long").toPandas()
    assert len(got) == 8 and (got.value == 42).all()


def test_py_files_zip_session_installs_the_guard(tmp_path):
    """With the package shipped only as the tools/make_pyfiles.py zip (as
    under spark-submit --py-files) and a working directory outside the repo,
    the workers import the package from that zip and install the guard."""
    zpath = str(tmp_path / "awesome_spark_search.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), zpath],
        check=True, capture_output=True, timeout=60,
    )
    out = _python(
        """
        import json, os, sys

        zpath = sys.argv[1]
        sys.path.insert(0, zpath)
        os.environ["SPARK_DRIVER_MEM"] = "1g"
        from awesome_spark_search.session import get_spark

        spark = get_spark("asearch-pyfiles", cores=2, shuffle_partitions=2,
                          extra_conf={"spark.submit.pyFiles": zpath})

        def probe(it):
            import zipimport

            import awesome_spark_search
            import pandas as pd

            for _ in it:
                pass
            yield pd.DataFrame({
                "file": [awesome_spark_search.__file__],
                "guarded": [zipimport.zipimporter.invalidate_caches.__name__],
            })

        rows = spark.range(4).repartition(2).mapInPandas(
            probe, "file string, guarded string").collect()
        print(json.dumps([r.asDict() for r in rows]))
        spark.stop()
        """,
        zpath, cwd=str(tmp_path), timeout=300,
    )
    rows = json.loads(out.strip().splitlines()[-1])
    assert len(rows) == 2
    for r in rows:
        assert "awesome_spark_search.zip" in r["file"], r
        assert not r["file"].startswith(REPO), r
        assert r["guarded"] == "_guarded_invalidate", r
