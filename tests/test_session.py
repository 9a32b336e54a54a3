"""The engine's session factory: works from any working directory, sizes
shuffle partitions to the local cores, and forks Python workers from the
engine's daemon, which skips re-reading unchanged zip archives."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_pythonpath_merges_existing(monkeypatch):
    from mapreduce_hw05_spark import session

    monkeypatch.setenv(
        "PYTHONPATH", os.pathsep.join(["/x", session._PACKAGE_PARENT, "/y"])
    )
    assert session._worker_pythonpath().split(os.pathsep) == [
        session._PACKAGE_PARENT, "/x", "/y"
    ]
    monkeypatch.delenv("PYTHONPATH")
    assert session._worker_pythonpath() == session._PACKAGE_PARENT


def test_udf_query_runs_from_foreign_cwd(tmp_path):
    """A UDF-bearing query (q_similarity_topk's mapInPandas kernel)
    driven from a directory outside the repository, with only the
    driver's ``sys.path`` pointing at the engine and ``PYTHONPATH``
    unset: the Python workers must still import the engine."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from mapreduce_hw05_spark.session import get_spark\n"
        "from mapreduce_hw05_spark.plans import QUERIES\n"
        "spark = get_spark('foreign-cwd')\n"
        f"pdf = QUERIES['q_similarity_topk'](spark, {sf!r}).toPandas()\n"
        "print('ROWS', len(pdf))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS 20" in proc.stdout


def test_local_cores_reads_spark_graft_cpus(monkeypatch):
    from mapreduce_hw05_spark.session import local_cores

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cores() == len(os.sched_getaffinity(0))


def test_shuffle_partitions_follow_local_cores():
    """``get_spark`` and the foreign-session repair in
    ``ensure_runtime_confs`` both size shuffle partitions to the
    ``local[N]`` core count."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from mapreduce_hw05_spark.session import get_spark, "
        "ensure_runtime_confs\n"
        "spark = get_spark('partitions')\n"
        "key = 'spark.sql.shuffle.partitions'\n"
        "print('BUILT', spark.conf.get(key))\n"
        "spark.conf.set(key, '200')\n"
        "print('REPAIRED', ensure_runtime_confs(spark).conf.get(key))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="3")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "BUILT 3" in proc.stdout
    assert "REPAIRED 3" in proc.stdout


def test_pydaemon_rereads_only_changed_archives(tmp_path, monkeypatch):
    """The daemon's ``zipimporter.invalidate_caches`` keeps an unchanged
    archive's directory, and still sees a module added by a rewrite."""
    from mapreduce_hw05_spark import pydaemon

    archive = str(tmp_path / "graft_mods.zip")

    def write(*names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_stamps", {})
    write("graft_zip_m1")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("graft_zip_m1").NAME == "graft_zip_m1"
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()  # first sight of the archive: stamp it
        seen, files = len(reads), importer._files
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == seen
        assert importer._files is files

        write("graft_zip_m1", "graft_zip_m2")
        importlib.invalidate_caches()
        assert len(reads) == seen + 1
        assert importlib.import_module("graft_zip_m2").NAME == "graft_zip_m2"
    finally:
        for name in ("graft_zip_m1", "graft_zip_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_engine_workers_fork_from_pydaemon(spark):
    """Python-UDF tasks of an engine session run with the daemon's
    ``zipimporter.invalidate_caches`` wrapper installed."""
    from mapreduce_hw05_spark import pydaemon

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame(
            {"file": [fn.__code__.co_filename], "name": [fn.__qualname__]}
        )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(probe, "file string, name string")
        .collect()
    )
    assert len(rows) == 2
    for row in rows:
        assert row.name == "invalidate_caches"
        assert os.path.samefile(row.file, pydaemon.__file__)
