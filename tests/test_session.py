"""The engine's session factory works from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

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
