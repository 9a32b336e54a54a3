"""Differential tests: every contract query must match its DuckDB oracle
on row count, schema (column names), and values at sf0.01 — the local
replica of the driver's CORRECTNESS gate.

r12 (VERDICT r11 item 2): the sweep's ~283 BATCH contracts are
independent jobs, so they run through a small driver-side thread pool
(guide §2.6 "overlap independent jobs") instead of strictly
sequentially — the full suite must finish inside the driver's verify
window (the r11 gate read false purely by timeout at ~30 min). Each
worker thread drives its OWN ``spark.newSession()`` clone: SQL confs
are session-scoped and the streaming replays scope
``spark.sql.shuffle.partitions`` session-wide (set → restore), so
clones keep that mutation — and every fixed-name temp view — isolated
per thread. The DuckDB side gets one cursor per thread. The ~32
STREAMING contracts stay sequential (see the fixture comment: pooled
processAllAvailable waits deadlock once the py4j callback server has
prior foreachBatch traffic). The parametrized tests below stay
one-test-per-contract, so the driver-visible test count and
per-contract failure reporting are unchanged; a contract that raises
surfaces as ITS test's failure, not a fixture error.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from mapreduce_hw05_spark.plans import ORACLES, QUERIES
from tests.conftest import SF_DIR, compare_frames, run_contract

#: 2-4 jobs in flight is the guide's sweet spot: enough to back-fill a
#: job's straggler tail with the next job's tasks, not so many that the
#: local executor thrashes.
_SWEEP_WORKERS = 4


@pytest.fixture(scope="session")
def parity_results(request, spark, oracle):
    # Sweep only the contracts this session collected, so
    # ``pytest -k q_ppr_seeds`` runs one contract; a full run collects
    # (and sweeps) every one.
    collected = {
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "originalname", None) == "test_oracle_parity"
    }
    local = threading.local()

    def run(name: str):
        try:
            # a failed clone or cursor fails this contract, not the fixture;
            # the next contract on the thread tries again
            if not hasattr(local, "con"):
                local.sess, local.con = spark.newSession(), oracle.cursor()
            sp = QUERIES[name](local.sess, SF_DIR).toPandas()
            od = local.con.execute(ORACLES[name]).df()
            return name, compare_frames(sp, od)
        except Exception as ex:  # surfaces as the contract's own failure
            return name, [f"EXCEPTION {type(ex).__name__}: {ex}"]

    # STREAMING contracts run SEQUENTIALLY: four concurrent
    # processAllAvailable() waits wedge the JVM once the py4j callback
    # server has been primed by an earlier foreachBatch user
    # (reproduced: test_cdc first, then the pooled sweep — all four
    # workers blocked in processAllAvailable indefinitely, JVM idle;
    # faulthandler dump in the r12 work log). Batch contracts have no
    # JVM->Python callback surface and pool safely.
    #
    # Contracts that REGISTER a Python data source also run sequentially
    # and on the ROOT session: Spark 4.1 clones resolve runtime-
    # registered names unreliably once the parent session has the name
    # (register raises DATA_SOURCE_ALREADY_EXISTS while lookup can still
    # miss) — the root session re-registers as a clean overwrite.
    _DATA_SOURCE_CONTRACTS = {"q_custom_datasource", "q_custom_sink_roundtrip"}

    def run_on_root(name: str):
        try:
            sp = QUERIES[name](spark, SF_DIR).toPandas()
            od = oracle.execute(ORACLES[name]).df()
            return compare_frames(sp, od)
        except Exception as ex:
            return [f"EXCEPTION {type(ex).__name__}: {ex}"]

    names = sorted(collected)
    seq = [n for n in names
           if QUERIES[n].__module__.endswith("streaming_queries")
           or n in _DATA_SOURCE_CONTRACTS]
    pooled = [n for n in names if n not in set(seq)]
    results = {n: run_on_root(n) for n in seq}
    with ThreadPoolExecutor(max_workers=_SWEEP_WORKERS) as pool:
        results.update(dict(pool.map(run, pooled)))
    return results


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(parity_results, name):
    problems = parity_results[name]
    assert not problems, f"{name}: " + " | ".join(problems)


def test_sequential_comparator_still_agrees(spark, oracle):
    """Guard the pooled sweep against a clone/threading artifact: a
    spot-check of contracts re-run strictly sequentially through the
    same run_contract helper the sweep replaced must agree with it."""
    for name in ("q_groupagg_pricing", "q_sessionize", "q_near_dup_lsh"):
        assert not run_contract(spark, oracle, name), name
