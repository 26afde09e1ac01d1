"""``concurrency.overlap_jobs``: the worker cap, results in submission
order, and fail-fast that cancels thunks not yet started while joining
the running ones and logging their failures, and the caller's local
properties copied into the workers unless the caller opts out."""

from __future__ import annotations

import logging
import threading
import time

import pytest

from cdc_data_lake_pyspark_spark.concurrency import overlap_jobs


def _probe(fail=()):
    state = {"running": 0, "peak": 0, "started": []}
    lock = threading.Lock()

    def job(i):
        def run():
            with lock:
                state["started"].append(i)
                state["running"] += 1
                state["peak"] = max(state["peak"], state["running"])
            try:
                time.sleep(0.2)
                if i in fail:
                    raise RuntimeError(f"boom{i}")
                return i
            finally:
                with lock:
                    state["running"] -= 1

        return run

    return state, job


def test_overlap_jobs_caps_workers_and_keeps_order(spark):
    state, job = _probe()
    assert overlap_jobs(spark, [job(i) for i in range(6)], max_workers=2) == list(
        range(6)
    )
    assert state["peak"] == 2


def test_overlap_jobs_first_failure_cancels_pending(spark, caplog):
    state, job = _probe(fail={0, 1})
    with caplog.at_level(logging.WARNING, "cdc_data_lake_pyspark_spark.concurrency"):
        with pytest.raises(RuntimeError, match="boom0"):
            overlap_jobs(spark, [job(i) for i in range(8)], max_workers=2)
    assert state["running"] == 0  # every started thunk was joined
    assert len(state["started"]) < 8  # later thunks never started
    assert any("also failed" in r.getMessage() for r in caplog.records)


def test_overlap_jobs_local_properties_inherited_unless_disabled(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("cdc.test.overlap", "caller")
    try:
        def read():
            return sc.getLocalProperty("cdc.test.overlap")

        assert overlap_jobs(spark, [read, read]) == ["caller", "caller"]
        assert overlap_jobs(
            spark, [read, read], inherit_local_properties=False
        ) == [None, None]
    finally:
        sc.setLocalProperty("cdc.test.overlap", None)
