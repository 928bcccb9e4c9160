"""Calibration tests for the benchmark's own probes: each counter is
read off a job whose task count, bytes, rows or batches are known in
advance, and each Spark 4.1 pitfall the probes guard against is pinned.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import contextlib
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

import probes


@contextlib.contextmanager
def conf(spark, **pairs):
    old = {k: spark.conf.get(k) for k in pairs}
    for k, v in pairs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_task_and_shuffle_counters_match_a_known_job(spark):
    """8 map tasks + 3 reduce tasks, one job; every shuffled byte written
    is read back; nothing spills at this size."""
    window = probes.JobWindow(spark)
    with conf(spark, **{"spark.sql.adaptive.enabled": "false",
                        "spark.sql.shuffle.partitions": "3"}):
        rows = (spark.range(0, 8000, 1, 8).groupBy((F.col("id") % 3).alias("k"))
                .count().collect())
    assert sorted(r["count"] for r in rows) == [2666, 2667, 2667]
    jobs = window.collect()
    assert len(jobs) == 1
    assert jobs[0]["tasks"] == 11
    assert jobs[0]["shuffle_write_bytes"] > 0
    assert jobs[0]["shuffle_read_bytes"] == jobs[0]["shuffle_write_bytes"]
    assert jobs[0]["spill_bytes"] == 0


def test_task_time_is_summed_task_time_not_action_wall(spark):
    """Pitfall: executorList(true).totalDuration grows by the action's
    wall time.  Eight 0.25 s tasks on two slots take ~1 s of wall but
    ~2 s of task time; the probe must report the latter."""
    window = probes.JobWindow(spark)
    t0 = time.perf_counter()
    spark.sparkContext.parallelize(range(8), 8).map(
        lambda x: time.sleep(0.25) or x).count()
    wall = time.perf_counter() - t0
    jobs = window.collect()
    task_s = sum(j["task_s"] for j in jobs)
    assert task_s >= 8 * 0.25
    assert task_s > 1.5 * wall * 0.9


def test_drained_window_sees_every_job(spark):
    """Pitfall: the listener bus is asynchronous.  Reading right after
    twenty back-to-back actions must still see all twenty jobs."""
    window = probes.JobWindow(spark)
    for i in range(20):
        spark.range(i + 1).collect()
    assert len(window.collect()) == 20


def test_stage_list_takes_five_arguments(spark):
    """Pitfall: AppStatusStore.stageList has a five-argument signature
    in Spark 4.1 (the probes use stageData with its own five)."""
    sc = spark.sparkContext
    spark.range(10).collect()
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0), None)
    assert stages.size() > 0


def test_phase_times_come_from_the_dataset_whose_action_ran(spark):
    """Pitfall: count() plans a fresh QueryExecution, so the counted
    Dataset's own tracker never reaches planning; collect() runs the
    Dataset's own QueryExecution, whose phases are all recorded."""
    counted = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    counted.count()
    assert "planning" not in probes.phase_ms(counted)
    collected = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    collected.collect()
    phases = probes.phase_ms(collected)
    assert {"analysis", "optimization", "planning"} <= set(phases)
    assert all(v >= 0 for v in phases.values())


def test_python_boundary_rows_and_time(spark):
    @F.pandas_udf("long")
    def slow_len(s: pd.Series) -> pd.Series:
        time.sleep(0.2)
        return s.str.len()

    window = probes.JobWindow(spark)
    out = (spark.range(0, 1000, 1, 4).select(F.col("id").cast("string").alias("s"))
           .select(slow_len("s").alias("n")).agg(F.sum("n")).collect())
    assert out[0][0] == sum(len(str(i)) for i in range(1000))
    jobs = window.collect()
    assert sum(j["python_rows"] for j in jobs) == 1000
    # four partitions, each sleeping at least 0.2 s inside the worker
    assert sum(j["python_eval_s"] for j in jobs) >= 0.7


def test_persisted_rdds_and_storage_bytes(spark):
    before = probes.persisted_rdds(spark)
    df = spark.range(0, 50_000, 1, 2).cache()
    df.count()
    assert probes.persisted_rdds(spark) == before + 1
    assert probes.storage_bytes(spark) > 0
    df.unpersist(blocking=True)
    assert probes.persisted_rdds(spark) == before


def test_listener_counts_more_than_recent_progress_keeps(spark, tmp_path):
    """More than 100 micro-batches: the listener counts every one, while
    ``recentProgress`` keeps at most the last 100."""
    n = 120
    src = str(tmp_path / "src")
    spark.range(0, n, 1, n).write.parquet(src)
    listener = probes.CountingListener()
    spark.streams.addListener(listener)
    try:
        with conf(spark, **{
            "spark.sql.streaming.noDataMicroBatches.enabled": "false"
        }):
            q = (spark.readStream.schema("id long")
                 .option("maxFilesPerTrigger", 1).parquet(src)
                 .writeStream.format("memory").queryName("pb_listener_test")
                 .option("checkpointLocation", str(tmp_path / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        probes.drain(spark)
        batches_run = q.lastProgress["batchId"] + 1
        assert batches_run == n
        assert listener.snapshot()["batches"] == n
        assert len(q.recentProgress) <= 100 < n
        assert spark.table("pb_listener_test").count() == n
    finally:
        spark.streams.removeListener(listener)


@pytest.mark.parametrize("text, value", [
    ("10,000", 10000.0),
    ("total (min, med, max (stageId: taskId))\n8.7 s (2.0 s, 2.2 s, 2.3 s "
     "(stage 0.0: task 1))", 8.7),
    ("total (min, med, max (stageId: taskId))\n912 ms (1 ms, 2 ms, 3 ms "
     "(stage 1.0: task 4))", 0.912),
    ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms, 3 ms "
     "(stage 1.0: task 4))", 90.0),
])
def test_parse_total(text, value):
    assert probes.parse_total(text) == pytest.approx(value)
