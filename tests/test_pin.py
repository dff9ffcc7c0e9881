"""The one materialization primitive (willa_spark/pin.py): eager and
idempotent pins, the parquet spill, job labels, and concurrent
``pin_all``."""

import os
import pathlib
import threading
import uuid

import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

from willa_spark.pin import is_pinned, pin, pin_all

DESCRIPTION = "spark.job.description"


def _jobs_during(spark, fn):
    """(fn's result, ids of the Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"test-pin-{uuid.uuid4()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_eager_pin_submits_its_job_at_call_time(spark):
    df = spark.range(8).withColumn("y", F.col("id") * 2)
    pinned, jobs = _jobs_during(spark, lambda: pin(df, "eager"))
    assert jobs
    assert is_pinned(pinned) and not is_pinned(df)
    assert sorted(r.y for r in pinned.collect()) == [2 * i for i in range(8)]


def test_lazy_pin_submits_no_job_until_an_action(spark):
    df = spark.range(8).withColumn("y", F.col("id") * 2)
    pinned, jobs = _jobs_during(spark, lambda: pin(df, "lazy", eager=False))
    assert jobs == []
    assert pinned.count() == 8


def test_pin_is_idempotent(spark):
    df = spark.range(8).withColumn("y", F.col("id") + 1)
    once = pin(df, "first")
    again, jobs = _jobs_during(spark, lambda: pin(once, "second"))
    assert again is once and jobs == []
    checkpointed = df.localCheckpoint(eager=True)
    same, jobs = _jobs_during(spark, lambda: pin(checkpointed, "third"))
    assert same is checkpointed and jobs == []


def test_unmaterialized_rdd_frames_are_still_pinned(spark):
    """A ``LogicalRDD`` root alone does not mean pinned: local data and
    ``foreachBatch`` micro-batches are RDD-backed but unmaterialized."""
    local = spark.createDataFrame([(1, "a")], "k int, v string")
    assert not is_pinned(local)
    pinned, jobs = _jobs_during(spark, lambda: pin(local, "local data"))
    assert jobs and pinned is not local and is_pinned(pinned)


def test_spill_round_trips_rows_through_spill_dir(spark, tmp_path):
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("k")
    )
    out = str(tmp_path / "spill")
    spilled = pin(df, "spill", spill_dir=out)
    assert sorted(map(tuple, spilled.collect())) == sorted(
        map(tuple, df.collect())
    )
    assert any(f.endswith(".parquet") for f in os.listdir(out))
    assert spilled.inputFiles() and all(out in f for f in spilled.inputFiles())
    # a pinned frame is still spilled when asked: the spill is durable
    respilled = pin(pin(df, "local"), "spill again", spill_dir=out)
    assert respilled.count() == 20


def test_label_reaches_tasks_and_previous_description_returns(spark):
    sc = spark.sparkContext

    @F.udf("string")
    def task_description(_):
        return TaskContext.get().getLocalProperty(DESCRIPTION)

    sc.setJobDescription("caller's description")
    try:
        probe = spark.range(4).select(task_description("id").alias("d"))
        pinned = pin(probe, "my label")
        assert {r.d for r in pinned.collect()} == {"my label"}
        assert sc.getLocalProperty(DESCRIPTION) == "caller's description"
        failing = spark.range(4).select(
            F.raise_error(F.lit("boom")).cast("long").alias("x")
        )
        with pytest.raises(Exception, match="boom"):
            pin(failing, "failing label")
        assert sc.getLocalProperty(DESCRIPTION) == "caller's description"
    finally:
        sc.setLocalProperty(DESCRIPTION, None)
    pin(spark.range(3).withColumn("z", F.lit(1)), "no caller description")
    assert sc.getLocalProperty(DESCRIPTION) is None


def test_foreach_batch_description_survives_a_pin(spark, tmp_path):
    """Inside foreachBatch the micro-batch's own job description is
    restored after a pin, and the micro-batch frame itself (a
    ``LogicalRDD`` over the batch lineage) is not mistaken for pinned."""
    spark.range(5).write.parquet(str(tmp_path / "in"))
    seen = {}

    def step(batch_df, batch_id):
        sc = batch_df.sparkSession.sparkContext
        seen["before"] = sc.getLocalProperty(DESCRIPTION)
        seen["was_pinned"] = is_pinned(batch_df)
        seen["rows"] = pin(batch_df, "inside foreachBatch").count()
        seen["after"] = sc.getLocalProperty(DESCRIPTION)

    query = (
        spark.readStream.schema("id long")
        .parquet(str(tmp_path / "in"))
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120)
    assert seen["rows"] == 5 and not seen["was_pinned"]
    assert seen["before"] and "batch = 0" in seen["before"]
    assert seen["after"] == seen["before"]


def test_pin_all_keeps_input_order_and_accepts_builders(spark):
    frames = [spark.range(n).withColumn("n", F.lit(n)) for n in (3, 1, 2)]
    out = pin_all([frames[0], lambda: frames[1], frames[2]], "ordered")
    assert [r.n for f in out for r in f.limit(1).collect()] == [3, 1, 2]
    assert [f.count() for f in out] == [3, 1, 2]
    assert all(is_pinned(f) for f in out)
    assert pin_all([], "empty") == []
    assert is_pinned(pin_all([frames[0]], "single")[0])


def test_pin_all_runs_its_items_concurrently(spark):
    """Both builders must be running at once to pass the barrier; run
    one after the other, the first would time out alone."""
    barrier = threading.Barrier(2, timeout=60)

    def builder(n):
        def build():
            barrier.wait()
            return spark.range(n).withColumn("n", F.lit(n))

        return build

    out = pin_all([builder(1), builder(2)], "concurrent")
    assert [f.count() for f in out] == [1, 2]


def test_pin_all_propagates_a_worker_exception(spark):
    def broken():
        raise ValueError("builder failed")

    with pytest.raises(ValueError, match="builder failed"):
        pin_all([spark.range(5).withColumn("a", F.lit(1)), broken], "raises")
    failing = spark.range(2).select(
        F.raise_error(F.lit("worker boom")).cast("long").alias("x")
    )
    with pytest.raises(Exception, match="worker boom"):
        pin_all([failing, spark.range(2).withColumn("b", F.lit(2))], "raises")


def test_materialization_lives_only_in_the_pin_module():
    """Every localCheckpoint and every pin thread pool in the package is
    the pin module's: the policy has one home."""
    root = pathlib.Path(__file__).resolve().parents[1] / "willa_spark"
    owners = {
        str(path.relative_to(root.parent))
        for path in root.rglob("*.py")
        for needle in ("localCheckpoint(", "ThreadPoolExecutor")
        if needle in path.read_text()
    }
    assert owners == {"willa_spark/pin.py"}
