"""lineage.cut / release / fan_out.

At bench scale cut() must behave exactly like the
localCheckpoint(eager=True) sites it replaced; past the configured
size threshold with a checkpoint dir set it must switch to a reliable
checkpoint so executor loss at cluster scale degrades to a re-read
instead of a failed job.  fan_out() round-robins a frame narrower than
the session's slots and leaves every other frame alone."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from osmexpress_spark import lineage


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cut_default_is_local_and_release_frees_blocks(spark):
    before = _persistent_rdd_count(spark)
    df = spark.range(500).select("id", (F.col("id") * 3).alias("v"))
    c = lineage.cut(df)
    assert [r["v"] for r in c.orderBy("id").collect()] == [
        i * 3 for i in range(500)
    ]
    assert _persistent_rdd_count(spark) == before + 1
    lineage.release(c)
    assert _persistent_rdd_count(spark) == before


def test_cut_size_guard_prefers_reliable_checkpoint(spark):
    d = tempfile.mkdtemp(prefix="osmx_ckpt_")
    old_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    spark.sparkContext.setCheckpointDir(d)
    spark.conf.set("spark.osmexpress_spark.cut.maxLocalBytes", "1")
    try:
        df = spark.range(500).select("id", (F.col("id") * 3).alias("v"))
        c = lineage.cut(df)
        # identical results through the reliable path
        assert c.count() == 500
        written = [
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
        ]
        assert written, "reliable checkpoint wrote no files"
    finally:
        spark.conf.unset("spark.osmexpress_spark.cut.maxLocalBytes")
        if old_dir.isDefined():
            spark.sparkContext.setCheckpointDir(old_dir.get())


def test_cut_estimate_present_for_file_scans(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    est = lineage._estimated_bytes(spark.read.parquet(p))
    assert est is not None and est > 0


def test_cut_eager_conf_defers_materialization(spark):
    spark.conf.set("spark.osmexpress_spark.cut.eager", "false")
    try:
        before = _persistent_rdd_count(spark)
        df = spark.range(100).select("id")
        c = lineage.cut(df)
        # lazy: no job has run yet, but the RDD is registered for
        # persistence and materializes on first action
        assert c.count() == 100
        assert _persistent_rdd_count(spark) >= before
        lineage.release(c)
    finally:
        spark.conf.unset("spark.osmexpress_spark.cut.eager")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fan_out_round_robins_a_narrow_frame(spark):
    slots = spark.sparkContext.defaultParallelism
    out = lineage.fan_out(spark.range(0, 100, 1, 1))
    assert f"RoundRobinPartitioning({slots})" in _plan(out)
    assert out.rdd.getNumPartitions() == slots
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_fan_out_keeps_a_wide_frame(spark):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, 1, slots)
    out = lineage.fan_out(df)
    assert out is df
    assert "Exchange" not in _plan(out)


def test_fan_out_keeps_a_frame_without_rdd(spark):
    """Spark Connect frames have no ``.rdd``: the frame comes back
    unchanged instead of raising."""

    class NoRdd:
        sparkSession = spark

        @property
        def rdd(self):
            raise NotImplementedError("no RDD API on Spark Connect")

        def repartition(self, n):
            raise AssertionError("must not repartition")

    frame = NoRdd()
    assert lineage.fan_out(frame) is frame
