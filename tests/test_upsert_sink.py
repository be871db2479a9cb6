"""UpsertSink merge path: the Spark job budget of one sink call, and
merging onto a table whose generations Spark's own parquet writer made
(the layout the sink wrote before its merge moved to Arrow)."""

import datetime as dt
import os
import uuid

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from riko_spark.streaming.sink import UpsertSink


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"sink-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sink_call_is_one_spark_job(spark, tmp_path):
    """One sink call runs the batch plan once and merges on the driver:
    exactly one Spark job, whether the touched partitions are new or
    already committed (the Spark window merge ran seven)."""
    sink = UpsertSink(str(tmp_path / "sink"), keys=["k"], num_buckets=4, day_col="ts")
    rows = [(f"k{i}", dt.datetime(2024, 1, 1 + i % 3), i) for i in range(140)]
    batch = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    assert [_jobs(spark, lambda b=b: sink(batch, b)) for b in range(3)] == [1, 1, 1]
    assert sink.result(spark).count() == 140


def test_sink_call_is_one_spark_job_in_foreach_batch(spark, tmp_path):
    """The same budget holds on a ``foreachBatch`` batch of a stateful
    stream: the sink's one action also runs the aggregation's state."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(f"k{i % 7}", i) for i in range(50)], "k string, v long") \
        .repartition(2).write.parquet(src)
    sink = UpsertSink(str(tmp_path / "sink"), keys=["k"])
    counts = []

    def counted(batch, batch_id):
        counts.append(_jobs(spark, lambda: sink(batch, batch_id)))

    q = (spark.readStream.schema("k string, v long").option("maxFilesPerTrigger", 1)
         .parquet(src).groupBy("k").count()
         .writeStream.foreachBatch(counted).outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert counts == [1, 1]
    assert {r["k"]: r["count"] for r in sink.result(spark).collect()} == {
        f"k{j}": len(range(j, 50, 7)) for j in range(7)}


def test_sink_merges_onto_spark_written_generation(spark, tmp_path):
    """Restart across the upgrade: generation 0 is written by Spark's
    ``partitionBy`` parquet writer (INT96 timestamps, ``_SUCCESS`` and
    ``.crc`` side files), then batch 1 merges through the Arrow path
    with ``day_col`` set.  Timestamps stay UTC instants of Spark's
    TimestampType, top-level and nested."""
    path = str(tmp_path / "sink")
    sink = UpsertSink(path, keys=["k"], num_buckets=2, day_col="ts")
    schema = "k string, ts timestamp, v long, st struct<a:int,t:timestamp>"
    d1, d2 = dt.datetime(2024, 3, 1, 5), dt.datetime(2024, 3, 2, 23)
    rows0 = [("a", d1, 1, (1, dt.datetime(2024, 1, 1))), ("b", None, 2, None),
             ("c", d2, 3, (2, None))]
    gen0 = sink._with_partitions(
        spark.createDataFrame(rows0, schema).withColumn("__batch_id", F.lit(0)))
    pcols = sink._part_cols()
    touched = sorted(sink._part_id(r) for r in gen0.select(*pcols).distinct().collect())
    gen0.repartition(len(touched), *pcols).write.partitionBy(*pcols) \
        .parquet(os.path.join(path, "gen_0_spark"))
    sink._commit_manifest({p: sink._part_rel("gen_0_spark", p) for p in touched})

    files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(path, "gen_0_spark"))
             for f in fs]
    assert any(f.endswith("_SUCCESS") for f in files)
    assert any(f.endswith(".crc") for f in files)
    data = [f for f in files if f.endswith(".parquet")]
    assert "INT96" in {c.physical_type for c in pq.ParquetFile(data[0]).schema}

    rows1 = [("a", d1, 10, (3, dt.datetime(2024, 2, 2))), ("b", None, 20, None)]
    sink(spark.createDataFrame(rows1, schema), 1)
    mf = sink._read_manifest()
    assert sum(rel.startswith("gen_1_") for rel in mf.values()) == 2
    assert sum(rel.startswith("gen_0_spark/") for rel in mf.values()) == 1
    out = sink.result(spark)
    assert out.schema.simpleString() == (
        "struct<k:string,ts:timestamp,v:bigint,st:struct<a:int,t:timestamp>>")
    got = {r["k"]: r.asDict(recursive=True) for r in out.collect()}
    assert got == {
        "a": {"k": "a", "ts": d1, "v": 10, "st": {"a": 3, "t": dt.datetime(2024, 2, 2)}},
        "b": {"k": "b", "ts": None, "v": 20, "st": None},
        "c": {"k": "c", "ts": d2, "v": 3, "st": {"a": 2, "t": None}},
    }
