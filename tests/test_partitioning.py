"""fan_out guard semantics: parallelize under-partitioned inputs, stay
out of the way of already-parallel plans (the at-scale branch)."""

from wc_vector_indexing_spark.functions.partitioning import fan_out


def test_fan_out_noop_when_already_parallel(spark):
    df = spark.range(0, 1000, 1, numPartitions=32)
    assert fan_out(df) is df  # no Exchange added to a parallel plan


def test_fan_out_spreads_single_partition(spark):
    one = spark.range(0, 1000, 1, numPartitions=1)
    out = fan_out(one)
    assert out is not one
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 1000


def test_fan_out_passes_streaming_frames_through(spark):
    """Streaming plans have no .rdd; fan_out must be an identity there so
    frame-level operators keep their stream twins working."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert stream.isStreaming
    assert fan_out(stream) is stream


def test_fan_out_memoizes_partition_count(spark):
    """Repeated fan_out on the same frame must not re-plan: the count is
    cached on the instance after the first call."""
    df = spark.range(0, 100, 1, numPartitions=32)
    assert fan_out(df) is df
    assert getattr(df, "_wcvi_num_partitions", None) == 32
    # poison the memo: a re-plan would overwrite it, reuse won't
    df._wcvi_num_partitions = 32_000
    assert fan_out(df) is df


def _one_split_scan(spark, tmp_path):
    path = str(tmp_path / "one_split")
    spark.range(0, 200).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_fan_out_spreads_a_broadcast_joined_scan(spark, tmp_path):
    """A broadcast exchange is not a shuffle: the probe side still has
    its one scan split, plain or cached (a cached frame's plan shows the
    BroadcastExchange of its cached plan)."""
    from pyspark.sql import functions as F

    small = spark.createDataFrame([(i, f"s{i}") for i in range(3)], "id long, tag string")
    joined = _one_split_scan(spark, tmp_path).join(F.broadcast(small), "id")
    cached = joined.cache()
    try:
        assert "BroadcastExchange" in cached._jdf.queryExecution().sparkPlan().toString()
        for df in (joined, cached):
            out = fan_out(df)
            assert out is not df
            assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
            assert out.count() == 3
    finally:
        cached.unpersist()


def test_fan_out_passes_a_shuffled_frame_through_without_a_probe(spark, tmp_path):
    sc = spark.sparkContext
    df = _one_split_scan(spark, tmp_path).repartition(1, "id")
    sc.setJobGroup("fan-out-shuffle-probe", "fan_out on a shuffled frame")
    try:
        assert fan_out(df) is df
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not hasattr(df, "_wcvi_num_partitions")  # never probed
    assert list(sc.statusTracker().getJobIdsForGroup("fan-out-shuffle-probe")) == []
