"""Partition-shape helpers.

``fan_out`` exists for one reason: an operator whose per-row cost is
10-100× the scan cost (Arrow-batched python stages, wide explodes) is
bottlenecked by the INPUT's partition count, and a small parquet file
arrives as one partition. Round-robin repartitioning to the session's
parallelism before such a stage costs one shuffle of the input bytes —
trivially amortized by the stage it unblocks. At real scale (100 TB
scans yield thousands of partitions) the guard makes it a no-op, so the
helper never adds a shuffle to a plan that is already parallel.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_SHUFFLE = re.compile(r"(?<![A-Za-z])Exchange ")


def fan_out(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff its
    current partition count is below ``min_fraction`` of it.

    Streaming frames pass through untouched: micro-batch sizing is the
    scheduler's job there, and ``.rdd`` doesn't exist on a streaming
    plan — the short-circuit keeps frame-level operators (shingle_table,
    simhash64, text quality, …) usable in their stream twins.

    Frames whose physical plan already contains a shuffle Exchange
    pass through untouched too, for two reasons that hold at any scale:
    (a) their parallelism is established by the exchange itself —
    shuffle partitioning plus AQE's parallelismFirst coalescing, so
    the under-parallel case this helper exists for (a small file
    arriving as one scan split) cannot occur; and (b) probing such a
    frame with ``.rdd.getNumPartitions()`` is NOT free under AQE:
    ``AdaptiveSparkPlanExec.doExecute`` materializes every upstream
    shuffle/broadcast query stage as real jobs, which the subsequent
    action then runs AGAIN (measured r14: the probe on a two-shuffle
    lineage ran 3 jobs / 2.5 s before the query itself started —
    crawl_to_training_set paid this on its whole WARC→extract chain).
    Only narrow leaf chains (scan / LocalTableScan / checkpointed
    ExistingRDD + maps) are probed, where the RDD's partition count is
    pure metadata and no query stage exists to execute. A
    BroadcastExchange (shown, e.g., inside a cached frame's plan) is not
    a shuffle: the probe side keeps its scan's partitioning, so a
    one-split scan broadcast-joined to a small frame is still fanned out.

    The probe result is memoized on the DataFrame instance for
    operators that call fan_out more than once on the same frame."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    n = getattr(df, "_wcvi_num_partitions", None)
    if n is None:
        # a ShuffleExchangeExec prints as "Exchange"; not BroadcastExchange
        if _SHUFFLE.search(df._jdf.queryExecution().sparkPlan().toString()):
            return df
        n = df.rdd.getNumPartitions()
        try:
            df._wcvi_num_partitions = n
        except AttributeError:  # slotted/frozen wrapper: skip the memo
            pass
    if n < max(2, int(target * min_fraction)):
        return df.repartition(target)
    return df
