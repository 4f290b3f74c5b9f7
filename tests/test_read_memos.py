"""The two scan-frame memos: ``ParquetMergeStore.read()`` reuses the
live snapshot's frame only while ``_LATEST`` names its version, and
``sources.readers.load()`` holds frames of the current session only."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from wc_vector_indexing_spark.sources import readers
from wc_vector_indexing_spark.state.store import SYNC_STATE_SCHEMA, sync_state_store


def _rows(spark, pids):
    base = {f.name: None for f in SYNC_STATE_SCHEMA.fields}
    return spark.createDataFrame(
        [
            Row(**{**base, "site_id": 1, "product_id": p, "target": "local", "chunk_index": 0,
                   "vector_id": f"v{p}", "status": "synced",
                   "created_at": datetime.datetime(2026, 1, 1)})
            for p in pids
        ],
        SYNC_STATE_SCHEMA,
    )


def test_store_read_memo_follows_every_publish(spark, tmp_path):
    store = sync_state_store(spark, str(tmp_path / "st"))
    store.overwrite(_rows(spark, range(4)))  # v1
    first = store.read()
    assert store.read() is first

    store.merge(_rows(spark, [10]))  # v2, published by this object
    assert store._live is None  # the publish dropped the entry
    second = store.read()
    assert second is not first and second.count() == 5

    other = sync_state_store(spark, store.root)
    other.merge(_rows(spark, [11]))  # v3, published by another object
    third = store.read()
    assert third is not second and third.count() == 6

    old = store.read(version=2)
    assert old is not third and old.count() == 5
    assert store.read() is third  # a time-travel read leaves the entry

    store.release_leases()
    assert store.read() is third and 3 in store._leased  # a hit leases again


def test_load_memo_drops_the_previous_session(spark, tmp_path):
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(
        str(tmp_path / "region.parquet")
    )
    first = readers.load(spark, "region", str(tmp_path))
    assert readers.load(spark, "region", str(tmp_path)) is first  # a hit in one session

    other = spark.newSession()
    frame = readers.load(other, "region", str(tmp_path))
    assert frame is not first and frame.collect() == [(0, "AFRICA")]
    session, frames = readers._load_memo
    assert session is other
    assert frames and all(f.sparkSession is other for f in frames.values())
