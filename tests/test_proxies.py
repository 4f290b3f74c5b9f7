"""``releases_proxies``: a multi-job operator's dropped py4j proxies are
freed when it returns, not at some later full collection."""

from __future__ import annotations

import gc
import weakref

import pytest

from wc_vector_indexing_spark.functions.proxies import releases_proxies
from wc_vector_indexing_spark.operators import curation, delta_sync


def _op(spark, refs):
    df = spark.range(3)
    df._jdf.schema()  # py4j caches the method on the proxy: a cycle
    refs.append(weakref.ref(df._jdf))
    return df.count()


def test_dropped_proxy_is_a_cycle_until_collected(spark):
    refs = []
    gc.disable()
    try:
        assert _op(spark, refs) == 3
        assert refs[0]() is not None  # refcounting alone does not free it
    finally:
        gc.enable()
    gc.collect()
    assert refs[0]() is None


def test_decorated_operator_frees_its_proxies_on_return(spark):
    refs = []
    op = releases_proxies(_op)
    gc.disable()
    try:
        assert op(spark, refs) == 3
        assert refs[0]() is None
    finally:
        gc.enable()


def test_decorated_operator_frees_its_proxies_on_error(spark):
    refs = []

    @releases_proxies
    def failing():
        _op(spark, refs)
        raise RuntimeError("boom")

    gc.disable()
    try:
        with pytest.raises(RuntimeError, match="boom"):
            failing()
        assert refs[0]() is None
    finally:
        gc.enable()


def test_multi_job_operators_keep_their_names():
    for fn in (curation.curate, delta_sync.sync_products, delta_sync.delete_products):
        assert fn.__wrapped__.__name__ == fn.__name__
        assert fn.__doc__ == fn.__wrapped__.__doc__
