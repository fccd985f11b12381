"""Contracts of the engine's warm cache (``sources/tables.py:warm_cache``).

Every warmed table is held at a serialized storage level, all of it in
memory, and documents take fewer cached bytes than the UTF-8 bytes of
their text. The keyed layout still lets ``lineitem ⋈ orders`` on the
order key plan without an exchange, and warm answers equal cold ones.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from weather_data_data_pipeline_spark import registry
from weather_data_data_pipeline_spark.sources import tables

_WARM = ("lineitem", "orders", "embeddings")
_DOC_QUERY = "bm25_search_topk"


def _join(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    o = tables.load(spark, SF_DIR, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderdate"
    )


def _operators(plan):
    """Node names of a physical plan. An ``AdaptiveSparkPlan`` is read
    through to the plan it will run, exchanges included; the walk stops
    at an ``InMemoryTableScan``, whose cached plan is not executed
    again."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan.nodeName()
    children = plan.children()
    for i in range(children.size()):
        yield from _operators(children.apply(i))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def warm(spark):
    tables.clear_cache()
    cold = {
        "join": _rows(_join(spark)),
        "docs": _rows(registry.get_query(_DOC_QUERY).fn(spark, SF_DIR)),
    }
    tables.warm_cache(spark, SF_DIR, _WARM)
    tables.warm_cache(
        spark, SF_DIR, ("documents",), partitions=tables.DOC_FANOUT
    )
    yield cold
    tables.clear_cache()


def _rdd_info(spark, name):
    df = tables._CACHE[(SF_DIR, name)]
    relation = df._jdf.queryExecution().withCachedData()
    rdd_id = relation.cacheBuilder().cachedColumnBuffers().id()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    (info,) = [i for i in infos if i.id() == rdd_id]
    return info


@pytest.mark.parametrize("name", [*_WARM, "documents"])
def test_warmed_table_is_serialized_in_memory(spark, warm, name):
    level = tables._CACHE[(SF_DIR, name)].storageLevel
    assert level.useMemory and level.useDisk and not level.deserialized
    info = _rdd_info(spark, name)
    assert not info.storageLevel().deserialized()
    assert info.numCachedPartitions() == info.numPartitions()
    # every block in memory: a spilled block would hide its bytes from
    # the cached-bytes figure
    assert info.diskSize() == 0
    assert info.memSize() > 0


def test_documents_cache_below_their_text_bytes(spark, warm):
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (text_bytes,) = raw.agg(F.sum(F.octet_length("text"))).first()
    assert _rdd_info(spark, "documents").memSize() < text_bytes


def test_keyed_join_plans_no_exchange(spark, warm):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = _join(spark)._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, before)
    ops = list(_operators(plan))
    assert "SortMergeJoin" in ops
    assert ops.count("InMemoryTableScan") == 2
    assert not [op for op in ops if "Exchange" in op]


def test_warm_rows_equal_cold_rows(spark, warm):
    assert _rows(_join(spark)) == warm["join"]
    docs = registry.get_query(_DOC_QUERY).fn(spark, SF_DIR)
    assert "InMemoryTableScan" in (
        docs._jdf.queryExecution().executedPlan().toString()
    )
    assert _rows(docs) == warm["docs"]
