"""Bucketed co-located joins: the write-once-shuffle-never layout.

The assertion that matters: joining two tables bucketed on the join
key produces a physical plan with NO Exchange — the property that
turns a daily 100 TB fact-fact join from two full shuffles into a
pure co-located scan."""

from __future__ import annotations

import pytest

from spotify_podcasts_airflow_batch_spark.operators.bucketing import (
    colocated_join,
    write_bucketed,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    # external tables: files live under pytest's tmp dir, the catalog
    # entries are dropped in teardown
    d = tmp_path_factory.mktemp("bucketed")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    write_bucketed(
        orders, "b_orders", str(d / "orders"), "o_orderkey", 8,
        sorted_by="o_orderkey",
    )
    write_bucketed(
        lineitem, "b_lineitem", str(d / "lineitem"), "l_orderkey", 8,
        sorted_by="l_orderkey",
    )
    yield "b_lineitem", "b_orders"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


@pytest.fixture()
def no_broadcast(spark):
    """Model the 100 TB fact-fact case: neither side broadcastable.
    (At sf0.001 the planner would otherwise broadcast the 'fact'.)"""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_colocated_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    lt, rt = bucketed_tables
    joined = colocated_join(spark, lt, rt, "l_orderkey", "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_colocated_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    joined = colocated_join(spark, lt, rt, "l_orderkey", "o_orderkey")
    got = joined.count()
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    want = li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
    assert got == want


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_tables):
    from pyspark.sql import functions as F

    _, rt = bucketed_tables
    agg = spark.table(rt).groupBy("o_orderkey").agg(F.sum("o_totalprice"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_registered_bucketed_query_rides_buckets(spark, sf_dir):
    """B68: the registered query must read the bucketed layout and
    aggregate on the bucket key with NO hashpartitioning exchange on
    that key — the pay-once-shuffle property as a driver-facing
    plan."""
    import re

    from spotify_podcasts_airflow_batch_spark.plans.relational4 import (
        bucketed_colocated_join,
    )

    plan = (
        bucketed_colocated_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Bucketed: true" in plan
    assert not re.findall(r"Exchange hashpartitioning\(l_orderkey", plan)


def test_bucket_table_cache_keys_on_joined_tables(spark, sf_dir, tmp_path):
    """ADVICE r9 #1: the memoized bucketed layout must be keyed on a
    fingerprint of the tables it holds (lineitem + orders) —
    regenerating lineitem at the same path must produce a fresh
    namespaced layout, not serve the stale one."""
    import os
    import shutil

    from spotify_podcasts_airflow_batch_spark.plans.relational4 import (
        bucketed_join_tables,
    )

    d = tmp_path / "sf_copy"
    d.mkdir()
    for t in ("lineitem", "orders"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet"
        )
    first = bucketed_join_tables(spark, str(d))
    assert first == bucketed_join_tables(spark, str(d))  # memo hit
    # "regenerate" lineitem: same path, new mtime → new fingerprint
    li = d / "lineitem.parquet"
    st = li.stat()
    os.utime(li, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = bucketed_join_tables(spark, str(d))
    assert second != first
