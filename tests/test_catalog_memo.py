"""r16 optimization: session-scoped PLAN memo in catalog.table and the
register_views skip (driver-side overhead removal — guide §5/§6).

The memo stores unexecuted DataFrame handles only; these tests pin the
invalidation contract: same fixture → same plan object; fixture mtime
bump, chaos env var, or a different sf_dir → fresh plan.
"""

from __future__ import annotations

import os
import shutil

import pytest

from blockchain2graphdb_spark import catalog
from blockchain2graphdb_spark.catalog import table
from blockchain2graphdb_spark.operators import sqlsuite


def test_table_memo_hit_same_fixture(spark, sf_dir):
    a = table(spark, sf_dir, "region")
    b = table(spark, sf_dir, "region")
    assert a is b  # plan handle reused — no rebuild


def test_table_memo_miss_on_mtime_bump(spark, sf_dir, tmp_path):
    # copy a fixture so we can touch it without perturbing /root/testdata
    src = os.path.join(sf_dir, "region.parquet")
    dst_dir = str(tmp_path)
    shutil.copy(src, os.path.join(dst_dir, "region.parquet"))
    a = table(spark, dst_dir, "region")
    os.utime(os.path.join(dst_dir, "region.parquet"))  # simulate regeneration
    b = table(spark, dst_dir, "region")
    assert a is not b  # regenerated fixture must never serve a stale plan
    assert a.count() == b.count()


def test_table_memo_miss_on_chaos_spec(spark, sf_dir):
    base = table(spark, sf_dir, "region")
    os.environ["SPARK_GRAFT_CHAOS"] = "region"
    try:
        wrapped = table(spark, sf_dir, "region")
    finally:
        os.environ.pop("SPARK_GRAFT_CHAOS", None)
    # chaos binds at plan-construction time: the spec is part of the key
    assert wrapped is not base
    assert table(spark, sf_dir, "region") is base  # unset → original key


def test_table_memo_distinct_sf_dirs(spark):
    a = table(spark, "/root/testdata/sf0.001", "nation")
    b = table(spark, "/root/testdata/sf0.01", "nation")
    assert a is not b


def test_register_views_skip_and_reregister(spark, sf_dir):
    sqlsuite.register_views(spark, sf_dir)
    state1 = dict(sqlsuite._VIEWS_STATE)
    sqlsuite.register_views(spark, sf_dir)  # identical → skipped
    assert sqlsuite._VIEWS_STATE == state1
    n_small = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n

    other = "/root/testdata/sf0.01"
    sqlsuite.register_views(spark, other)  # different sf_dir → re-registered
    n_big = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n
    assert n_big > n_small

    sqlsuite.register_views(spark, sf_dir)  # and back
    n_again = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0].n
    assert n_again == n_small


def test_memo_serves_plans_not_results(spark, tmp_path):
    """The memo must never freeze DATA: a rewrite of the same path that
    changes content is picked up by the identity key, and the fresh
    handle scans the new bytes."""
    dst = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/customer.parquet",
                os.path.join(dst, "customer.parquet"))
    n_small = table(spark, dst, "customer").count()
    shutil.copy("/root/testdata/sf0.01/customer.parquet",
                os.path.join(dst, "customer.parquet"))
    n_big = table(spark, dst, "customer").count()
    assert n_big > n_small


def test_memoized_evicts_oldest_first_and_releases_it():
    from blockchain2graphdb_spark.plans.memo import memoized

    store: dict = {}
    released = []
    builds = []

    def get(key):
        return memoized(
            store, key, lambda: builds.append(key) or f"v{key}", 2, released.append
        )

    assert [get(k) for k in (1, 2, 1)] == ["v1", "v2", "v1"]
    assert builds == [1, 2] and released == []
    assert get(3) == "v3"
    assert released == ["v1"] and list(store) == [2, 3]

