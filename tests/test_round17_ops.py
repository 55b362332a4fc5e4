"""Round-17 optimization-pass pins: each test fixes an internal an
optimization changed, so a regression fails loudly instead of silently
changing results or plans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


# ---------------------------------------------------------------- localrel


def test_local_rows_df_matches_classic_path(spark):
    """Arrow local relations must be value- and schema-identical to the
    pickled-RDD path, including None in integer columns and empties."""
    from blockchain2graphdb_spark.plans.localrel import local_rows_df

    sch = "event_type string, n long, mae long"
    rows = [("a", 5, None), ("b", 7, 9)]
    classic = spark.createDataFrame(rows, sch)
    fast = local_rows_df(spark, rows, sch)
    assert fast.schema == classic.schema
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, classic.collect()))
    empty = local_rows_df(spark, [], sch)
    assert empty.count() == 0 and empty.schema == classic.schema


def test_local_rows_df_plans_as_local_scan(spark):
    """The whole point: no pickled RDD, no Python workers at action
    time — the plan must be a LocalTableScan (or empty relation), never
    a Scan ExistingRDD over a parallelized python list."""
    from pyspark.sql.types import LongType, StructField, StructType

    from blockchain2graphdb_spark.plans.localrel import local_rows_df

    df = local_rows_df(spark, [(1, 2), (3, 4)], "a long, b long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    # empty rows too, for both schema forms: an empty LocalRelation,
    # not the pickled-RDD frame PySpark builds from an empty pandas frame
    st = StructType([StructField("a", LongType(), False), StructField("b", LongType())])
    for sch in ("a long, b long", st):
        empty = local_rows_df(spark, [], sch)
        qe = empty._jdf.queryExecution()
        assert "LocalRelation" in qe.optimizedPlan().toString()
        assert "ExistingRDD" not in qe.executedPlan().toString()
        assert empty.collect() == []
    assert local_rows_df(spark, [], st).schema == st


def test_local_rows_df_structtype_schema(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from blockchain2graphdb_spark.plans.localrel import local_rows_df

    st = StructType([StructField("a", LongType()), StructField("b", LongType())])
    out = local_rows_df(spark, [(10, 20)], st).toDF("node", "comp")
    assert [tuple(r) for r in out.collect()] == [(10, 20)]


# ---------------------------------------------------------------- band pairs


def test_band_pairs_equals_self_join(spark):
    """The grouped in-bucket expansion must produce exactly the
    candidate set of the r16 band self-join (docs sharing a
    (band, sig) bucket, canonical a<b), on data with multi-member and
    singleton buckets and docs sharing several buckets."""
    from blockchain2graphdb_spark.operators.dedup import _band_pairs

    rows = [
        # bucket (0, 100): docs 1,2,3 -> pairs (1,2) (1,3) (2,3)
        (1, 0, 100), (2, 0, 100), (3, 0, 100),
        # bucket (1, 100): docs 1,2 again -> duplicate pair (1,2)
        (1, 1, 100), (2, 1, 100),
        # singleton bucket: no pairs
        (9, 0, 555),
        # same sig in a DIFFERENT band must not pair with band 0
        (7, 2, 100),
    ]
    bands = spark.createDataFrame(rows, "doc_id long, band int, sig long")
    got = sorted(map(tuple, _band_pairs(bands).collect()))
    l, r = bands.alias("l"), bands.alias("r")
    want = sorted(
        map(
            tuple,
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.sig") == F.col("r.sig"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
            .distinct()
            .collect(),
        )
    )
    assert got == want == [(1, 2), (1, 3), (2, 3)]


# ------------------------------------------------------------- sym helpers


def test_sym_edges_and_pair_nodes_match_union_form(spark):
    from blockchain2graphdb_spark.operators.graphops import (
        _pair_nodes,
        _sym_edges,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (5, 9)], "a long, b long"
    )
    sym = sorted(map(tuple, _sym_edges(pairs).collect()))
    union = sorted(
        map(
            tuple,
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(
                pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
            .collect(),
        )
    )
    assert sym == union
    nodes = sorted(r["n"] for r in _pair_nodes(pairs).collect())
    assert nodes == [1, 2, 3, 5, 9]
    mentions = sorted(
        r["n"] for r in _pair_nodes(pairs, distinct=False).collect()
    )
    assert mentions == [1, 1, 2, 2, 3, 3, 5, 9]


# ----------------------------------------------------- catalog hardenings


def test_session_token_stable_and_unique(spark):
    from blockchain2graphdb_spark.catalog import session_token

    t1 = session_token(spark)
    assert session_token(spark) == t1  # stable per session
    sib = spark.newSession()
    try:
        assert session_token(sib) != t1  # never shared across sessions
    finally:
        del sib


def test_fixture_identity_sees_nested_rewrite(tmp_path):
    """A leaf rewrite inside a subdirectory must change the identity
    even when the top directory's size/mtime are unchanged."""
    import os

    from blockchain2graphdb_spark.catalog import _fixture_identity

    root = tmp_path / "events.parquet" / "part=0"
    root.mkdir(parents=True)
    leaf = root / "frag.parquet"
    leaf.write_bytes(b"one")
    before = _fixture_identity(str(tmp_path), "events")
    os.utime(tmp_path / "events.parquet", ns=(1, 1))  # pin top-level mtime
    leaf.write_bytes(b"two!")  # different size AND mtime in the leaf
    os.utime(tmp_path / "events.parquet", ns=(1, 1))
    after = _fixture_identity(str(tmp_path), "events")
    assert before != after


def test_register_views_heals_dropped_view(spark):
    from blockchain2graphdb_spark.catalog import TABLES
    from blockchain2graphdb_spark.operators.sqlsuite import register_views

    register_views(spark, SF_DIR)
    assert spark.catalog.tableExists(TABLES[0])
    spark.catalog.dropTempView(TABLES[0])
    register_views(spark, SF_DIR)  # must repair, not skip
    assert spark.catalog.tableExists(TABLES[0])


def test_register_views_heals_dropped_non_first_view(spark):
    """The skip probe must cover every view, not just TABLES[0]."""
    from blockchain2graphdb_spark.catalog import TABLES
    from blockchain2graphdb_spark.operators.sqlsuite import register_views

    register_views(spark, SF_DIR)
    spark.catalog.dropTempView(TABLES[-1])
    assert not spark.catalog.tableExists(TABLES[-1])
    register_views(spark, SF_DIR)  # must repair, not skip
    assert all(spark.catalog.tableExists(t) for t in TABLES)


# --------------------------------------------------- expansion floor gate


def test_expand_scope_floor_derivation(spark):
    """The coalesce floor must track input bytes / parallelism and hit
    the AQE default (no-op) as the input grows."""
    from blockchain2graphdb_spark.operators.graphops import _expand_scope

    par = spark.sparkContext.defaultParallelism
    with _expand_scope(spark, SF_DIR):
        v = spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        )
    from blockchain2graphdb_spark.catalog import parquet_num_rows

    expect = max(64 * 1024, min(1024 * 1024, parquet_num_rows(SF_DIR, "lineitem") * 16 // par))
    assert int(v) == expect
    # a 6M-row (sf1-sized) input must derive exactly the AQE default —
    # the provable-no-op-at-scale property the round rules require
    assert max(64 * 1024, min(1024 * 1024, 6_000_000 * 16 // par)) == 1024 * 1024
