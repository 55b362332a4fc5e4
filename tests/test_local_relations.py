"""Driver-made frames are local relations, never pickled Python RDDs.

Every empty or small frame the engine builds on the driver goes through
`plans.localrel.local_rows_df`. An empty one must be a `LocalRelation`
Catalyst can see is empty: the stream's state fold then plans the first
micro-batch as the incoming rows alone, with no Python-worker tasks.
"""

from __future__ import annotations

import ast
import json
import os

from blockchain2graphdb_spark.chain import fixtures
from blockchain2graphdb_spark.chain import schema as chain_schema
from blockchain2graphdb_spark.chain.maintain import resume
from blockchain2graphdb_spark.streaming.ingest import empty_tables

from conftest import REPO_ROOT

_TABLE_SCHEMAS = {
    "blocks": chain_schema.BLOCKS,
    "transactions": chain_schema.TRANSACTIONS,
    "outputs": chain_schema.OUTPUTS,
    "inputs": chain_schema.INPUTS,
}


def _plans(df) -> tuple[str, str]:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.executedPlan().toString()


def test_empty_tables_schemas_match_chain_schema(spark):
    """Exact equality, nullability included."""
    tables = empty_tables(spark)
    assert set(tables) == set(_TABLE_SCHEMAS)
    for name, st in _TABLE_SCHEMAS.items():
        assert tables[name].schema == st, name
        optimized, executed = _plans(tables[name])
        assert "LocalRelation" in optimized and "ExistingRDD" not in executed


def test_resume_into_empty_state_plans_without_joins(spark):
    """Folding a first batch into empty state must prune the fork-probe
    join, the insert_if_absent anti-joins and the unions away entirely."""
    incoming = fixtures.generate(n_blocks=4, seed=3).to_spark(spark)
    merged = resume(empty_tables(spark), incoming)
    for name, df in merged.items():
        optimized, executed = _plans(df)
        assert "Join" not in optimized, f"{name}:\n{optimized}"
        assert "LogicalRDD" not in optimized and "ExistingRDD" not in executed, name
    assert merged["blocks"].count() == 4


def test_snapshot_read_of_empty_version_is_local_relation(spark, tmp_path):
    from pyspark.sql.types import StructType

    from blockchain2graphdb_spark.plans.localrel import local_rows_df
    from blockchain2graphdb_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "tbl"))
    src = local_rows_df(spark, [(1, "a", 5)], "k long, v string, p int")
    store.write(src.limit(0), partition_col="p")
    got = store.read(spark)
    manifest = store._manifest(store.latest_version())
    assert got.schema == StructType.fromJson(json.loads(manifest["schema"]))
    optimized, executed = _plans(got)
    assert "LocalRelation" in optimized and "ExistingRDD" not in executed
    assert got.collect() == []


def test_local_rows_df_fallback_warns_once(spark, monkeypatch):
    """A missing pandas must not silently bring back the pickled-RDD
    frame: the fallback stays correct and says so, once."""
    import sys
    import warnings

    from blockchain2graphdb_spark.plans import localrel

    monkeypatch.setattr(localrel, "_WARNED_FALLBACK", False)
    monkeypatch.setitem(sys.modules, "pandas", None)  # import raises ImportError
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        first = localrel.local_rows_df(spark, [(1, "a")], "k long, v string")
        second = localrel.local_rows_df(spark, [(2, "b")], "k long, v string")
    fallbacks = [w for w in caught if "local_rows_df" in str(w.message)]
    assert len(fallbacks) == 1 and fallbacks[0].category is RuntimeWarning
    assert [tuple(r) for r in first.collect()] == [(1, "a")]
    assert [tuple(r) for r in second.collect()] == [(2, "b")]


# Files allowed to build a frame from driver data directly: the
# constructor's own conversions and fallback, and the fixture
# generator's pandas path. Everything else must call local_rows_df.
_ALLOWED = {"plans/localrel.py", "chain/fixtures.py"}


def test_no_pickled_rdd_frames_in_engine_code():
    pkg = os.path.join(REPO_ROOT, "blockchain2graphdb_spark")
    offenders = []
    for dirpath, _dirs, names in os.walk(pkg):
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(dirpath, n)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if rel in _ALLOWED:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            offenders += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
            ]
    assert not offenders, f"route these through plans.localrel.local_rows_df: {offenders}"
