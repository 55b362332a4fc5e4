"""The broadcast gate (`plans.sizing.broadcast_hint`) is the one place a
graph operator decides whether to hint `broadcast` on a join side.

`sizing.adaptive_broadcast_rows` is the seam that forces a path: a
limit of 0 sends every gated join down the keyed-shuffle path.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from blockchain2graphdb_spark import registry
from blockchain2graphdb_spark.catalog import TABLES
from blockchain2graphdb_spark.plans import sizing
from conftest import REPO_ROOT, SF_DIR
from tools.verify_local import compare

_NARROW = StructType([StructField("id", LongType())])
_WIDE = StructType(
    [
        StructField("id", LongType()),
        StructField("address", StringType()),
        StructField("hash", StringType()),
        StructField("nb", ArrayType(LongType())),
    ]
)


def test_gate_broadcasts_up_to_the_limit_and_not_past_it(spark):
    limits = {}
    for name, schema in (("narrow", _NARROW), ("wide", _WIDE)):
        limit = sizing.adaptive_broadcast_rows(
            spark, bytes_per_row=sizing.est_row_bytes(schema)
        )
        limits[name] = limit
        assert sizing.broadcast_hint(spark, 0, schema) is F.broadcast
        assert sizing.broadcast_hint(spark, limit, schema) is F.broadcast
        past = sizing.broadcast_hint(spark, limit + 1, schema)
        assert past is not F.broadcast
        df = spark.range(1)
        assert past(df) is df
    # a wider row buys fewer rows of the same heap share
    assert limits["wide"] < limits["narrow"]


def test_gate_reads_the_limit_through_the_seam(spark, monkeypatch):
    monkeypatch.setattr(sizing, "adaptive_broadcast_rows", lambda *a, **k: 0)
    assert sizing.broadcast_hint(spark, 0, _NARROW) is F.broadcast
    assert sizing.broadcast_hint(spark, 1, _NARROW) is not F.broadcast


def _gate_offenders(source: str, rel: str) -> list[str]:
    """Conditional broadcast hints and limit imports in one module.

    A broadcast hint is conditional when `broadcast` is used as a value
    (picked by an if/else, assigned, returned, passed on) rather than
    called; comparing a returned hint with `is` is allowed."""
    tree = ast.parse(source, rel)
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    compared = {
        id(c)
        for n in ast.walk(tree)
        if isinstance(n, ast.Compare)
        for c in (n.left, *n.comparators)
    }
    out = []
    for node in ast.walk(tree):
        name = (
            node.attr
            if isinstance(node, ast.Attribute)
            else node.id if isinstance(node, ast.Name) else None
        )
        if name == "broadcast" and id(node) not in called | compared:
            out.append(f"{rel}:{node.lineno} broadcast used as a value")
        if name == "adaptive_broadcast_rows":
            out.append(f"{rel}:{node.lineno} reads adaptive_broadcast_rows")
        if isinstance(node, ast.ImportFrom) and any(
            a.name == "adaptive_broadcast_rows" for a in node.names
        ):
            out.append(f"{rel}:{node.lineno} imports adaptive_broadcast_rows")
    return out


def test_guard_catches_inline_gates():
    inline = "hint = F.broadcast if n <= 4_000_000 else (lambda df: df)\n"
    branch = "if n > m:\n    hint = ident\nelse:\n    hint = F.broadcast\n"
    limit = "from ..plans.sizing import adaptive_broadcast_rows\n"
    assert _gate_offenders(inline, "x.py")
    assert _gate_offenders(branch, "x.py")
    assert _gate_offenders(limit, "x.py")
    assert not _gate_offenders("y = F.broadcast(df)\nok = h is F.broadcast\n", "x.py")


def test_no_broadcast_gate_outside_sizing():
    pkg = os.path.join(REPO_ROOT, "blockchain2graphdb_spark")
    offenders = []
    for dirpath, _dirs, names in os.walk(pkg):
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(dirpath, n)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if rel == "plans/sizing.py":
                continue
            with open(path, encoding="utf-8") as fh:
                offenders += _gate_offenders(fh.read(), rel)
    assert not offenders, f"route these through plans.sizing.broadcast_hint: {offenders}"


@pytest.mark.slow
def test_gated_keys_match_their_oracles_on_the_shuffle_path(spark, monkeypatch):
    """Every oracle-checked key whose builder reaches the gate, built
    with a zero limit (all gated joins shuffle), still matches DuckDB.
    The keys are found by counting calls at the seam."""
    from blockchain2graphdb_spark.operators import centrality

    calls = []

    def zero_limit(*_a, **_k):
        calls.append(1)
        return 0

    monkeypatch.setattr(sizing, "adaptive_broadcast_rows", zero_limit)
    # a private seed-BFS memo, emptied per key: a BFS built on the
    # broadcast path must not be served, and each key must reach the
    # gate itself to be counted
    monkeypatch.setattr(centrality, "_SEED_BFS_MEMO", {})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    reached, failures = [], {}
    for name, spec in sorted(registry.load_all().items()):
        if spec.oracle is None:
            continue
        centrality._SEED_BFS_MEMO.clear()
        before = len(calls)
        df = spec.builder(spark, SF_DIR)
        if len(calls) == before:
            continue
        reached.append(name)
        problems = compare(name, df.toPandas(), con.sql(spec.oracle).df())
        if problems:
            failures[name] = problems
    # 21 oracle keys reach the gate at sf0.001; far fewer means the
    # seam is no longer the one every site reads
    assert len(reached) >= 20, reached
    assert not failures, failures
