"""Power-law / mega-hub skew stress for the graph family (VERDICT r6 #5).

A synthetic co-purchase fixture with one hub part in ~30% of orders —
the degree distribution the ARCHITECTURE §8 skew claims are about —
pushed through the SHUFFLE (non-broadcast) paths of triangle_count,
the distributed connected-components loop, and the k-core peel, each
checked against an independent pure-Python oracle.
"""

from __future__ import annotations

import itertools
import os
import random
import tempfile

import pytest

from blockchain2graphdb_spark import registry  # noqa: F401 (module import parity)


HUB = 1
N_ORDERS = 250
N_PARTS = 150


def _skewed_orders():
    """(orderkey, partkey) rows: every order has 2-4 parts; the hub part
    joins ~30% of orders, the rest draw uniformly. Deterministic."""
    rng = random.Random(42)
    rows = []
    for o in range(1, N_ORDERS + 1):
        k = rng.randint(2, 4)
        parts = set()
        if rng.random() < 0.30:
            parts.add(HUB)
        while len(parts) < k:
            parts.add(rng.randint(2, N_PARTS))
        rows += [(o, p) for p in sorted(parts)]
    return rows


def _pairs(rows):
    """Canonical a<b co-purchase pair set (the graph all three operators
    derive)."""
    by_order: dict = {}
    for o, p in rows:
        by_order.setdefault(o, set()).add(p)
    pairs = set()
    for parts in by_order.values():
        pairs |= {tuple(sorted(c)) for c in itertools.combinations(parts, 2)}
    return pairs


@pytest.fixture(scope="module")
def skew_dir(spark):
    rows = _skewed_orders()
    with tempfile.TemporaryDirectory(dir=".tmp") as tmp:
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.parquet(os.path.join(tmp, "lineitem.parquet"))
        spark.createDataFrame(
            [(p, 50) for p in range(1, N_PARTS + 1)], "p_partkey long, p_size int"
        ).write.parquet(os.path.join(tmp, "part.parquet"))
        yield tmp


def test_hub_graph_is_actually_skewed():
    pairs = _pairs(_skewed_orders())
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    degrees = sorted(deg.values(), reverse=True)
    # hub degree is an order of magnitude above the median
    assert deg[HUB] == degrees[0] and deg[HUB] >= 10 * degrees[len(degrees) // 2]


def test_triangle_count_shuffle_path_on_hub_graph(spark, skew_dir, monkeypatch):
    """A zero broadcast-gate limit forces the keyed-shuffle adjacency
    joins — the 100 TB path — on a graph whose hub makes the per-vertex
    adjacency maximally uneven."""
    from blockchain2graphdb_spark.operators.graphops import triangle_count
    from blockchain2graphdb_spark.plans import sizing

    pairs = _pairs(_skewed_orders())
    fwd: dict = {}
    for a, b in pairs:
        fwd.setdefault(a, set()).add(b)
    want = sum(len(fwd.get(a, set()) & fwd.get(b, set())) for a, b in pairs)

    monkeypatch.setattr(sizing, "adaptive_broadcast_rows", lambda *a, **k: 0)
    got = triangle_count(spark, skew_dir).collect()
    assert got[0]["n_triangles"] == want and want > 0


def test_connected_components_distributed_on_hub_graph(spark):
    """The SV hooking loop (driver_threshold=0) on a hub-dominated graph
    plus satellite chains; oracle = union-find."""
    from blockchain2graphdb_spark.graph.components import connected_components

    rng = random.Random(9)
    edges = [(HUB, v) for v in range(1000, 1080)]  # mega-hub star
    chain = list(range(2000, 2060))
    rng.shuffle(chain)
    edges += list(zip(chain, chain[1:]))  # separate shuffled chain
    edges.append((1042, chain[30]))  # late bridge hub-comp <-> chain

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["comp"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == want


def test_kcore_peel_on_hub_graph(spark, skew_dir):
    """k-core on the skewed graph vs an independent Python peel."""
    from blockchain2graphdb_spark.operators.graphops import kcore

    k = 3
    pairs = _pairs(_skewed_orders())
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    alive = set(nbrs)
    while True:
        weak = {v for v in alive if len(nbrs[v] & alive) < k}
        if not weak:
            break
        alive -= weak
    want = {v: len(nbrs[v] & alive) for v in alive}

    got = {
        r["node"]: r["core_degree"]
        for r in kcore(spark, skew_dir, k=k, require_convergence=True).collect()
    }
    assert got == want and want
