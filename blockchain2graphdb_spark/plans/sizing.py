"""The broadcast gate: the one place that decides whether a graph
operator hints `broadcast` on the small side of a join.

Why a gate at all: the iterative operators checkpoint their tables
(plans/iterate.py), and a checkpointed plan has no size statistics, so
Catalyst and AQE can never pick a broadcast join for it themselves.
Without a hint every round shuffles the full edge list.

The policy, in full:

- `broadcast_hint(spark, n_rows, schema)` returns `F.broadcast` when
  `n_rows <= adaptive_broadcast_rows(spark, est_row_bytes(schema))`
  and the identity otherwise. Past the limit the join runs as a keyed
  shuffle with AQE skew handling.
- `n_rows` is a count the operator already has: an `observe()` metric
  on the eager checkpoint that builds the side, a parquet-footer row
  count (`catalog.parquet_num_rows`), or the memoized edge count of
  `_copurchase_pairs`. It may be an upper bound on the side's rows; a
  gate never runs a Spark job of its own.
- `schema` is the broadcast side's schema. `est_row_bytes` prices it
  per row: Catalyst's per-type default sizes times 3 for the hash
  relation's overhead.
- The limit is `heap * 0.10 / bytes_per_row`, clamped to
  [100k, 64M] rows. `heap` is `spark.driver.memory` in local mode
  (executors are threads in the driver JVM) and
  `spark.executor.memory` on a cluster; Spark's default is 1g. The
  driver builds every broadcast relation, so the driver heap bounds it
  on a cluster as well. One relation takes at most a tenth of the heap
  so that it does not evict the shuffle pages its rounds need. The
  100k floor keeps a tiny test heap from turning small graphs into
  shuffles. The 64M cap bounds the driver-side build: a 64M-row hash
  relation is already ~4 GiB serialized.
- A loop resolves its gate once, before its first round, from static
  conf. A loop that switched join strategy between rounds would churn
  broadcast registrations in the executors' block managers.

`adaptive_broadcast_rows` is also the seam tests patch to force a path:
returning 0 sends every gated join down the shuffle path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SIZE_RE = re.compile(r"^\s*(\d+)\s*([kmgt]?)b?\s*$", re.IGNORECASE)

_UNIT = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def parse_mem(s: str) -> int:
    """JVM/Spark memory string ('8g', '512m', '1024') -> bytes.
    Bare numbers are MiB, matching spark.executor.memory semantics."""
    m = _SIZE_RE.match(s)
    if not m:
        raise ValueError(f"unparseable memory size {s!r}")
    n, unit = int(m.group(1)), m.group(2).lower()
    return n * (_UNIT["m"] if unit == "" else _UNIT[unit])


def heap_bytes(spark: SparkSession) -> int:
    """The per-JVM heap that bounds one broadcast relation: executor
    memory on a cluster, driver memory in local mode (where the
    'executors' are threads in the driver JVM and
    spark.executor.memory is ignored)."""
    conf = spark.conf
    master = conf.get("spark.master", "")
    if master.startswith("local"):
        return parse_mem(conf.get("spark.driver.memory", "1g"))
    return parse_mem(conf.get("spark.executor.memory", "1g"))


def adaptive_broadcast_rows(
    spark: SparkSession,
    bytes_per_row: int = 64,
    fraction: float = 0.10,
    floor: int = 100_000,
    cap: int = 64_000_000,
) -> int:
    """Max rows one broadcast relation may hold on this session's
    memory config (see the module docstring)."""
    budget = int(heap_bytes(spark) * fraction)
    return max(floor, min(cap, budget // bytes_per_row))


# JVM defaultSize analogues for the types iterative loops actually
# broadcast (Catalyst's DataType.defaultSize, which PySpark does not
# expose), padded by the broadcast-hash-relation overhead factor below.
_TYPE_BYTES = {
    "boolean": 1,
    "byte": 1,
    "short": 2,
    "integer": 4,
    "long": 8,
    "float": 4,
    "double": 8,
    "date": 4,
    "timestamp": 8,
    "timestamp_ntz": 8,
    "string": 20,
    "binary": 100,
}

# an in-memory BroadcastHashJoin relation (LongHashedRelation /
# UnsafeHashedRelation) costs roughly 2-3x the raw row payload in map
# entries and UnsafeRow headers; 3x keeps the estimate conservative
_HASH_RELATION_OVERHEAD = 3


def est_row_bytes(schema) -> int:
    """Broadcast-relation bytes per row for a StructType: per-field
    defaultSize (recursing into structs/arrays/maps/decimals) times the
    hash-relation overhead."""

    def field_bytes(dt) -> int:
        name = dt.typeName()
        if name in _TYPE_BYTES:
            return _TYPE_BYTES[name]
        if name == "decimal":
            return 8 if dt.precision <= 18 else 16
        if name == "struct":
            return sum(field_bytes(f.dataType) for f in dt.fields)
        if name == "array":
            return 4 * field_bytes(dt.elementType)  # assume short arrays
        if name == "map":
            return 4 * (field_bytes(dt.keyType) + field_bytes(dt.valueType))
        return 20  # unknown: a conservative scalar default

    raw = sum(field_bytes(f.dataType) for f in schema.fields)
    return max(16, raw) * _HASH_RELATION_OVERHEAD


def _no_hint(df: DataFrame) -> DataFrame:
    return df


def broadcast_hint(spark: SparkSession, n_rows: int, schema):
    """`F.broadcast` if a side of `n_rows` rows of `schema` fits the
    broadcast limit, else the identity (see the module docstring)."""
    limit = adaptive_broadcast_rows(spark, bytes_per_row=est_row_bytes(schema))
    return F.broadcast if n_rows <= limit else _no_hint
