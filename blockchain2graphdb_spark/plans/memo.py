"""The session-scoped memo shared by the catalog's table plans, the
co-purchase edge list and the centrality seed BFS.

Each caller keeps its own module-level dict and passes it in at call
time, so a test or a tracer that swaps the module global for another
dict-like object sees every lookup (`store.get(key)`) and every insert
(`store[key] = value`). Eviction is oldest-first (dict insertion order)
once the store holds `bound` entries; `release` gets each evicted value
so a caller can free the executor blocks it pins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def memoized(
    store: dict,
    key,
    build: Callable[[], object],
    bound: int,
    release: Callable[[object], None] | None = None,
):
    """`store[key]`, built by `build()` on a miss."""
    hit = store.get(key)
    if hit is not None:
        return hit
    value = build()
    while len(store) >= bound:
        old = store.pop(next(iter(store)))
        if release is not None:
            release(old)
    store[key] = value
    return value


def unpersist(*dfs: DataFrame) -> None:
    """Best-effort release of checkpoint blocks: the RDD may already be
    gone if the context restarted."""
    for df in dfs:
        try:
            df.rdd.unpersist(False)
        except Exception:
            pass


def pairs_memo_key(spark: SparkSession, sf_dir: str) -> tuple:
    """Memo key for structures derived from a fixture's lineitem table:
    the Spark application plus the file's identity (abs path, size,
    mtime), so a regenerated fixture or a new session never serves
    stale data. localCheckpoint RDDs live for the session, so a cached
    DataFrame stays valid exactly as long as its key does."""
    import os

    src = os.path.join(sf_dir, "lineitem.parquet")
    st = os.stat(src)
    return (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        st.st_size,
        st.st_mtime_ns,
    )
