"""Streaming chain ingestion (SURVEY.md §3.2): the reference's
synchronizeDatabase loop (B:116–167) as Structured Streaming +
foreachBatch MERGE.

Pipeline: decoded block rows arrive as files (the S2 tail-file pickup);
each micro-batch is normalized to the four tables and folded into the
accumulated state with `maintain.resume` — which detects divergence and
rolls back reorged heights before appending (M5+M6). Every batch's
result is materialized (localCheckpoint) because batch DataFrames are
only valid inside their micro-batch.

At scale the state lives in a Delta/Iceberg-style table and `resume`
becomes a MERGE + replaceWhere partition overwrite of `height >= fork`;
the control flow here is exactly that, minus the table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..chain import schema
from ..chain.maintain import Tables, resume
from ..plans.localrel import local_rows_df
from ..sources.blockfile import DECODED_SCHEMA, normalize


def empty_tables(spark: SparkSession) -> Tables:
    """The state a stream starts from: four empty local relations
    (plans/localrel.py), not pickled-RDD frames. Catalyst sees they are
    empty, so the first micro-batch's `resume` plans without its
    fork-probe join, anti-joins and unions, and the checkpointed state it
    leaves carries the incoming scan's size instead of an unknown one."""
    return {
        "blocks": local_rows_df(spark, [], schema.BLOCKS),
        "transactions": local_rows_df(spark, [], schema.TRANSACTIONS),
        "outputs": local_rows_df(spark, [], schema.OUTPUTS),
        "inputs": local_rows_df(spark, [], schema.INPUTS),
    }


def ingest_stream(
    spark: SparkSession,
    blocks_dir: str,
    state: Tables | None = None,
    max_files_per_trigger: int = 1,
) -> Tables:
    """Consume a directory of decoded-block parquet files as a stream;
    return the final accumulated tables. Reorgs inside the stream are
    resolved batch-by-batch via resume()."""
    holder = {"tables": state or empty_tables(spark)}

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        incoming = normalize(batch_df)
        merged = resume(holder["tables"], incoming)
        holder["tables"] = {
            name: df.localCheckpoint(eager=True) for name, df in merged.items()
        }

    s = (
        spark.readStream.schema(DECODED_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(blocks_dir)
    )
    q = s.writeStream.foreachBatch(apply).trigger(availableNow=True).start()
    q.awaitTermination()
    return holder["tables"]


_MERGE_KEYS = {
    "blocks": ["hash"],
    "transactions": ["tx_hash"],
    "outputs": ["output_id"],
    "inputs": ["spending_tx_hash", "spent_output_id"],
}


def _with_height(tables: Tables) -> Tables:
    """Attach the owning block's height to every child row so all four
    tables share the reorg partition key."""
    from pyspark.sql import functions as F

    h = tables["blocks"].select(
        F.col("hash").alias("block_hash"), F.col("height").alias("_height")
    )
    tx_h = tables["transactions"].join(h, "block_hash")
    tx_key = tx_h.select("tx_hash", "_height")
    return {
        "blocks": tables["blocks"].withColumn("_height", F.col("height")),
        "transactions": tx_h,
        "outputs": tables["outputs"].join(tx_key, "tx_hash"),
        "inputs": tables["inputs"].join(
            tx_key.withColumnRenamed("tx_hash", "spending_tx_hash"),
            "spending_tx_hash",
        ),
    }


def apply_versioned_batch(spark: SparkSession, stores: dict, batch_df: DataFrame, tag: str) -> None:
    """Fold one micro-batch of decoded blocks into the SnapshotStores.

    Exactly-once under re-delivery: every COMMIT gets its own tag
    ({batch}/init, {batch}/reorg:{fork}, {batch}/append) checked
    independently — one batch-wide tag would make a crash between a
    reorg overwrite and its follow-up append skip the append on replay,
    permanently dropping the appended rows. Module-level (not a stream
    closure) so crash/replay windows are testable directly.
    """
    from pyspark.sql import functions as F

    from ..chain.maintain import find_fork_height

    incoming = _with_height(normalize(batch_df))
    # a replayed batch may find the reorg half-applied across stores;
    # recomputing the fork from mutated state would then diverge, so the
    # fork height chosen on first delivery is recorded inside the reorg
    # tag (blocks commits first) and recovered from the log
    recorded = [
        t for t in stores["blocks"].applied_tags() if t.startswith(f"{tag}/reorg:")
    ]
    if recorded:
        fork = int(recorded[0].rsplit(":", 1)[1])
    elif stores["blocks"].latest_version() == 0:
        fork = None
    else:
        stored_blocks = stores["blocks"].read(spark).select("height", "hash")
        fork = find_fork_height(stored_blocks, incoming["blocks"])
    for name, store in stores.items():
        inc = incoming[name]
        applied = store.applied_tags()
        if store.latest_version() == 0:
            # commits even when inc is empty (e.g. a genesis-only batch
            # has no inputs): the manifest records the schema, so the
            # next batch's read() returns an empty frame
            if f"{tag}/init" not in applied:
                store.write(inc, partition_col="_height", tag=f"{tag}/init")
            continue
        if fork is not None:
            if f"{tag}/reorg:{fork}" not in applied:
                # heights >= fork: stored partitions die, incoming replaces
                doomed = [
                    r["_height"]
                    for r in store.read(spark)
                    .where(F.col("_height") >= fork)
                    .select("_height")
                    .distinct()
                    .collect()
                ]
                store.overwrite_partitions(
                    inc.where(F.col("_height") >= fork),
                    values=doomed,
                    tag=f"{tag}/reorg:{fork}",
                )
            inc = inc.where(F.col("_height") < fork)
        if f"{tag}/append" not in applied:
            cur = store.read(spark)
            fresh = inc.join(cur.select(_MERGE_KEYS[name]), _MERGE_KEYS[name], "left_anti")
            if fresh.limit(1).count() > 0:
                store.append(fresh, tag=f"{tag}/append")


def ingest_stream_versioned(
    spark: SparkSession,
    blocks_dir: str,
    root: str,
    max_files_per_trigger: int = 1,
) -> dict:
    """ingest_stream with durable, versioned state: each table persists
    to a SnapshotStore (sources/snapshots.py) partitioned by block
    height, turning the reference's synchronizeDatabase loop (B:116–167)
    into commit-log operations —

      * chain extension  -> `append` (anti-joined to stay idempotent),
      * reorg            -> `overwrite_partitions` of heights >= fork
                            (M5 as replaceWhere: O(forked partitions)),
      * crash recovery   -> the store's last committed version IS the
                            checkpoint (M6); every pre-reorg version
                            stays readable by time travel.

    Height works as the partition key here because the fixture chains
    are short; production would bucket `height // 1000` so partition
    count stays bounded — same code path.

    Returns {table: SnapshotStore}.
    """
    from ..sources.snapshots import SnapshotStore

    stores = {name: SnapshotStore(f"{root}/{name}") for name in _MERGE_KEYS}

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_versioned_batch(spark, stores, batch_df, f"batch-{batch_id}")

    s = (
        spark.readStream.schema(DECODED_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(blocks_dir)
    )
    q = s.writeStream.foreachBatch(apply).trigger(availableNow=True).start()
    q.awaitTermination()
    return stores
