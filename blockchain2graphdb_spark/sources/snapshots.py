"""Versioned table snapshots — Delta-style commit log over plain parquet.

SURVEY.md §2.9 M5/M6 at scale: the reference rolls back a chain reorg by
imperatively deleting vertices one at a time (B:91–102, B:523–530,
B:632–777). The batch engine recomputes from filtered survivors
(chain/maintain.py), which is correct but rewrites data. This module is
the third, production-shaped option: an append-only **manifest log**
over immutable parquet files, so that

  * every commit is a new version (snapshot isolation for readers);
  * rollback/RESTORE is **metadata-only** — a new manifest referencing
    the old version's files, zero data movement (the Delta Lake
    RESTORE semantics, rebuilt on nothing but parquet + JSON);
  * a reorg overwrites **only the partitions at/after the fork height**
    (`overwrite_partitions`, the `replaceWhere` pattern) — O(changed
    partitions), not O(table);
  * time travel (`read(version=k)`) pins tests and audits to an exact
    snapshot.

100 TB design notes: the manifest holds one entry per data file, so
commit cost is O(files touched) and the log stays tiny relative to
data. Readers plan from an explicit file list that Spark treats as an
ordinary multi-file parquet scan — predicate pushdown, column pruning
and partition pruning (via `basePath` discovery of `col=value` dirs)
all intact.

Multi-writer commits use optimistic concurrency, the Delta protocol's
shape: version N+1 is CLAIMED by atomically linking a fully-written
manifest into `_manifests/v{N+1}.json` (os.link fails with EEXIST if
another writer got there first — the filesystem's compare-and-swap).
A loser re-reads the new latest state, rebuilds its file list (appends
and partition overwrites re-derive from the winner's files, so no lost
updates), and retries at N+2. On an object store the link becomes a
conditional PUT (if-none-match) or a log-service CAS — same protocol,
no change to the read path.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def link_claim(tmp: str, target: str) -> bool:
    """Local-filesystem CAS: atomically claim `target` by hard-linking
    the fully-written `tmp` into it. Returns False if another writer
    already holds the slot (the loser retries against the new head).

    This is the COMMIT-PROTOCOL SEAM (VERDICT r11 #4): any callable
    with this signature and semantics — claim exactly one winner per
    target, never expose a partial manifest — can be injected into
    `SnapshotStore`/`TableGroup`. On S3/GCS/ABFS the implementation is
    a conditional PUT (`If-None-Match: *` / `x-ms-blob-type` with
    `ifNoneMatch`), on DynamoDB/a log service a conditional write; the
    protocol and the read path are unchanged. `tests/test_snapshots.py`
    exercises a fake object store (in-memory conditional PUT) and a
    race-injected claim through this seam."""
    try:
        os.link(tmp, target)
        return True
    except FileExistsError:
        return False


class SnapshotStore:
    """One versioned table rooted at `root` (tests use `.tmp/`).

    Layout:
        <root>/data/[<col>=<val>/]v{V}-{tok}-{seq}.parquet  immutable data files
        <root>/_manifests/v{V}.json            one manifest per commit (CAS-claimed)
    """

    def __init__(self, root: str, claim: Callable[[str, str], bool] | None = None):
        self.root = root
        self._claim = claim or link_claim
        os.makedirs(f"{root}/data", exist_ok=True)
        os.makedirs(f"{root}/_manifests", exist_ok=True)

    # ---- log primitives -------------------------------------------------

    def latest_version(self) -> int:
        """Highest committed version. Truth is the manifest directory —
        versions are claimed sequentially (max+1), so the set is gapless
        and the max is the head of the log."""
        best = 0
        for n in os.listdir(f"{self.root}/_manifests"):
            if n.startswith("v") and n.endswith(".json"):
                try:
                    best = max(best, int(n[1:-5]))
                except ValueError:
                    pass
        return best

    def _check(self, version: int) -> int:
        if not 0 <= version <= self.latest_version():
            raise ValueError(
                f"version {version} out of range 0..{self.latest_version()}"
            )
        return version

    def _manifest(self, version: int) -> dict:
        with open(f"{self.root}/_manifests/v{version:08d}.json") as f:
            return json.load(f)

    def files(self, version: int | None = None) -> list[str]:
        """Absolute paths; manifests store root-relative paths so the
        whole store directory can be staged/renamed/moved."""
        v = self.latest_version() if version is None else self._check(version)
        return (
            []
            if v == 0
            else [os.path.join(self.root, f) for f in self._manifest(v)["files"]]
        )

    def _rel(self, paths: list[str]) -> list[str]:
        return [os.path.relpath(p, self.root) for p in paths]

    def partition_col(self, version: int | None = None) -> str | None:
        v = self.latest_version() if version is None else self._check(version)
        return None if v == 0 else self._manifest(v)["partition_col"]

    def history(self) -> list[dict]:
        out = []
        for v in range(1, self.latest_version() + 1):
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                continue  # version reclaimed by TableGroup.vacuum
            out.append(
                {"version": v, "op": m["op"], "n_files": len(m["files"])}
            )
        return out

    def _commit(
        self,
        files_fn: Callable[[], list[str]],
        partition_col: str | None,
        op: str,
        tag: str | None = None,
        schema_json: str | None = None,
    ) -> int:
        """Optimistic-concurrency commit loop. `files_fn` is re-invoked
        on every attempt so a losing writer re-derives its file list
        from the winner's commit (appends/overwrites never lose the
        other writer's files)."""
        while True:
            new_v = self.latest_version() + 1
            mpath = f"{self.root}/_manifests/v{new_v:08d}.json"
            # write the complete manifest to a private temp, then claim
            # the version slot with an atomic hard link: losers get
            # EEXIST, readers never observe a partial manifest
            tmp = f"{self.root}/_manifests/.claim-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(
                    {"version": new_v, "op": op, "partition_col": partition_col,
                     "tag": tag, "schema": schema_json,
                     "files": self._rel(files_fn())}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                if self._claim(tmp, mpath):
                    return new_v
                continue  # lost the CAS — retry against the new head
            finally:
                os.unlink(tmp)

    # ---- write paths ----------------------------------------------------

    def _stage(self, df: DataFrame, partition_col: str | None) -> list[str]:
        """Write df to a staging dir, move the parquet files into data/
        (keeping `col=value` subdirs). Names carry a per-writer token so
        concurrent writers staging for the same target version can never
        collide (the version prefix is informational only — manifests,
        not names, define membership)."""
        base = self.latest_version() + 1
        tok = uuid.uuid4().hex[:8]
        stage = f"{self.root}/_stage-{tok}"
        shutil.rmtree(stage, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(stage)

        out: list[str] = []
        seq = 0
        for dirpath, _dirs, names in sorted(os.walk(stage)):
            rel = os.path.relpath(dirpath, stage)
            destdir = f"{self.root}/data" if rel == "." else f"{self.root}/data/{rel}"
            os.makedirs(destdir, exist_ok=True)
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                dest = f"{destdir}/v{base:08d}-{tok}-{seq:05d}.parquet"
                os.rename(os.path.join(dirpath, n), dest)
                out.append(dest)
                seq += 1
        shutil.rmtree(stage, ignore_errors=True)
        return out

    def _check_layout(self, partition_col: str | None) -> None:
        prior = self.partition_col()
        if self.latest_version() > 0 and prior != partition_col:
            raise ValueError(
                f"table is partitioned by {prior!r}; incremental commits "
                f"must match (got {partition_col!r}) — use write() to "
                "re-lay-out the table"
            )

    def applied_tags(self) -> set[str]:
        """Idempotence tags of every commit in the log — the
        exactly-once guard for re-delivered micro-batches: a writer
        checks its batch tag here and skips work it already applied."""
        out = set()
        for v in range(1, self.latest_version() + 1):
            t = self._manifest(v).get("tag")
            if t is not None:
                out.add(t)
        return out

    def write(
        self, df: DataFrame, partition_col: str | None = None, tag: str | None = None
    ) -> int:
        """Full overwrite as a new version (old versions stay readable)."""
        staged = self._stage(df, partition_col)
        return self._commit(
            lambda: staged, partition_col, "write", tag,
            schema_json=df.schema.json(),
        )

    def append(self, df: DataFrame, tag: str | None = None) -> int:
        """New version = previous files + the new rows' files (M1-adjacent:
        the caller dedups; this is the physical append). Under a CAS
        retry the base file list is re-read, so a concurrent winner's
        files are carried forward."""
        pc = self.partition_col()
        self._check_layout(pc if self.latest_version() else None)
        staged = self._stage(df, pc)
        return self._commit(
            lambda: self.files() + staged, pc, "append", tag,
            schema_json=df.schema.json(),
        )

    def overwrite_partitions(self, df: DataFrame, values, tag: str | None = None) -> int:
        """replaceWhere: drop files under the named partition values, add
        df's files. The M5 reorg path — `overwrite_partitions(new_branch,
        values=range(fork, tip+1))` touches only the forked heights.

        df may carry partition values beyond the drop set only where the
        table holds no files (e.g. a reorg branch extending past the old
        tip); a value that collides with a KEPT partition would silently
        duplicate rows, so that commit is refused. The check reads the
        staged directory names — no extra Spark job.
        """
        pc = self.partition_col()
        if pc is None:
            raise ValueError("overwrite_partitions requires a partitioned table")
        drop = {f"{pc}={v}" for v in values}
        staged = self._stage(df, pc)
        staged_parts = {os.path.basename(os.path.dirname(f)) for f in staged}

        def build() -> list[str]:
            # re-derived per CAS attempt: a concurrent append's files are
            # kept-or-dropped by the same partition rule
            kept = [
                f
                for f in self.files()
                if os.path.basename(os.path.dirname(f)) not in drop
            ]
            clash = staged_parts & {
                os.path.basename(os.path.dirname(f)) for f in kept
            }
            if clash:
                for f in staged:
                    os.remove(f)
                raise ValueError(
                    f"df holds rows in retained partitions {sorted(clash)} — "
                    "widen `values` or filter df to the replaced partitions"
                )
            return kept + staged

        return self._commit(
            build, pc, f"overwrite_partitions({len(drop)})", tag,
            schema_json=df.schema.json(),
        )

    def restore(self, version: int) -> int:
        """Metadata-only rollback: commit a new version referencing the
        file list of `version` verbatim. Zero data movement."""
        v = self._check(version)
        files = self.files(v)
        m = None if v == 0 else self._manifest(v)
        pc = None if m is None else m["partition_col"]
        return self._commit(
            lambda: files, pc, f"restore({v})",
            schema_json=None if m is None else m.get("schema"),
        )

    def clone_from(
        self, src: "SnapshotStore", version: int | None = None,
        tag: str | None = None,
    ) -> int:
        """SHALLOW (zero-copy) clone: commit a manifest into THIS store
        that references the source snapshot's data files verbatim —
        Delta's CLONE semantics rebuilt on the manifest log. Manifests
        store root-relative paths, so the foreign files are recorded as
        `../src/...` traversals; later appends land in this store's own
        data/ and never touch the source, and this store's vacuum()
        only walks its own data/ so it can never delete source files.

        Documented hazards (the same ones Delta shallow clones carry):
        (1) vacuum() on the SOURCE does not know about clones — it can
        delete files a clone still references; deep-copy before
        vacuuming a cloned-from store. (2) partitioned sources are
        refused: the clone's read path derives partition discovery from
        its OWN data/ basePath, which cannot cover foreign files."""
        v = src.latest_version() if version is None else src._check(version)
        if v == 0:
            raise ValueError(f"{src.root}: nothing to clone (version 0)")
        m = src._manifest(v)
        if m["partition_col"] is not None:
            raise ValueError(
                "shallow clone of a partitioned store is not supported "
                "(foreign files fall outside the clone's basePath); "
                "deep-copy instead"
            )
        files = src.files(v)
        return self._commit(
            lambda: files, None, f"clone({src.root}@v{v})", tag,
            schema_json=m.get("schema"),
        )

    # ---- read path ------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Scan a pinned snapshot (latest when version is None). A
        committed-but-empty version (e.g. a first micro-batch where one
        table had no rows) reads as an empty DataFrame with the schema
        recorded in its manifest."""
        files = self.files(version)
        if not files:
            v = self.latest_version() if version is None else self._check(version)
            sj = None if v == 0 else self._manifest(v).get("schema")
            if sj is None:
                raise ValueError(f"{self.root}: empty table at version {version}")
            from pyspark.sql.types import StructType

            from ..plans.localrel import local_rows_df

            return local_rows_df(spark, [], StructType.fromJson(json.loads(sj)))
        # mergeSchema: appends may evolve the schema (new nullable
        # columns); older files surface them as nulls
        reader = spark.read.option("mergeSchema", "true")
        if self.partition_col(version):
            # basePath turns the retained col=value dirs back into a
            # discovered partition column => partition pruning works
            reader = reader.option("basePath", f"{self.root}/data")
        return reader.parquet(*files)

    def vacuum(self) -> list[str]:
        """Delete data files unreferenced by ANY manifest (after this,
        time travel only reaches versions whose files all survive).
        Returns the deleted paths."""
        live: set[str] = set()
        for v in range(1, self.latest_version() + 1):
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                continue  # version reclaimed by TableGroup.vacuum
            live.update(os.path.join(self.root, f) for f in m["files"])
        dead = []
        for dirpath, _dirs, names in os.walk(f"{self.root}/data"):
            for n in names:
                p = os.path.join(dirpath, n)
                if n.endswith(".parquet") and p not in live:
                    dead.append(p)
        for p in dead:
            os.remove(p)
        return dead

    def diff(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Change data feed between two versions: row-level changes with
        a `_change` column ('insert' | 'delete'). Updates surface as a
        delete+insert pair, as in Delta's CDF without update tracking.

        File-level pruning first: files present in both manifests cannot
        contribute changes (they are immutable), so only the symmetric
        difference of the file lists is scanned — a reorg that touched
        2 partitions reads 2 partitions' worth of files, not the table.
        Row-level exceptAll then resolves rewritten files that carry
        mostly-identical rows.
        """
        from pyspark.sql import functions as F

        v_to = self.latest_version() if v_to is None else self._check(v_to)
        v_from = self._check(v_from)
        old_files = set(self.files(v_from))
        new_files = set(self.files(v_to))
        only_old = sorted(old_files - new_files)
        only_new = sorted(new_files - old_files)

        def read(paths: list[str]) -> DataFrame | None:
            if not paths:
                return None
            # mergeSchema as in read(): either side may span a
            # schema-evolving append
            reader = spark.read.option("mergeSchema", "true")
            if self.partition_col(v_to) or self.partition_col(v_from):
                reader = reader.option("basePath", f"{self.root}/data")
            return reader.parquet(*paths)

        def align(df: DataFrame, other: DataFrame) -> DataFrame:
            """Null-fill columns the other side gained by evolution and
            fix a common column order so exceptAll sees one schema."""
            have = set(df.columns)
            for fld in other.schema.fields:
                if fld.name not in have:
                    df = df.withColumn(fld.name, F.lit(None).cast(fld.dataType))
            return df.select(*sorted(df.columns))

        old_df, new_df = read(only_old), read(only_new)
        if old_df is not None and new_df is not None:
            old_df, new_df = align(old_df, new_df), align(new_df, old_df)
        if old_df is None and new_df is None:
            # identical file lists => no changes; empty frame with schema
            base = self.read(spark, v_to)
            return base.limit(0).withColumn("_change", F.lit(""))
        inserts = (
            new_df.exceptAll(old_df) if old_df is not None else new_df
        ) if new_df is not None else None
        deletes = (
            old_df.exceptAll(new_df) if new_df is not None else old_df
        ) if old_df is not None else None
        parts = []
        if inserts is not None:
            parts.append(inserts.withColumn("_change", F.lit("insert")))
        if deletes is not None:
            parts.append(deletes.withColumn("_change", F.lit("delete")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def compact(self, spark: SparkSession, target_files: int = 4) -> int:
        """OPTIMIZE: bin-pack the current version's (many, small) files
        into `target_files` per partition — a new commit referencing the
        rewritten files; old versions keep reading the originals until
        vacuum. Streaming ingest is the natural producer of small files
        (one-plus per micro-batch), compaction the consumer.

        Cost tracks FRAGMENTATION, not table size: on a partitioned
        table only partitions holding more than `target_files` files are
        read and rewritten; every other partition's files are carried
        into the new manifest untouched (metadata-only)."""
        pc = self.partition_col()
        base = self.read(spark)
        if pc is None:
            staged = self._stage(base.coalesce(target_files), None)
            return self._commit(
                lambda: staged, None, f"compact({target_files})",
                schema_json=base.schema.json(),
            )
        by_part: dict[str, list[str]] = {}
        for f in self.files():
            by_part.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
        fragmented = [fs for fs in by_part.values() if len(fs) > target_files]
        untouched = [
            f for fs in by_part.values() if len(fs) <= target_files for f in fs
        ]
        if not fragmented:
            return self.latest_version()  # nothing to do, no empty commit
        # repartition on the partition column: each value lands in one
        # task, so the write emits one file per rewritten partition
        frag_df = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", f"{self.root}/data")
            .parquet(*[f for fs in fragmented for f in fs])
            .repartition(pc)
        )
        staged = self._stage(frag_df, pc)
        return self._commit(
            lambda: untouched + staged,
            pc,
            f"compact({target_files})",
            schema_json=base.schema.json(),
        )


class TableGroup:
    """Snapshot-consistent MULTI-TABLE transactions over SnapshotStores —
    the Nessie/Iceberg-catalog shape, rebuilt on the same parquet+JSON
    primitives. The reference ingests blocks AND transactions per batch
    (B:38–113); with independent single-table logs a reader can observe
    table A's new version beside table B's old one. Here the TRUTH is a
    group-level commit log mapping every table to a pinned version:

        <root>/tables/<name>/...   ordinary SnapshotStores (data staging)
        <root>/_commits/g{G}.json  {table: version} — CAS-claimed

    * `commit({name: df, ...})` stages and commits each table's new
      version BASED ON THE CATALOG-PINNED version (not the table's own
      latest — see orphan note), then claims the next group slot with
      the same atomic hard-link CAS as SnapshotStore. Losing the group
      CAS triggers a REBASE: the new catalog head is read, each table's
      file list is rebuilt as winner's-files + own staged files (staged
      data is reused, never rewritten), and the claim retries — the
      optimistic-transaction loop, no lost updates.
    * `read(spark, name, group=None)` resolves the version through a
      group commit, so readers get a CONSISTENT CROSS-TABLE snapshot,
      and group time travel pins all tables at once.
    * Crash safety: a writer dying after its table-version commit but
      before the group claim leaves an ORPHAN table version. It is
      invisible (no group references it), and it cannot leak: later
      transactions base on the catalog's pinned version, never on the
      table's raw latest. Orphan VERSIONS (and then their files) are
      reclaimed by `TableGroup.vacuum()` — the per-store vacuum alone
      cannot reclaim them, because an orphan still owns a manifest and
      per-store vacuum keeps every manifest-referenced file.

    At 100 TB the group manifest is O(#tables) and every commit is
    O(files touched) — same cost model as the single-table log.
    """

    def __init__(self, root: str, claim: Callable[[str, str], bool] | None = None):
        self.root = root
        self._claim = claim or link_claim
        os.makedirs(f"{root}/tables", exist_ok=True)
        os.makedirs(f"{root}/_commits", exist_ok=True)
        self._stores: dict[str, SnapshotStore] = {}

    def store(self, name: str) -> SnapshotStore:
        if name not in self._stores:
            self._stores[name] = SnapshotStore(
                f"{self.root}/tables/{name}", claim=self._claim
            )
        return self._stores[name]

    def latest_group(self) -> int:
        best = 0
        for n in os.listdir(f"{self.root}/_commits"):
            if n.startswith("g") and n.endswith(".json"):
                try:
                    best = max(best, int(n[1:-5]))
                except ValueError:
                    pass
        return best

    def group_manifest(self, group: int | None = None) -> dict[str, int]:
        g = self.latest_group() if group is None else group
        if not 0 <= g <= self.latest_group():
            raise ValueError(f"group {g} out of range 0..{self.latest_group()}")
        if g == 0:
            return {}
        with open(f"{self.root}/_commits/g{g:08d}.json") as f:
            return json.load(f)["tables"]

    def read(
        self, spark: SparkSession, name: str, group: int | None = None
    ) -> DataFrame:
        pinned = self.group_manifest(group)
        if name not in pinned:
            raise ValueError(
                f"table {name!r} not in group "
                f"{self.latest_group() if group is None else group}"
            )
        return self.store(name).read(spark, version=pinned[name])

    def history(self) -> list[dict]:
        return [
            {"group": g, "tables": self.group_manifest(g)}
            for g in range(1, self.latest_group() + 1)
        ]

    def diff(
        self, spark: SparkSession, g_from: int, g_to: int | None = None
    ) -> dict[str, DataFrame]:
        """Cross-table change data feed between two GROUP versions: for
        every table whose pinned version moved, the per-store row-level
        diff (insert/delete `_change` rows) AT THE PINNED VERSIONS — so
        the feeds of all tables describe one consistent transaction
        boundary, which per-table diffs against raw `latest` cannot
        guarantee (a reader diffing tables independently can straddle a
        group commit). Tables absent from a side diff against version 0
        (all-insert / all-delete). Returns {table: feed} for changed
        tables only."""
        a = self.group_manifest(g_from)
        b = self.group_manifest(self.latest_group() if g_to is None else g_to)
        out: dict[str, DataFrame] = {}
        for name in sorted(set(a) | set(b)):
            va, vb = a.get(name, 0), b.get(name, 0)
            if va == vb:
                continue
            out[name] = self.store(name).diff(spark, va, vb)
        return out

    def vacuum(self) -> dict[str, list[int]]:
        """Reclaim ORPHAN table versions — versions no group manifest
        pins, left behind by writers that died or lost the group CAS
        after their per-table commit — then the data files only they
        referenced (via each store's file-level vacuum, which now sees
        their manifests gone). Two safety fences: a table no group
        references at all is never touched (it may be mid-first-commit),
        and versions AT or ABOVE the table's highest pinned version are
        kept (an in-flight commit's table version always sits above
        every pin, because losers rebase onto the pinned catalog).
        Returns {table: [reclaimed versions]}."""
        pinned: dict[str, set[int]] = {}
        for g in range(1, self.latest_group() + 1):
            for t, v in self.group_manifest(g).items():
                pinned.setdefault(t, set()).add(v)
        removed: dict[str, list[int]] = {}
        for name in sorted(os.listdir(f"{self.root}/tables")):
            pins = pinned.get(name)
            if not pins:
                continue
            st = self.store(name)
            fence = max(pins)
            drop = [
                v
                for v in range(1, st.latest_version() + 1)
                if v < fence
                and v not in pins
                and os.path.exists(f"{st.root}/_manifests/v{v:08d}.json")
            ]
            for v in drop:
                os.remove(f"{st.root}/_manifests/v{v:08d}.json")
            st.vacuum()
            if drop:
                removed[name] = drop
        return removed

    def commit(self, writes: dict[str, "DataFrame"], op: str = "txn") -> int:
        """Atomically commit `writes` (table -> rows to APPEND) across
        all named tables. Returns the new group version. Tables not in
        `writes` carry their pinned versions forward unchanged."""
        staged = {
            name: self.store(name)._stage(df, None) for name, df in writes.items()
        }
        schemas = {name: df.schema.json() for name, df in writes.items()}
        while True:
            base = self.group_manifest()
            new_versions: dict[str, int] = {}
            for name, files in staged.items():
                st = self.store(name)
                base_files = (
                    st.files(base[name]) if base.get(name) else []
                )
                new_versions[name] = st._commit(
                    lambda bf=base_files, fs=files: bf + fs,
                    None,
                    f"{op}-append",
                    schema_json=schemas[name],
                )
            final = {**base, **new_versions}
            new_g = self.latest_group() + 1
            gpath = f"{self.root}/_commits/g{new_g:08d}.json"
            tmp = f"{self.root}/_commits/.claim-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({"group": new_g, "op": op, "tables": final}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                if self._claim(tmp, gpath):
                    return new_g
                # lost the group CAS: rebase on the winner's catalog and
                # re-commit each table (staged files reused) — the
                # just-created table versions become invisible orphans
                continue
            finally:
                os.unlink(tmp)
