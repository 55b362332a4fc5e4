"""The workloads. Each runs in one process with one client and a closed
loop: the next operation starts when the previous one returns.

`graph_fixpoint` runs iterative registry keys; the seed shuffles their
order within each pass. `chain_ingest` runs the block-file -> tables ->
stream-fold pipeline on a chain the seed generates.
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))

GRAPH_KEYS = [
    "topo_order", "wallet_components", "bfs_distance", "label_propagation",
    "eigenvector_centrality", "influence_cascade", "triangle_count",
    "ktruss_edges", "betweenness_approx", "edge_betweenness_approx",
    "landmark_distances",
]
# A copy of the deterministic seed-42 sf0.001 TPC-H-like fixture tables
# (see README.md). The graph keys derive their graphs from them.
GRAPH_DATA = os.path.join(HERE, "data", "sf0.001")
# The first Spark work of a process pays most of the JVM's start-up
# (class loading, JIT, the first shuffle and checkpoint) whichever key it
# is; the cheapest key absorbs it during set-up.
GRAPH_WARMUP_KEY = "wallet_components"

CHAIN_BLOCKS = 200
CHAIN_BATCH_BLOCKS = 50  # blocks per decoded-block file, one file per micro-batch
CHAIN_REORG_K = 3  # depth of the fork delivered as the last micro-batch
WARMUP_BLOCKS = 20  # the warm-up chain: same plans, a tenth of the blocks


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> dict[int, int]:
    """{pid: CPU clock ticks (user + system, including reaped children)}
    of process `root` and all its live descendants."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in ticks:
            tree[pid] = ticks[pid]
        todo.extend(c for c, p in parent.items() if p == pid)
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process `root` and its descendants: the
    driver Python process, the JVM it launched and the JVM's Python
    workers."""
    return sum(process_tree(root).values()) / _CLK_TCK


@dataclass
class Op:
    name: str
    wall: float
    ok: bool
    cpu: float = 0.0


@dataclass
class Pass:
    ops: list[Op]
    # per operation (per micro-batch on chain_ingest): wall and CPU seconds
    latencies: list[float]
    cpu_latencies: list[float]
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        """Sum of operation wall times; bookkeeping between ops excluded."""
        return sum(o.wall for o in self.ops)

    @property
    def cpu(self) -> float:
        return sum(o.cpu for o in self.ops)


def digest(df):
    """Row count and an order-insensitive content hash, computed by
    `observe` during the materializing action itself (no extra job).
    Columns are hashed in name order, cast to string."""
    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(f"`{c}`").cast("string") for c in cols])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.shiftright(h, 24)), F.lit(0)).alias("hash"),
    ]


def materialize(tracer, df, span: str = "registry.materialize") -> dict:
    """Run `df` in full through the noop sink (every column is computed,
    unlike count()) and return its observed digest."""
    obs = Observation()
    observed = df.observe(obs, *digest(df))
    with tracer.span(span):
        observed.write.format("noop").mode("overwrite").save()
    return obs.get


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class GraphFixpoint:
    """graph_fixpoint: one pass runs every key once, in a seed-shuffled
    order, each built and then materialized in full. The shared memos
    are cleared at the start of each pass, so every pass pays the shared
    builds a fresh session pays."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.keys = GRAPH_KEYS
        self.sf_dir = GRAPH_DATA
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)
        self.rng = random.Random(ctx.seed)
        self.attempted = 0
        self.failed = 0

    def make_inputs(self) -> None:
        from blockchain2graphdb_spark import registry

        self.specs = registry.load_all()
        missing = [k for k in self.keys if k not in self.specs]
        if missing:
            raise KeyError(f"registry lacks {missing}")
        # Every key must have a verified expected digest before timing.
        absent = [k for k in self.keys if k not in self.expected]
        if absent:
            raise KeyError(f"expected.json lacks {absent}")

    def warm_up(self) -> None:
        """Untimed, checked run of GRAPH_WARMUP_KEY."""
        self._op(GRAPH_WARMUP_KEY)

    def _clear_memos(self) -> None:
        from blockchain2graphdb_spark.operators import centrality, graphops

        graphops._PAIRS_MEMO.clear()
        centrality._SEED_BFS_MEMO.clear()

    def run_pass(self) -> Pass:
        order = list(self.keys)
        self.rng.shuffle(order)
        self._clear_memos()
        ops = [self._op(key) for key in order]
        good = [o for o in ops if o.ok]
        log(" ".join(f"{o.name}={o.wall:.2f}/{o.cpu:.2f}" for o in ops))
        return Pass(ops, [o.wall for o in good], [o.cpu for o in good])

    def _op(self, key: str) -> Op:
        tr = self.ctx.tracer
        op_id = tr.new_op()
        self.attempted += 1
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            got = self._build_and_materialize(key)
        except Exception:  # noqa: BLE001 - a failing key is counted, never dropped
            got = None
            log(f"{key}: raised\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        ok = got is not None and self._check(key, got)
        if not ok:
            self.failed += 1
        gc.collect()  # the key's DataFrames died with the call above
        if tr.enabled:
            tr.add_jobs(op_id, self.ctx.jobs.new_jobs())
        return Op(key, wall, ok, cpu)

    def _build_and_materialize(self, key: str) -> dict:
        tr = self.ctx.tracer
        with tr.span("op", key=key):
            with tr.span("registry.build"):
                df = self.specs[key].builder(self.ctx.spark, self.sf_dir)
            return materialize(tr, df)

    def _check(self, key: str, got: dict) -> bool:
        exp = self.expected[key]
        same = got["rows"] == exp["rows"] and (not exp["oracle"] or got["hash"] == exp["hash"])
        if not same:
            log(f"{key}: output mismatch: got {got}, expected {exp}")
        return same

    def live_oracle_check(self) -> None:
        """Untimed: read one oracle-backed key (chosen by the seed) back
        to the driver and compare it exactly with its DuckDB oracle,
        the way tools/verify_local.py does."""
        from tools.verify_local import compare, duck_con

        oracle_keys = [k for k in self.keys if self.expected[k]["oracle"]]
        key = oracle_keys[self.ctx.seed % len(oracle_keys)]
        self.attempted += 1
        try:
            sdf = self.specs[key].builder(self.ctx.spark, self.sf_dir).toPandas()
            con = duck_con(self.sf_dir)
            odf = con.sql(self.specs[key].oracle).df()
            problems = compare(key, sdf, odf)
        except Exception:  # noqa: BLE001
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            log(f"{key}: oracle mismatch: {problems}")
        else:
            log(f"{key}: matches its DuckDB oracle ({len(sdf)} rows)")


# ---------------------------------------------------------------------------
# chain_ingest


def _decoded_rows(chain) -> list[dict]:
    """Nested decoded-block rows (sources.blockfile.DECODED_SCHEMA) for
    every block of a fixture chain, in height order."""
    outs: dict[str, list] = {}
    for tx_hash, idx, _oid, value, addr in chain.outputs:
        outs.setdefault(tx_hash, []).append({"output_index": idx, "value": value, "address": addr})
    ins: dict[str, list] = {}
    for spender, oid in chain.inputs:
        ins.setdefault(spender, []).append(oid)
    txs: dict[str, list] = {}
    for tx_hash, block_hash, tx_index, _date, is_cb in chain.transactions:
        txs.setdefault(block_hash, []).append({
            "tx_hash": tx_hash, "tx_index": tx_index, "is_coinbase": is_cb,
            "spent_output_ids": ins.get(tx_hash, []),
            "outputs": sorted(outs.get(tx_hash, []), key=lambda o: o["output_index"]),
        })
    return [
        {
            "hash": b, "prev_hash": prev, "height": h, "block_date": date,
            "coinbase_balance": infl,
            "txs": sorted(txs.get(b, []), key=lambda t: t["tx_index"]),
        }
        for b, prev, h, date, infl in sorted(chain.blocks, key=lambda r: r[2])
    ]


def _write_decoded(rows: list[dict], path: str, mtime: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from blockchain2graphdb_spark.sources.blockfile import DECODED_SCHEMA

    pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(DECODED_SCHEMA)), path)
    # the file source picks files up oldest first
    os.utime(path, (mtime, mtime))


@dataclass
class ChainInputs:
    dir: str
    stream_dir: str
    n_files: int
    chain: object  # chain.fixtures.Chain
    variant: object  # the same chain with its last blocks forked


def make_chain_inputs(root: str, n: int, seed: int, per_file: int) -> ChainInputs:
    """blk files of `generate(n, seed)` for bulk decode, and decoded-block
    parquet files of `per_file` blocks each for the stream, the last of
    which carries the `reorg_variant` fork."""
    from blockchain2graphdb_spark.chain import fixtures
    from blockchain2graphdb_spark.sources.blockfile import write_blk_files

    shutil.rmtree(root, ignore_errors=True)
    chain = fixtures.generate(n, seed)
    variant = fixtures.reorg_variant(n, seed, CHAIN_REORG_K)
    write_blk_files(chain, os.path.join(root, "blk"), per_file)
    stream_dir = os.path.join(root, "stream")
    os.makedirs(stream_dir)
    rows = _decoded_rows(chain)
    files = [rows[i:i + per_file] for i in range(0, n, per_file)]
    files.append(_decoded_rows(variant)[n - CHAIN_REORG_K:])
    base = 1_600_000_000
    for i, part in enumerate(files):
        _write_decoded(part, os.path.join(stream_dir, f"batch-{i:03d}.parquet"), base + i)
    return ChainInputs(root, stream_dir, len(files), chain, variant)


class ChainIngest:
    """chain_ingest: decode blk files, derive the statistics tables,
    fold decoded-block files into state as a stream (the last file
    forks the chain), then cluster wallets on the final state."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        # Micro-batch clock: ingest_stream's foreachBatch body starts with
        # normalize(batch_df), so each call marks the start of a batch.
        from blockchain2graphdb_spark.streaming import ingest

        self._batch_starts: list[tuple[float, float]] = []  # (wall, CPU)
        normalize = ingest.normalize

        def clocked(batch_df):
            self._batch_starts.append((time.perf_counter(), tree_cpu_s(os.getpid())))
            return normalize(batch_df)

        ingest.normalize = clocked

    def make_inputs(self) -> None:
        self.inputs = make_chain_inputs(
            os.path.join(self.ctx.run_dir, "chain"), CHAIN_BLOCKS, self.ctx.seed, CHAIN_BATCH_BLOCKS
        )

    def warm_up(self) -> None:
        """Untimed, checked run of the whole pipeline on a small chain:
        starts Python workers, compiles the same plans and warms the
        JIT."""
        warm = make_chain_inputs(
            os.path.join(self.ctx.run_dir, "warm"), WARMUP_BLOCKS, self.ctx.seed,
            WARMUP_BLOCKS // 2,
        )
        self._pipeline(warm)

    def run_pass(self) -> Pass:
        return self._pipeline(self.inputs)

    def _step(self, name: str, fn, steps: dict) -> object:
        tr = self.ctx.tracer
        op_id = tr.new_op()
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            with tr.span("op", key=name), tr.span(name):
                out = fn()
        except Exception:  # noqa: BLE001 - the failed step is counted
            log(f"{name}: raised\n{traceback.format_exc()}")
            out = None
        steps[name] = Op(name, time.perf_counter() - t0, True, tree_cpu_s(os.getpid()) - c0)
        if tr.enabled:
            tr.add_jobs(op_id, self.ctx.jobs.new_jobs())
        return out

    def _pipeline(self, inp: ChainInputs) -> Pass:
        from blockchain2graphdb_spark.chain.derive import derive_all
        from blockchain2graphdb_spark.chain.wallets import wallet_ids
        from blockchain2graphdb_spark.sources.blockfile import normalize, read_blocks
        from blockchain2graphdb_spark.streaming.ingest import ingest_stream

        spark, tr = self.ctx.spark, self.ctx.tracer
        steps: dict[str, Op] = {}
        digests: dict[str, dict] = {}

        def decode():
            obs = Observation()
            raw = read_blocks(spark, os.path.join(inp.dir, "blk", "blk*.dat"))
            decoded = raw.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
            digests["decoded"] = obs.get
            return normalize(decoded)

        def derive():
            for name, df in derive_all(tables).items():
                digests[name] = materialize(tr, df, "chain.derive.materialize")
            return True

        def ingest():
            self._batch_starts.clear()
            out = ingest_stream(spark, inp.stream_dir, max_files_per_trigger=1)
            self._batch_starts.append((time.perf_counter(), tree_cpu_s(os.getpid())))
            return out

        tables = self._step("blockfile.decode", decode, steps)
        self._step("chain.derive", derive, steps)
        final = self._step("stream.ingest", ingest, steps)
        marks = self._batch_starts  # batch starts, then the stream's end
        batch_walls = [e[0] - s[0] for s, e in zip(marks, marks[1:])]
        batch_cpus = [e[1] - s[1] for s, e in zip(marks, marks[1:])]
        batches = self.ctx.progress.take(inp.n_files)
        wallets = self._step(
            "chain.wallets",
            lambda: materialize(tr, wallet_ids(final["inputs"], final["outputs"]), "chain.wallets.materialize"),
            steps,
        )
        digests["wallets"] = wallets
        ops = list(steps.values())
        self._check(inp, ops, tables, final, digests, batches, batch_walls)
        log(
            " ".join(f"{o.name}={o.wall:.2f}/{o.cpu:.2f}" for o in ops) + " batches="
            + " ".join(f"{w:.2f}/{c:.2f}" for w, c in zip(batch_walls, batch_cpus))
        )
        gc.collect()
        blocks = digests.get("decoded", {}).get("rows", 0)
        extra = {
            "blocks_per_s": blocks / (steps["blockfile.decode"].wall + steps["chain.derive"].wall),
            "decoded_rows": blocks,
            "reorg_s": batch_walls[-1] if batch_walls else 0.0,
            "batches": batches,
            "batch_walls": batch_walls,
        }
        return Pass(ops, batch_walls, batch_cpus, extra)

    def _check(self, inp, ops, tables, final, digests, batches, batch_walls) -> None:
        """Untimed output checks against the generator's own rows."""
        problems: dict[str, str] = {}
        c = inp.chain
        try:
            n_blocks = digests["decoded"]["rows"]
            sums = {
                "blocks": (n_blocks, len(c.blocks)),
                "transactions": (tables["transactions"].count(), len(c.transactions)),
                "outputs": (tables["outputs"].count(), len(c.outputs)),
                "inputs": (tables["inputs"].count(), len(c.inputs)),
                "value": (
                    tables["outputs"].agg(F.sum("value")).collect()[0][0],
                    sum(o[3] for o in c.outputs),
                ),
                "coinbase": (
                    tables["blocks"].agg(F.sum("coinbase_balance")).collect()[0][0],
                    sum(b[4] for b in c.blocks),
                ),
            }
            bad = {k: v for k, v in sums.items() if v[0] != v[1]}
            if bad:
                problems["blockfile.decode"] = f"decoded (got, expected): {bad}"
        except Exception:  # noqa: BLE001
            problems["blockfile.decode"] = traceback.format_exc()
        try:
            addrs = {o[4] for o in c.outputs}
            want = {
                "block_stats": len(c.blocks), "transaction_stats": len(c.transactions),
                "output_state": len(c.outputs), "address_stats": len(addrs),
            }
            got = {k: digests[k]["rows"] for k in want}
            if got != want:
                problems["chain.derive"] = f"derived rows {got}, expected {want}"
        except Exception:  # noqa: BLE001
            problems["chain.derive"] = traceback.format_exc()
        try:
            if not len(batches) == len(batch_walls) == inp.n_files:
                problems["stream.ingest"] = (
                    f"{len(batch_walls)} micro-batches ({len(batches)} progress reports), "
                    f"expected {inp.n_files}"
                )
            else:
                cold = inp.variant.to_spark(self.ctx.spark)
                for name, exp_df in cold.items():
                    got = sorted(map(tuple, final[name].collect()))
                    exp = sorted(map(tuple, exp_df.collect()))
                    if got != exp:
                        problems["stream.ingest"] = f"{name} differs from a cold ingest of the fork"
                        break
        except Exception:  # noqa: BLE001
            problems["stream.ingest"] = traceback.format_exc()
        try:
            n_addr = len({o[4] for o in inp.variant.outputs})
            if digests["wallets"]["rows"] != n_addr:
                problems["chain.wallets"] = f"{digests['wallets']['rows']} wallet rows, expected {n_addr}"
        except Exception:  # noqa: BLE001
            problems["chain.wallets"] = traceback.format_exc()
        for op in ops:
            self.attempted += 1
            if op.name in problems:
                op.ok = False
                self.failed += 1
                log(f"{op.name}: {problems[op.name]}")
