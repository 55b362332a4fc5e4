"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 10 --trace 0

Runs one workload (graph_fixpoint or chain_ingest) from the
root of a checkout, checks every output, and prints as the last line of
stdout one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Progress and a human-readable summary go to
stderr. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("graph_fixpoint", "chain_ingest")

# Per-layer metrics of the traced run: (name, unit, better). A layer the
# workload never calls reads 0.
SPAN_LAYERS = [
    ("registry.build", "registry.build_s"),
    ("registry.materialize", "registry.materialize_s"),
    ("catalog.table", "catalog.table_s"),
    ("iterate.checkpoint", "iterate.checkpoint_s"),
    ("graph.components", "graph.components_s"),
    ("graph.list_rank", "graph.list_rank_s"),
    ("graph.pregel", "graph.pregel_s"),
    ("blockfile.decode", "blockfile.decode_s"),
    ("chain.derive", "chain.derive_s"),
    ("chain.resume", "chain.resume_s"),
    ("chain.fork_probe", "chain.fork_probe_s"),
    ("chain.rollback", "chain.rollback_s"),
]
SELF_SPANS = [
    "op", "registry.build", "registry.materialize", "catalog.table",
    "iterate.checkpoint", "iterate.observe", "graph.components",
    "graph.list_rank", "graph.pregel", "blockfile.decode", "chain.derive",
    "chain.derive.materialize", "stream.ingest", "chain.resume",
    "chain.fork_probe", "chain.rollback", "chain.wallets",
    "chain.wallets.materialize", "spark.job",
]
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.job_s", "s", "lower"),
        ("driver_gap_s", "s", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("catalog.table_calls", "count", "lower"),
        ("catalog.memo_hits", "count", "higher"),
        ("iterate.checkpoint_calls", "count", "lower"),
        ("iterate.observe_calls", "count", "lower"),
        ("memo.builds", "count", "lower"),
        ("memo.hits", "count", "higher"),
        ("blockfile.rows", "count", "higher"),
        ("chain.blocks_per_s", "blocks/s", "higher"),
        ("stream.batches", "count", "higher"),
        ("stream.batch_s", "s", "lower"),
        ("stream.batch_p50_s", "s", "lower"),
        ("stream.batch_tail_s", "s", "lower"),
        ("stream.reorg_batch_s", "s", "lower"),
        ("stream.add_batch_s", "s", "lower"),
        ("stream.planning_s", "s", "lower"),
        ("stream.input_rows", "count", "higher"),
        ("wall.pass_s", "s", "lower"),
        ("wall.op_p50_s", "s", "lower"),
        ("wall.op_tail_s", "s", "lower"),
        ("checks.failed_ratio", "ratio", "lower"),
        ("op.cpu_p50_s", "s", "lower"),
        ("op.cpu_tail_s", "s", "lower"),
        ("op.samples", "count", "higher"),
        ("op.tail_pct", "pct", "higher"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.overhead_est_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
    ]
    + [(metric, "s", "lower") for _span, metric in SPAN_LAYERS]
    + [(f"self.{s}_s", "s", "lower") for s in SELF_SPANS]
)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_cpu_s", "s", "lower"),
    ("retained_heap_mb", "MB", "lower"),
]


class Context:
    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.run_dir = run_dir
        self.spark = None
        self.tracer = None
        self.jobs = None
        self.progress = None


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def isolate(run_dir: str) -> None:
    """Point every scratch location at a fresh per-run directory inside
    the checkout, and let Python workers import the engine from any
    working directory."""
    for sub in ("tmp", "spark-local", "py-tmp", "jvm-tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_TMP_ROOT"] = os.path.join(run_dir, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = os.path.join(run_dir, "py-tmp")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm-tmp')} -XX:-UsePerfData"
    )
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = "2g"
    # no console progress bars on stderr
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = env["TMPDIR"]


def retained_heap_mb(spark, max_rounds: int = 12) -> float:
    """The driver JVM's heap in use after full collections, i.e. what the
    session still holds once the measured work is done. In local mode
    every cached, checkpointed and shuffle-side block lives in that heap.
    Spark's ContextCleaner drops the blocks of RDDs a collection found
    dead on its own thread, so collect again, pausing between, until
    three readings in a row agree within 0.5 MB."""
    import gc

    gc.collect()  # release the driver's py4j handles first
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[float] = []
    while len(used) < max_rounds and (len(used) < 3 or max(used[-3:]) - min(used[-3:]) > 0.5):
        time.sleep(0.2)
        jvm.java.lang.System.gc()
        used.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
    log("heap after each full collection (MB): " + " ".join(f"{u:.1f}" for u in used))
    return min(used)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and the Python workers
    it started have exited."""
    from pyspark import SparkContext

    from perfbench.workloads import process_tree

    children = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if running(p)}
        time.sleep(0.05)
    for pid in children:  # still there after 30 s
        os.kill(pid, signal.SIGKILL)


def running(pid: int) -> bool:
    """True while `pid` exists and has not exited (zombies have)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(workload, ctx, seconds: float, traced: bool):
    """Run passes: with tracing off, whole passes until at least
    `seconds` of pass time has been measured. With tracing on, the
    traced first pass after warm-up, the pass untraced runs time first,
    gives the layer numbers; then an untraced and a traced pass, both
    warm, give the tracing overhead. Returns [first, untraced, traced]."""
    if not traced:
        passes, used = [], 0.0
        while used < seconds:
            p = workload.run_pass()
            passes.append(p)
            used += p.wall
            log(f"pass {len(passes)}: {p.wall:.3f}s")
        return passes
    tr = ctx.tracer

    def traced_pass():
        tr.enabled = True
        ctx.jobs.mark()
        p = workload.run_pass()
        tr.enabled = False
        return p

    first = traced_pass()
    spans, counts = list(tr.spans), dict(tr.counts)
    plain = workload.run_pass()
    again = traced_pass()
    tr.spans, tr.counts = spans, counts  # keep the first pass's layer numbers only
    log(f"traced first pass: {first.wall:.3f}s; warm passes: untraced {plain.wall:.3f}s, traced {again.wall:.3f}s")
    return [first, plain, again]


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of recording one span around a no-op call."""
    from perfbench.trace import Tracer

    tr = Tracer()
    tr.enabled = True
    f = tr.wrap(lambda: None, "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    return (time.perf_counter() - t0) / n


def op_stats(passes) -> dict:
    """Per-operation view of the passes, in wall and in CPU seconds,
    with the tail's percentile and sample count."""
    from perfbench import stats

    lat = [x for p in passes for x in p.latencies]
    cpu = [x for p in passes for x in p.cpu_latencies]
    tail, pct, beyond = stats.tail(lat)
    return {
        "pass_s": stats.median([p.wall for p in passes]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "op_cpu_p50_s": stats.median(cpu),
        "op_cpu_tail_s": stats.tail(cpu)[0],
        "op_tail_pct": pct,
        "op_tail_beyond": beyond,
        "op_samples": len(lat),
        "passes": len(passes),
    }


def end_to_end(setup_s: float, passes, heap_mb: float) -> dict:
    from perfbench import stats

    return {
        "setup_s": setup_s,
        "pass_cpu_s": stats.median([p.cpu for p in passes]),
        "retained_heap_mb": heap_mb,
    }


def per_layer(ctx, traced_pass, plain_warm, traced_warm, setup: dict, failed_ratio: float) -> dict:
    from perfbench import stats

    tr = ctx.tracer
    spans = tr.spans
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    m: dict[str, float] = {k: 0.0 for k, _u, _b in PER_LAYER}
    m["session.start_s"] = setup["session_start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    for span_name, metric in SPAN_LAYERS:
        m[metric] = stats.union_length([(s.start, s.end) for s in spans if s.name == span_name])
    for name in SELF_SPANS:
        m[f"self.{name}_s"] = sum(
            stats.self_time(s.start, s.end, kids.get(s.id, [])) for s in spans if s.name == name
        )
    m["catalog.table_calls"] = sum(1 for s in spans if s.name == "catalog.table")
    m["iterate.checkpoint_calls"] = sum(1 for s in spans if s.name == "iterate.checkpoint")
    m["iterate.observe_calls"] = sum(1 for s in spans if s.name == "iterate.observe")
    m["catalog.memo_hits"] = tr.counts.get("catalog.hits", 0)
    m["memo.builds"] = tr.counts.get("memo.builds", 0)
    m["memo.hits"] = tr.counts.get("memo.hits", 0)
    jobs = [s for s in spans if s.name == "spark.job"]
    m["spark.jobs"] = len(jobs)
    for attr, metric in [
        ("stages", "spark.stages"), ("tasks", "spark.tasks"),
        ("run_s", "spark.executor_run_s"), ("cpu_s", "spark.executor_cpu_s"),
        ("shuffle_read_mb", "spark.shuffle_read_mb"),
        ("shuffle_write_mb", "spark.shuffle_write_mb"),
        ("spill_mb", "spark.spill_mb"), ("gc_s", "spark.gc_s"),
    ]:
        m[metric] = sum(j.attrs[attr] for j in jobs)
    job_s = gap_s = 0.0
    for op in (s for s in spans if s.name == "op"):
        covered = stats.union_length(
            stats.clip([(j.start, j.end) for j in jobs if j.op == op.op], op.start, op.end)
        )
        job_s += covered
        gap_s += (op.end - op.start) - covered
    m["spark.job_s"] = job_s
    m["driver_gap_s"] = gap_s
    ex = traced_pass.extra
    if "batches" in ex:
        b, walls = ex["batches"], ex["batch_walls"]
        m["blockfile.rows"] = ex["decoded_rows"]
        m["chain.blocks_per_s"] = ex["blocks_per_s"]
        m["stream.batches"] = len(b)
        m["stream.batch_s"] = sum(x["trigger_s"] for x in b)
        m["stream.batch_p50_s"] = stats.median(walls)
        m["stream.batch_tail_s"] = stats.tail(walls)[0]
        m["stream.reorg_batch_s"] = ex["reorg_s"]
        m["stream.add_batch_s"] = sum(x["add_batch_s"] for x in b)
        m["stream.planning_s"] = sum(x["planning_s"] for x in b)
        m["stream.input_rows"] = sum(x["rows"] for x in b)
    ops = op_stats([traced_pass])
    m["wall.pass_s"] = ops["pass_s"]
    m["wall.op_p50_s"] = ops["op_p50_s"]
    m["wall.op_tail_s"] = ops["op_tail_s"]
    m["op.cpu_p50_s"] = ops["op_cpu_p50_s"]
    m["op.cpu_tail_s"] = ops["op_cpu_tail_s"]
    m["op.samples"] = ops["op_samples"]
    m["op.tail_pct"] = ops["op_tail_pct"]
    m["checks.failed_ratio"] = failed_ratio
    # Measured: traced minus untraced warm pass wall time, which carries
    # the wall-time noise of two passes. Estimated: every span but the
    # Spark jobs (attached afterwards) was recorded inside the timed
    # operations.
    m["trace.overhead_s"] = traced_warm.wall - plain_warm.wall
    m["trace.overhead_est_s"] = sum(1 for s in spans if s.name != "spark.job") * span_cost_s()
    return m


def write_spans(ctx, path: str) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        for s in ctx.tracer.spans:
            f.write(json.dumps({
                "id": s.id, "op": s.op, "name": s.name, "start": s.start,
                "end": s.end, "parent": s.parent, **s.attrs,
            }) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--spans",
        help="where a traced run writes its spans as JSON lines "
        "(default .perfbench-runs/spans/<workload>-<seed>.jsonl)",
    )
    args = ap.parse_args(argv)

    engine = os.path.join(ROOT, "blockchain2graphdb_spark", "registry.py")
    oracle = os.path.join(ROOT, "tools", "verify_local.py")
    if not (os.path.isfile(engine) and os.path.isfile(oracle)):
        log(f"engine sources not found under {ROOT}; run from the root of a checkout")
        return 2

    run_dir = os.path.join(ROOT, ".perfbench-runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from perfbench import trace, workloads

        ctx = Context(args, run_dir)
        ctx.tracer = trace.Tracer()
        install_s = 0.0
        if args.trace:
            t = time.perf_counter()
            trace.install(ctx.tracer)
            install_s = time.perf_counter() - t
        from blockchain2graphdb_spark.session import get_spark

        spark = ctx.spark = get_spark(f"perfbench-{args.workload}")
        if args.trace:
            ctx.jobs = trace.SparkJobs(spark)
        if args.workload == "chain_ingest":
            wl = workloads.ChainIngest(ctx)
            ctx.progress = trace.BatchProgress()
            spark.streams.addListener(ctx.progress)
        else:
            wl = workloads.GraphFixpoint(ctx)
        # Installing the tracer imports engine modules that an untraced
        # run imports while making its inputs; that time is left out.
        session_start_s = time.perf_counter() - T_PROCESS - install_s

        t = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = session_start_s + inputs_s + warmup_s
        log(f"setup {setup_s:.3f}s (session {session_start_s:.3f}s, inputs {inputs_s:.3f}s, warm-up {warmup_s:.3f}s)")

        passes = measure(wl, ctx, args.seconds, bool(args.trace))
        # the peak of the measured work, before the untimed oracle check
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        heap_mb = retained_heap_mb(spark)
        if hasattr(wl, "live_oracle_check"):
            wl.live_oracle_check()

        e2e = end_to_end(setup_s, passes, heap_mb)
        failed_ratio = wl.failed / wl.attempted
        log(f"end-to-end {json.dumps(e2e)}")
        log(f"operations {json.dumps(op_stats(passes))}")
        log(f"failed_ratio {failed_ratio} ({wl.failed}/{wl.attempted})")
        if args.trace:
            metrics = per_layer(ctx, *passes,
                                {"session_start_s": session_start_s, "warmup_s": warmup_s},
                                failed_ratio)
            metrics["peak_rss_mb"] = peak_mb
            units = {n: u for n, u, _b in PER_LAYER}
            write_spans(ctx, args.spans or os.path.join(
                ROOT, ".perfbench-runs", "spans", f"{args.workload}-{args.seed}.jsonl"
            ))
        else:
            metrics = e2e
            units = {n: u for n, u, _b in END_TO_END}
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
