"""Lake benchmark driver: one workload per invocation, one client, on
``local[nproc]``.

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up several times (fresh
session, inputs generated from ``--seed``, fixture tables) and reports
the median set-up time, runs warm-up passes that are not counted, then
runs complete passes of the workload until ``--seconds`` have elapsed,
checks every result outside the timed region, and prints one JSON line
last. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
alternates traced and untraced passes and prints the per-layer metrics,
with the tracing overhead measured as the difference between the two.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import sys
import time

PKG = "deg04_local_data_lake_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "batch_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

# Every per-layer metric, printed by every traced run (0 where the
# workload does not reach the layer). README.md maps each to the
# end-to-end metric it should move.
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "medallion.bronze_s": "s",
    "medallion.silver_s": "s",
    "medallion.gold_s": "s",
    "writers.files_written": "count",
    "writers.bytes_per_file": "B",
    "writers.bytes_written": "B",
    "readers.load_table_ms": "ms",
    "readers.files_listed": "count",
    "delta_log.commit_p50_ms": "ms",
    "delta_log.commit_p90_ms": "ms",
    "delta_log.read_p50_ms": "ms",
    "delta_log.read_p90_ms": "ms",
    "delta_log.append_ms": "ms",
    "delta_log.merge_ms": "ms",
    "delta_log.dv_ms": "ms",
    "delta_log.checkpoint_ms": "ms",
    "delta_log.merge_bytes_rewritten_per_changed_byte": "ratio",
    "delta_log.snapshot_plan_ms": "ms",
    "delta_log.commits_since_checkpoint": "count",
    "delta_log.live_files": "count",
    "delta_log.files_scanned_ratio": "ratio",
    "delta_log.partition_read_ms": "ms",
    "delta_log.skipping_read_ms": "ms",
    "delta_log.time_travel_ms": "ms",
    "delta_log.optimize_s": "s",
    "delta_log.vacuum_ms": "ms",
    "delta_log.log_bytes": "B",
    "aggregates.q1_ms": "ms",
    "analytics.q5_ms": "ms",
    "windows.topk_ms": "ms",
    "analytics.q3_ms": "ms",
    "text.gopher_ms": "ms",
    "text.gopher_keep_ratio": "ratio",
    "dedup.minhash_pairs_ms": "ms",
    "dedup.candidate_pairs_per_doc": "ratio",
    "caching.released": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.core_util": "ratio",
    "self.op_s": "s",
    "self.medallion_s": "s",
    "self.writers_s": "s",
    "self.readers_s": "s",
    "self.delta_log_s": "s",
    "self.operators_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}

# Layers whose public functions the traced passes wrap: name → module,
# functions. Query builders are lazy, so their spans are plan-building
# time; execution shows as the op span's own (self) time.
TRACE_TARGETS = {
    "medallion": ("deg04_local_data_lake_spark.pipelines.medallion", ["run_medallion"]),
    "writers": ("deg04_local_data_lake_spark.sources.writers", ["write_lake_table"]),
    "readers": ("deg04_local_data_lake_spark.sources.readers", ["load_table"]),
    "delta_log": ("deg04_local_data_lake_spark.sources.delta_log", [
        "read_delta_log", "write_delta_commit", "write_delta_checkpoint",
        "merge_delta", "delete_delta", "update_delta", "optimize_delta",
        "vacuum_delta", "cleanup_delta_log", "last_txn_version",
    ]),
    "aggregates": ("deg04_local_data_lake_spark.operators.aggregates", [
        "q1_pricing_summary", "ohlcv_quotes", "asset_performance",
        "market_trend", "monthly_summary",
    ]),
    "analytics": ("deg04_local_data_lake_spark.operators.analytics",
                  ["q3_shipping_priority", "q5_nation_revenue"]),
    "windows": ("deg04_local_data_lake_spark.operators.windows", ["window_topk_orders"]),
    "text": ("deg04_local_data_lake_spark.operators.text", ["gopher_metrics"]),
    "dedup": ("deg04_local_data_lake_spark.operators.dedup",
              ["shingle_rows", "minhash_signatures", "minhash_candidate_pairs"]),
    "caching": ("deg04_local_data_lake_spark.caching", ["release_caches", "release_all"]),
}
OPERATOR_LAYERS = ("aggregates", "analytics", "windows", "text", "dedup")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    """What a workload sees: the session, its inputs, and ``op`` — the
    one way it issues a timed operation."""

    def __init__(self, args, work: str):
        import numpy as np

        self.seed = args.seed
        self.sf = args.sf
        self.n_docs = max(100, min(500, int(50_000 * args.sf)))
        self.work = work
        self.rng = np.random.default_rng([args.seed, 7])
        self.spark = None
        self.data_dir = ""
        self.rep_dir = ""
        self.tracer = None
        self.meter = None
        self.traced = False
        self.ops: list = []
        self.released = 0
        self.excluded_s = 0.0
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{tag}-{self._dirs}")
        os.makedirs(path)
        return path

    def op(self, kind: str, fn, *args, **kwargs):
        from harness import timed

        if self.traced:
            self.tracer.begin_op(kind)
        op = timed(kind, fn, *args, **kwargs)
        if self.traced:
            self.tracer.end_op()
            op.spark = self.meter.delta()
        self.ops.append(op)
        return op

    @contextlib.contextmanager
    def bookkeeping(self):
        """The benchmark's own measuring inside a pass (file and byte
        counts for per-layer metrics), kept out of every timed op: its
        time is taken out of the pass time, and Spark work it causes out
        of the next op's stage metrics."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.traced:
                self.meter.delta()
            self.excluded_s += time.perf_counter() - t0

    def release(self) -> None:
        """Release query-scoped caches between ops, as every harness of
        the engine does (``caching.release_caches``)."""
        from deg04_local_data_lake_spark import caching

        n = caching.release_caches()
        if self.traced:
            self.released += n


def forget_engine() -> None:
    """Drop the engine's modules so the next import loads them afresh."""
    for name in list(sys.modules):
        if name == PKG or name.startswith(PKG + "."):
            del sys.modules[name]


def start_session():
    from deg04_local_data_lake_spark.session import get_spark_session

    tmp = os.environ["TMPDIR"]
    # The heap is committed and touched up front (-Xms = the driver memory
    # -Xmx, pre-touched): left to grow on demand, its resident size
    # follows GC timing and peak_rss_mb varied by a quarter between runs.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             f"-Xms{heap} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(ctx, wl) -> tuple[list[float], dict]:
    """Set up ``SETUP_REPS`` times. The first also launches the JVM; the
    later ones restart the session in it and re-import the engine, so each
    pays for session start, registry load, inputs and fixtures. Returns
    the set-up times and the cold session start / registry load times."""
    import harness

    setups, starts, loads = [], [], []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
            forget_engine()
        ctx.spark = start_session()
        t1 = time.perf_counter()
        importlib.import_module(f"{PKG}.registry").load_all()
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        loads.append(t2 - t1)
        old = ctx.rep_dir
        ctx.rep_dir = ctx.fresh_dir(f"setup{rep}")
        ctx.data_dir = os.path.join(ctx.rep_dir, "data")
        wl.setup(ctx)
        setups.append(time.perf_counter() - t0)
        if old:
            shutil.rmtree(old, ignore_errors=True)
    return setups, {"session_start_s": starts[0], "registry_load_s": harness.median(loads)}


def measure(ctx, wl, seconds: float, trace: bool):
    """Run complete passes until ``seconds`` have passed (at least the
    workload's ``min_passes`` untraced, and as many traced when tracing),
    then the workload's end-of-run ops. Returns (passes, end-of-run pass)."""
    import harness

    def run(fn, traced: bool) -> harness.Pass:
        ctx.traced, ctx.ops, ctx.excluded_s = traced, [], 0.0
        t0 = time.perf_counter()
        if traced:
            with ctx.tracer:
                fn(ctx)
        else:
            fn(ctx)
        return harness.Pass(time.perf_counter() - t0 - ctx.excluded_s, ctx.ops, traced)

    if trace:
        ctx.tracer = harness.Tracer(TRACE_TARGETS)
        wl.install_hooks(ctx)
        ctx.meter = harness.StageMeter(ctx.spark)
    passes: list[harness.Pass] = []
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < seconds
           or sum(not p.traced for p in passes) < wl.min_passes
           or (trace and sum(p.traced for p in passes) < wl.min_passes)):
        passes.append(run(wl.run_pass, trace and len(passes) % 2 == 1))
    finish = run(wl.finish, trace)
    ctx.traced = False
    return passes, finish


def layer_metrics(ctx, wl, passes, finish, setup_info) -> dict:
    import harness

    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    ops = [o for p in traced for o in p.ops if o.spark]
    wall = sum(o.seconds for o in ops) or 1.0
    n = len(ops) or 1
    tot = {k: sum(o.spark.get(k, 0) for o in ops) for k in
           ("jobs", "stages", "numTasks", "executorRunTime", "jvmGcTime",
            "shuffleWriteBytes", "inputBytes", "outputBytes")}
    self_t = ctx.tracer.self_times()
    n_traced = len(traced) or 1
    mt = harness.median([p.seconds for p in traced])
    mu = harness.median([p.seconds for p in plain])
    metrics = {k: 0.0 for k in LAYER_UNITS}
    metrics.update({
        "session.start_s": setup_info["session_start_s"],
        "registry.load_s": setup_info["registry_load_s"],
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["numTasks"] / n,
        "spark.executor_run_s": tot["executorRunTime"] / 1000.0 / n,
        "spark.gc_s": tot["jvmGcTime"] / 1000.0 / n,
        "spark.shuffle_write_bytes": tot["shuffleWriteBytes"] / n,
        "spark.input_bytes": tot["inputBytes"] / n,
        "spark.output_bytes": tot["outputBytes"] / n,
        "spark.core_util": tot["executorRunTime"] / 1000.0 / (wall * nproc()),
        "self.op_s": self_t.get("op", 0.0) / n_traced,
        "self.medallion_s": self_t.get("medallion", 0.0) / n_traced,
        "self.writers_s": self_t.get("writers", 0.0) / n_traced,
        "self.readers_s": self_t.get("readers", 0.0) / n_traced,
        "self.delta_log_s": self_t.get("delta_log", 0.0) / n_traced,
        "self.operators_s": sum(self_t.get(k, 0.0) for k in OPERATOR_LAYERS) / n_traced,
        "readers.load_table_ms": 1000.0 * ctx.tracer.total("readers.load_table") / n_traced,
        "caching.released": ctx.released / n_traced,
        "trace.overhead_frac": (mt - mu) / mu if mu else 0.0,
        "trace.spans": len(ctx.tracer.spans),
    })
    metrics.update(wl.layer_metrics(ctx, passes, finish))
    return metrics


def e2e_metrics(ctx, wl, passes, finish, setups, rss: float) -> dict:
    import harness

    plain = [p for p in passes if not p.traced]

    def batch_time(p) -> float:
        return sum(o.seconds for o in p.ops if o.batch)

    # A pass's batch job (the medallion backfill) is its batch; a pass
    # without one is itself the batch. The other ops are the interactive
    # ones, timed one by one.
    batches = [batch_time(p) or p.seconds for p in plain]
    op_s = [o.seconds for p in plain + [finish] for o in p.ops if not o.batch]
    busy = sum(p.seconds - batch_time(p) for p in plain + [finish])
    write_amp, space_amp = wl.amplification(ctx)
    return {
        "setup_s": harness.median(setups),
        "batch_s": harness.median(batches),
        "op_p50_ms": 1000.0 * harness.percentile(op_s, 50),
        "op_p90_ms": 1000.0 * harness.percentile(op_s, 90),
        "ops_per_s": len(op_s) / busy,
        "write_amp": write_amp,
        "space_amp": space_amp,
        "peak_rss_mb": rss,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="input scale factor (lineitem ≈ 6M·sf rows)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    cores = nproc()
    os.environ.pop("OMP_NUM_THREADS", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # The engine is imported from the checkout this file sits in; without
    # it the benchmark cannot run and must fail before printing a result.
    sys.path[:0] = [ROOT, HERE]
    import deg04_local_data_lake_spark  # noqa: F401
    import harness
    from lake_ingest import LakeIngest
    from lake_query import LakeQuery

    workloads = {w.name: w for w in (LakeIngest, LakeQuery)}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} sf={args.sf} nproc={cores} load_start={harness.load_avg()}",
          flush=True)

    ctx = Context(args, work)
    wl = workloads[args.workload]()
    phases: dict[str, float] = {}
    t_phase = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - t_phase[0], 2)
        t_phase[0] = now

    try:
        setups, setup_info = set_up(ctx, wl)
        spark = ctx.spark
        print(f"master={spark.sparkContext.master} "
              f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
              f"driver_memory={spark.sparkContext.getConf().get('spark.driver.memory')} "
              f"setups_s={[round(x, 3) for x in setups]}", flush=True)
        phase("setup")

        # A traced run compares traced with untraced passes, and the first
        # measured pass (untraced) still runs slower for being first; one
        # more warm-up pass keeps that out of trace.overhead_frac.
        warmups = []
        for _ in range(wl.warmup_passes + args.trace):
            t0 = time.perf_counter()
            wl.run_pass(ctx)
            warmups.append(round(time.perf_counter() - t0, 3))
        print(f"warmup_pass_s={warmups}", flush=True)
        phase("warmup")

        passes, finish = measure(ctx, wl, args.seconds, bool(args.trace))
        rss_py, rss_jvm = harness.peak_rss_mb(spark)
        phase("measure")

        # ---- output checks, outside the timed region
        problems = wl.check(ctx, passes + [finish])
        for msg in problems[:20]:
            print(f"CHECK FAILED: {msg}", flush=True)
        all_ops = [o for p in passes + [finish] for o in p.ops]
        failed = sum(1 for o in all_ops if not o.ok)
        if args.trace:
            metrics = layer_metrics(ctx, wl, passes, finish, setup_info)
            ctx.tracer.dump(os.path.join(
                ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.jsonl"))
            units = LAYER_UNITS
        else:
            metrics = e2e_metrics(ctx, wl, passes, finish, setups, rss_py + rss_jvm)
            units = E2E_UNITS
        phase("check")
        print(f"passes={len(passes)} ops_per_pass={len(passes[0].ops)} "
              f"ops={len(all_ops)} peak_rss_mb python={rss_py:.1f} jvm={rss_jvm:.1f} "
              f"load_end={harness.load_avg()}", flush=True)
        print(f"pass_s={[round(p.seconds, 3) for p in passes]}", flush=True)
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("teardown")
    print(f"phase_s={phases}", flush=True)

    result = {
        "correct": failed == 0 and not problems,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
