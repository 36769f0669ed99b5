"""Measurement plumbing shared by the workloads: op records, tracing
spans around the engine's public functions, Spark's own stage metrics,
memory and on-disk byte counts.

Tracing is done from outside the package: :class:`Tracer` replaces a
public function by a timing wrapper in every module of the package that
holds a reference to it (modules import functions by name, so patching
only the defining module would miss most call sites), and puts the
originals back afterwards. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

PKG = "deg04_local_data_lake_spark"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool = True
    result: object = None
    spark: dict = field(default_factory=dict)
    # a step of a batch job (a medallion stage): timed by batch_s, not
    # counted among the interactive ops of op_p50_ms/op_p90_ms/ops_per_s
    batch: bool = False


@dataclass
class Pass:
    seconds: float
    ops: list[Op]
    traced: bool = False


def timed(kind: str, fn, *args, **kwargs) -> Op:
    """Run ``fn`` and time it; an exception marks the op failed instead
    of ending the run, so a failing op is counted, not hidden."""
    t0 = time.perf_counter()
    try:
        result = fn(*args, **kwargs)
        ok = True
    except Exception as exc:  # noqa: BLE001 - every op failure is counted
        print(f"op {kind} failed: {exc!r}"[:2000], file=sys.stderr)
        result, ok = None, False
    return Op(kind, time.perf_counter() - t0, ok, result)


# ------------------------------------------------------------ resources


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> tuple[float, float]:
    """High-water resident sets of this Python driver and of the JVM, MB."""
    pid = jvm_pid(spark)
    return _vm_hwm_kb(os.getpid()) / 1024.0, (_vm_hwm_kb(pid) / 1024.0 if pid else 0.0)


def dir_bytes(path: str, skip_dirs: tuple[str, ...] = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip_dirs]
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files if f.endswith(suffix)
    )


def commits_since_checkpoint(table: str) -> int:
    """JSON commits a snapshot read of the Delta table at ``table`` must
    replay on top of its newest checkpoint (per the protocol's
    ``_delta_log/_last_checkpoint`` pointer)."""
    log = os.path.join(table, "_delta_log")
    latest = max(int(f[:20]) for f in os.listdir(log) if f.endswith(".json"))
    try:
        with open(os.path.join(log, "_last_checkpoint")) as fh:
            return latest - json.load(fh)["version"]
    except FileNotFoundError:
        return latest + 1


def load_avg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


# ------------------------------------------------------- Spark metrics


class StageMeter:
    """Per-op deltas of Spark's status store, which is kept with the UI
    off. ``stageList`` returns the retained stages newest first, so each
    read walks only the stages started since the previous one.

    The store is fed asynchronously by the listener bus, so each read
    first drains the bus. A stage is counted once it has ended (complete,
    skipped or failed), oldest first: one still running, and every stage
    after it, is left for a later read, so no stage is counted with only
    part of its task metrics."""

    FIELDS = ("executorRunTime", "jvmGcTime", "shuffleWriteBytes",
              "inputBytes", "outputBytes", "numTasks")
    ENDED = ("COMPLETE", "SKIPPED", "FAILED")
    DRAIN_MS = 60_000

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._bus.waitUntilEmpty(self.DRAIN_MS)
        self._last_stage, self._last_job = self._heads()

    def _stages(self):
        jl = self._jvm.java.util.ArrayList
        return self._store.stageList(
            jl(), False, False, self._gw.new_array(self._jvm.double, 0), jl()
        )

    def _heads(self) -> tuple[int, int]:
        stages = self._stages()
        jobs = self._store.jobsList(None)
        s = stages.apply(0).stageId() if stages.size() else -1
        j = jobs.apply(0).jobId() if jobs.size() else -1
        return s, j

    def delta(self) -> dict:
        self._bus.waitUntilEmpty(self.DRAIN_MS)
        stages = self._stages()
        new = []
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self._last_stage:
                break
            new.append(st)
        out = {f: 0 for f in self.FIELDS}
        out["stages"] = 0
        for st in reversed(new):
            if st.status().toString() not in self.ENDED:
                break
            self._last_stage = st.stageId()
            out["stages"] += 1
            for f in self.FIELDS:
                out[f] += getattr(st, f)()
        jobs = self._store.jobsList(None)
        head = jobs.apply(0).jobId() if jobs.size() else self._last_job
        out["jobs"] = max(0, head - self._last_job)
        self._last_job = max(head, self._last_job)
        return out


# --------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int


class Tracer:
    """Spans around calls into the engine's public functions.

    ``targets`` maps a layer name to ``(module, [function names])``.
    While the tracer is entered as a context manager, each function is
    wrapped in every loaded module of the package that refers to it."""

    def __init__(self, targets: dict[str, tuple[str, list[str]]]):
        self.targets = targets
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self.hooks: dict[str, list] = {}
        self._stack: list[int] = []
        self._op_id = 0
        self._patched: list[tuple[object, str, object]] = []

    def on_return(self, qualname: str, hook) -> None:
        """Call ``hook(args, kwargs, result)`` after ``qualname`` returns
        while tracing — used for counts measured where the work happens."""
        self.hooks.setdefault(qualname, []).append(hook)

    def begin_op(self, name: str) -> None:
        self._op_id += 1
        self._stack = [self._open(f"op.{name}")]

    def end_op(self) -> None:
        if self._stack:
            self._close(self._stack[0])
        self._stack = []

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op_id))
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()

    def _wrap(self, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer._open(qualname)
            tracer._stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                tracer._close(idx)
                tracer.counts[qualname] = tracer.counts.get(qualname, 0) + 1
            for hook in tracer.hooks.get(qualname, ()):
                hook(args, kwargs, result)
            return result

        return wrapper

    def __enter__(self):
        for modname, _names in self.targets.values():
            importlib.import_module(modname)
        mods = [m for n, m in list(sys.modules.items())
                if n == PKG or n.startswith(PKG + ".")]
        for layer, (modname, names) in self.targets.items():
            home = importlib.import_module(modname)
            for name in names:
                orig = getattr(home, name)
                wrapped = self._wrap(f"{layer}.{name}", orig)
                for mod in mods:
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, wrapped)
                            self._patched.append((mod, attr, orig))
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()
        return False

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the part of the span name before the last
        dot) not covered by the layer's child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s.name.rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def total(self, qualname: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == qualname)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
