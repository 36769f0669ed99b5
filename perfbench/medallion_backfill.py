"""``medallion_backfill``: the reference's flagship bronze → silver → gold
flow, write-heavy with many small files.

Each pass runs ``pipelines.medallion.run_medallion`` over the generated
``lineitem`` into a fresh output directory (bronze writes one file per
ship date, ``datagen.SHIP_DAYS`` partitions). The pass is cut into ops
at the pipeline's own table writes: ``write_lake_table`` is wrapped from
here (the module attribute ``run_medallion`` looks up), so each op is
one medallion stage ending in its table commit. After the timed region
the output of every pass is sized, its gold and silver tables are read
back and compared with the registered DuckDB oracles, and the output
directories are removed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import datagen
from common import Oracle, Workload, project, same, spark_rows
from harness import Op, count_files, dir_bytes, median

MEDALLION = "deg04_local_data_lake_spark.pipelines.medallion"
STAGES = ("bronze", "silver_asset", "silver_market", "gold")
# table read back → registered query whose oracle it must equal
READBACK = {
    "gold": "gold_monthly_summary",
    "silver_asset": "silver_scd2_snapshot",
    "silver_market": "silver_market_trend",
}


class MedallionBackfill(Workload):
    name = "medallion_backfill"

    def setup(self, ctx) -> None:
        tables = datagen.generate(
            ctx.data_dir, ctx.seed, ctx.sf, ctx.n_docs, tables={"lineitem"}
        )
        self.user_bytes = tables["lineitem"].nbytes
        # (gold op, output dir, table paths, traced) of every pass; sized
        # and checked after the timed region
        self.outputs: list[tuple] = []
        self.amp: list[tuple[int, int]] = []
        self.traced_io: list[dict] = []

    def run_pass(self, ctx) -> None:
        mod = sys.modules[MEDALLION]
        out = ctx.fresh_dir("backfill")
        inner = mod.write_lake_table
        ends: list[float] = []
        starts = [time.perf_counter()]
        deltas: list[dict] = []

        def write_and_mark(*args, **kwargs):
            inner(*args, **kwargs)
            ends.append(time.perf_counter())
            if ctx.traced:
                deltas.append(ctx.meter.delta())
            # the next stage starts after the stage meter's read
            starts.append(time.perf_counter())

        mod.write_lake_table = write_and_mark
        if ctx.traced:
            ctx.tracer.begin_op("backfill")
        try:
            paths = mod.run_medallion(ctx.spark, ctx.data_dir, out)
        except Exception as exc:  # noqa: BLE001 - counted as failed stages
            print(f"op backfill failed: {exc!r}"[:2000], file=sys.stderr)
            paths = None
        finally:
            mod.write_lake_table = inner
            if ctx.traced:
                ctx.tracer.end_op()
        for i, stage in enumerate(STAGES):
            ok = paths is not None and i < len(ends)
            seconds = ends[i] - starts[i] if i < len(ends) else 0.0
            ctx.ops.append(Op(stage, seconds, ok, batch=True,
                              spark=deltas[i] if i < len(deltas) else {}))
        if paths is not None:
            self.outputs.append((ctx.ops[-1], out, paths, ctx.traced))

    def install_hooks(self, ctx) -> None:
        self.loaded: list[str] = []

        def record(args, kwargs, df):
            self.loaded.append(f"{args[1]}/{args[2]}.parquet")

        ctx.tracer.on_return("readers.load_table", record)

    def check(self, ctx, passes) -> list[str]:
        from deg04_local_data_lake_spark import registry

        measured = {id(o) for p in passes for o in p.ops}
        oracle = Oracle(ctx.data_dir)
        problems = []
        try:
            for gold_op, out, paths, traced in self.outputs:
                data_bytes = sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _d, files in os.walk(out) for f in files if f.endswith(".parquet")
                )
                total = dir_bytes(out)
                self.amp.append((total, data_bytes))
                if traced:
                    self.traced_io.append({
                        "files": count_files(out),
                        "bytes": total,
                        "listed": count_files(paths["bronze"])
                        + count_files(paths["silver_asset"]),
                    })
                if id(gold_op) not in measured:
                    continue
                for table, query in READBACK.items():
                    want = oracle.rows(registry.oracles()[query])
                    cols, rows = spark_rows(ctx.spark.read.parquet(paths[table]))
                    diff = same(project(cols, rows, want[0]), want)
                    if diff:
                        gold_op.ok = False
                        problems.append(f"{self.name} {table}: {diff}")
        finally:
            oracle.close()
            for _op, out, _paths, _traced in self.outputs:
                shutil.rmtree(out, ignore_errors=True)
        return problems

    def amp_bytes(self, ctx):
        # every pass rewrites the same tables from the same input into a
        # fresh directory; the last pass's output stands for the end state
        written = sum(w for w, _ in self.amp)
        return written, self.user_bytes * len(self.amp), self.amp[-1][0], self.amp[-1][1]

    def layer_metrics(self, ctx, passes, finish) -> dict:
        traced = [p for p in passes if p.traced]

        def stage_s(*kinds):
            return median([sum(o.seconds for o in p.ops if o.kind in kinds) for p in traced])

        io = self.traced_io
        files = median([x["files"] for x in io])
        written = median([x["bytes"] for x in io])
        n = len(traced) or 1
        return {
            "medallion.bronze_s": stage_s("bronze"),
            "medallion.silver_s": stage_s("silver_asset", "silver_market"),
            "medallion.gold_s": stage_s("gold"),
            "writers.files_written": files,
            "writers.bytes_per_file": written / files if files else 0.0,
            "writers.bytes_written": written,
            "readers.files_listed": (sum(1 if os.path.isfile(p) else count_files(p)
                                         for p in self.loaded)
                                     + sum(x["listed"] for x in io)) / n,
        }
