"""``delta_upsert``: a seeded stream of small changes to a
``sources.delta_log`` table seeded from ``orders``, each commit followed
by a read-your-writes snapshot read.

One pass is one change cycle, eight ops:

    append → read → CDC merge → read → DV delete → read → DV update → read

Appends go through ``delta_stream_writer`` (the exactly-once sink that
records a ``txn`` per batch), CDC batches through ``merge_delta`` with
``op_col`` and touch about 1% of keys (updates, deletes and inserts),
deletes and updates through the deletion-vector paths ``delete_delta`` /
``update_delta``. Checkpoints happen at the engine's default interval.
The run ends with ``optimize_delta`` and a retention sweep (checkpoint,
log cleanup, ``vacuum_delta``). The benchmark keeps its own model of the
table; every read and the final snapshot are checked against it, and a
re-delivered batch must not change the table.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import numpy as np
import pandas as pd

import datagen
from common import Workload
from harness import commits_since_checkpoint, dir_bytes, median, percentile

KEY = "o_orderkey"
APP_ID = "perfbench-sink"
COMMITS = ("append", "merge", "delete", "update")


def _summary(df) -> tuple[int, int, int]:
    """The read op's result: row count, key sum and price sum in cents —
    integers, so the model comparison is exact."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)),
        F.sum(KEY),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def _model_summary(model: pd.DataFrame) -> tuple[int, int, int]:
    cents = np.round(model["o_totalprice"].to_numpy() * 100).astype(np.int64)
    return len(model), int(model.index.to_numpy().sum()), int(cents.sum())


class DeltaUpsert(Workload):
    name = "delta_upsert"

    def setup(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        orders = datagen.generate(
            ctx.data_dir, ctx.seed, ctx.sf, ctx.n_docs, tables={"orders"}
        )["orders"]
        self.table = os.path.join(ctx.rep_dir, "orders_delta")
        seed = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        self.spark_schema = seed.schema
        delta_log.write_delta_commit(seed, self.table)
        self.model = orders.to_pandas().set_index(KEY, drop=False)
        self.model.index.name = None
        self.next_key = int(self.model[KEY].max()) + 1
        self.batch_id = 0
        self.user_bytes = orders.nbytes
        self.row_bytes = orders.nbytes / max(1, orders.num_rows)
        self.merge_ratio: list[float] = []
        self.read_shape: list[tuple[int, int]] = []
        self.written_bytes = 0

    # ---------------------------------------------------------- inputs

    def _new_rows(self, ctx, n: int) -> pd.DataFrame:
        rng = ctx.rng
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        base = np.datetime64("1995-01-01", "us")
        return pd.DataFrame({
            KEY: keys.astype(np.int64),
            "o_custkey": rng.integers(0, 1500, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n), 2),
            "o_orderdate": base + rng.integers(0, 4 * 365, n) * np.timedelta64(1, "D"),
            "o_orderpriority": rng.choice(datagen.PRIORITIES, n),
        })

    def _pick(self, ctx, frac: float) -> np.ndarray:
        n = max(1, int(len(self.model) * frac))
        return np.sort(ctx.rng.choice(self.model.index.to_numpy(), n, replace=False))

    def _frame(self, ctx, pdf: pd.DataFrame, extra=()):
        from pyspark.sql.types import StringType, StructField, StructType

        fields = list(self.spark_schema.fields) + [
            StructField(c, StringType(), False) for c in extra
        ]
        return ctx.spark.createDataFrame(pdf, StructType(fields))

    # -------------------------------------------------------------- ops

    def _read(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        snapshot = []

        def read():
            snapshot.append(delta_log.read_delta_log(ctx.spark, self.table))
            return _summary(snapshot[0])

        op = ctx.op("read", read)
        op.expect = _model_summary(self.model)
        if ctx.traced and op.ok:
            with ctx.bookkeeping():
                self.read_shape.append(
                    (commits_since_checkpoint(self.table), len(snapshot[0].inputFiles()))
                )

    def _commit(self, ctx, kind: str, fn, apply_model) -> None:
        op = ctx.op(kind, fn)
        if op.ok:
            apply_model()

    def _append(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        rows = self._new_rows(ctx, max(5, len(self.model) // 200))
        df = self._frame(ctx, rows)
        batch = self.batch_id
        self.batch_id += 1
        self.last_batch = (df, batch)
        self.user_bytes += len(rows) * self.row_bytes
        sink = delta_log.delta_stream_writer(self.table, APP_ID)
        self._commit(ctx, "append", lambda: sink(df, batch),
                     lambda: self._upsert_model(rows))

    def _merge(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        keys = self._pick(ctx, 0.01)
        n_del = len(keys) // 4
        deleted, updated = keys[:n_del], keys[n_del:]
        upd = self.model.loc[updated].copy()
        upd["o_totalprice"] = np.round(upd["o_totalprice"].to_numpy() * 1.01, 2)
        upd["o_orderstatus"] = "U"
        ins = self._new_rows(ctx, max(1, len(keys) // 4))
        dele = self.model.loc[deleted].copy()
        src = pd.concat([upd.assign(op="U"), ins.assign(op="I"), dele.assign(op="D")],
                        ignore_index=True)
        df = self._frame(ctx, src, extra=("op",))
        self.user_bytes += len(src) * self.row_bytes
        if ctx.traced:
            with ctx.bookkeeping():
                before = dir_bytes(self.table)

        def apply():
            self.model = self.model.drop(index=deleted)
            self._upsert_model(pd.concat([upd, ins], ignore_index=True))

        self._commit(ctx, "merge",
                     lambda: delta_log.merge_delta(ctx.spark, self.table, df, KEY, op_col="op"),
                     apply)
        if ctx.traced:
            with ctx.bookkeeping():
                self.merge_ratio.append((dir_bytes(self.table) - before)
                                        / (len(src) * self.row_bytes))

    def _in_list(self, keys) -> str:
        return f"{KEY} IN ({', '.join(str(int(k)) for k in keys)})"

    def _delete(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        keys = self._pick(ctx, 0.003)
        self._commit(ctx, "delete",
                     lambda: delta_log.delete_delta(ctx.spark, self.table, self._in_list(keys)),
                     lambda: setattr(self, "model", self.model.drop(index=keys)))

    def _update(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        keys = self._pick(ctx, 0.003)

        def apply():
            m = self.model.copy()
            m.loc[keys, "o_totalprice"] = m.loc[keys, "o_totalprice"] + 1.5
            m.loc[keys, "o_orderstatus"] = "U"
            self.model = m

        self._commit(ctx, "update",
                     lambda: delta_log.update_delta(
                         ctx.spark, self.table, self._in_list(keys),
                         {"o_totalprice": "o_totalprice + 1.5", "o_orderstatus": "'U'"}),
                     apply)

    def _upsert_model(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index(KEY, drop=False)
        rows.index.name = None
        self.model = pd.concat([self.model.drop(index=rows.index, errors="ignore"), rows])

    def run_pass(self, ctx) -> None:
        for step in (self._append, self._merge, self._delete, self._update):
            step(ctx)
            self._read(ctx)

    def finish(self, ctx) -> None:
        from deg04_local_data_lake_spark.sources import delta_log

        ctx.op("optimize", delta_log.optimize_delta, ctx.spark, self.table)
        # nothing is deleted before the retention sweep, so this is every
        # byte written under the table root, set-up included
        self.written_bytes = dir_bytes(self.table)

        def retention():
            delta_log.write_delta_checkpoint(self.table)
            delta_log.cleanup_delta_log(self.table)
            return delta_log.vacuum_delta(self.table, grace_ms=0)

        ctx.op("vacuum", retention)

    # ------------------------------------------------------------ check

    def check(self, ctx, passes) -> list[str]:
        from deg04_local_data_lake_spark.sources import delta_log

        problems = []
        for p in passes:
            for op in p.ops:
                if op.kind == "read" and op.ok and op.result != op.expect:
                    op.ok = False
                    problems.append(f"read {op.result} != model {op.expect}")
        snap = delta_log.read_delta_log(ctx.spark, self.table)
        cols = self.model.columns.tolist()
        got = sorted(tuple(r) for r in snap.select(*cols).collect())
        want = sorted(
            tuple(v.to_pydatetime() if hasattr(v, "to_pydatetime") else
                  (v.item() if hasattr(v, "item") else v) for v in row)
            for row in self.model[cols].itertuples(index=False, name=None)
        )
        if got != want:
            problems.append(f"final snapshot: {len(got)} rows != model {len(want)} rows "
                            "or values differ")
        # exactly-once: re-delivering the last batch must be a no-op
        version = delta_log.delta_versions(self.table)[-1]
        df, batch = self.last_batch
        delta_log.delta_stream_writer(self.table, APP_ID)(df, batch)
        if delta_log.delta_versions(self.table)[-1] != version:
            problems.append("re-delivered batch was committed again")
        return problems

    def amp_bytes(self, ctx):
        from deg04_local_data_lake_spark.sources import delta_log

        files = delta_log.read_delta_log(ctx.spark, self.table).inputFiles()
        live = sum(os.path.getsize(urlparse(f).path) for f in files)
        return self.written_bytes, self.user_bytes, dir_bytes(self.table), live

    def layer_metrics(self, ctx, passes, finish) -> dict:
        plain = [o for p in passes if not p.traced for o in p.ops]
        traced = [o for p in passes if p.traced for o in p.ops]

        def ms(ops, kinds, q=50):
            xs = [o.seconds for o in ops if o.kind in kinds]
            return 1000.0 * percentile(xs, q) if xs else 0.0

        tr = ctx.tracer
        n_cp = tr.counts.get("delta_log.write_delta_checkpoint", 0)
        n_rd = tr.counts.get("delta_log.read_delta_log", 0)
        fin = {o.kind: o.seconds for o in finish.ops}
        return {
            "delta_log.commit_p50_ms": ms(plain, COMMITS, 50),
            "delta_log.commit_p90_ms": ms(plain, COMMITS, 90),
            "delta_log.read_p50_ms": ms(plain, ("read",), 50),
            "delta_log.read_p90_ms": ms(plain, ("read",), 90),
            "delta_log.append_ms": ms(traced, ("append",)),
            "delta_log.merge_ms": ms(traced, ("merge",)),
            "delta_log.dv_ms": ms(traced, ("delete", "update")),
            "delta_log.checkpoint_ms": 1000.0 * tr.total("delta_log.write_delta_checkpoint") / n_cp
            if n_cp else 0.0,
            "delta_log.merge_bytes_rewritten_per_changed_byte": median(self.merge_ratio),
            "delta_log.snapshot_plan_ms": 1000.0 * tr.total("delta_log.read_delta_log") / n_rd
            if n_rd else 0.0,
            "delta_log.commits_since_checkpoint": median([s for s, _ in self.read_shape]),
            "delta_log.live_files": median([f for _, f in self.read_shape]),
            "delta_log.optimize_s": fin.get("optimize", 0.0),
            "delta_log.vacuum_ms": 1000.0 * fin.get("vacuum", 0.0),
            "delta_log.log_bytes": dir_bytes(os.path.join(self.table, "_delta_log")),
        }
