"""Shared pieces of the workloads: the workload interface, exact result
comparison, and DuckDB over the generated parquet for expected results."""

from __future__ import annotations

import datetime
import math
import os


class Workload:
    """One benchmark workload. ``setup`` builds inputs and fixtures
    (timed, repeated); ``run_pass`` issues one pass of ops through
    ``ctx.op``; ``finish`` issues the ops that end a run; ``check``
    compares every recorded result with its expected value after the
    timed region, marks wrong ops failed and returns what went wrong."""

    name = ""
    min_passes = 2  # measured passes a run makes however short --seconds is
    # uncounted passes before measuring; with one, the next pass of
    # lake_query still ran 10-25% slower while the JIT settled
    warmup_passes = 2

    def setup(self, ctx) -> None:
        raise NotImplementedError

    def run_pass(self, ctx) -> None:
        raise NotImplementedError

    def install_hooks(self, ctx) -> None:
        """Register tracer hooks that count work where it happens."""

    def finish(self, ctx) -> None:
        """Ops that end a run (table maintenance); none by default."""

    def check(self, ctx, passes) -> list[str]:
        raise NotImplementedError

    def amp_bytes(self, ctx) -> tuple[float, float, float, float]:
        """(bytes written under the table roots, Arrow bytes of the user
        rows submitted, bytes under the roots at the end, bytes of the
        files the final snapshots reference)."""
        raise NotImplementedError

    def amplification(self, ctx) -> tuple[float, float]:
        """(write amplification, space amplification)."""
        written, user, on_disk, live = self.amp_bytes(ctx)
        return written / user, on_disk / live

    def layer_metrics(self, ctx, passes, finish) -> dict:
        return {}


class Composite(Workload):
    """A workload whose pass runs each part's pass in turn."""

    parts: tuple = ()

    def __init__(self):
        self.parts = tuple(p() for p in self.parts)

    def setup(self, ctx) -> None:
        for p in self.parts:
            p.setup(ctx)

    def run_pass(self, ctx) -> None:
        for p in self.parts:
            p.run_pass(ctx)

    def install_hooks(self, ctx) -> None:
        for p in self.parts:
            p.install_hooks(ctx)

    def finish(self, ctx) -> None:
        for p in self.parts:
            p.finish(ctx)

    def check(self, ctx, passes) -> list[str]:
        return [msg for p in self.parts for msg in p.check(ctx, passes)]

    def amp_bytes(self, ctx):
        return tuple(sum(x) for x in zip(*(p.amp_bytes(ctx) for p in self.parts)))

    def layer_metrics(self, ctx, passes, finish) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(ctx, passes, finish))
        return out


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    """Rows as tuples in sorted-column order, normalized and sorted, so
    two engines' equal multisets compare equal exactly."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(repr(v) for v in t),
    )


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    """Collect a DataFrame as (columns, rows) — the materialization every
    query op times."""
    return df.columns, [tuple(r) for r in df.collect()]


def same(got: tuple[list[str], list], want: tuple[list[str], list]) -> str | None:
    """``None`` when equal, else a short description of the difference."""
    gc, gr = got
    wc, wr = want
    if sorted(gc) != sorted(wc):
        return f"columns {sorted(gc)} != {sorted(wc)}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)} expected"
    a, b = canonical(gc, gr), canonical(wc, wr)
    for x, y in zip(a, b):
        if x != y:
            return f"first difference {x} != {y}"
    return None


def project(cols: list[str], rows: list[tuple], keep: list[str]):
    idx = [cols.index(c) for c in keep]
    return keep, [tuple(r[i] for i in idx) for r in rows]


class Oracle:
    """DuckDB views over the generated parquet, with results memoized per
    SQL text (the inputs never change within a run)."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(
                    f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{path}'"
                )
        self._memo: dict[str, tuple[list[str], list]] = {}

    def rows(self, sql: str) -> tuple[list[str], list]:
        if sql not in self._memo:
            res = self.con.execute(sql)
            self._memo[sql] = ([d[0] for d in res.description], res.fetchall())
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()
