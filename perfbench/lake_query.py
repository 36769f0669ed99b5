"""``lake_query``: a closed-loop, read-only mix of interactive queries
with one client; the workload that writes nothing.

One pass is one round of nine ops in a seeded order:

- TPC-H-shaped queries through the registry: ``q1_pricing_summary``
  (``operators.aggregates``), ``q3_shipping_priority`` and
  ``q5_nation_revenue`` (``operators.analytics``), ``window_topk_orders``
  (``operators.windows``);
- three ``read_delta_log`` reads of a Delta copy of ``lineitem`` built
  during set-up (partitioned by ``l_returnflag``, loaded in three commits
  of contiguous ``l_orderkey`` slices, each range-partitioned so every
  file covers a narrow key range): a partition read
  (``partition_filter``), a data-skipping range read (``column_ranges``)
  and a time-travel read (``version=`` an older commit), each with seeded
  parameters and an aggregate on top;
- two LLM-data curation gates over the generated corpus: the Gopher
  quality gate (``text.gopher_metrics``) and MinHash-LSH candidate pairs
  (``dedup.minhash_candidate_pairs``), each built through its public
  functions (the registered dedup queries memoize their plans per
  session, which would turn repeats into cache hits).

Every result is checked against DuckDB over the same parquet, the
registered oracles for the registered queries.
"""

from __future__ import annotations

import os
import sys

import numpy as np

import datagen
from common import Oracle, Workload, same, spark_rows
from harness import commits_since_checkpoint, dir_bytes, median

PKG = "deg04_local_data_lake_spark"
REGISTERED = {
    "q1": ("operators.aggregates", "q1_pricing_summary"),
    "q3": ("operators.analytics", "q3_shipping_priority"),
    "q5": ("operators.analytics", "q5_nation_revenue"),
    "topk": ("operators.windows", "window_topk_orders"),
}
ORACLE_OF = {
    "q1": "q1_pricing_summary",
    "q3": "q3_shipping_priority",
    "q5": "q5_nation_revenue",
    "topk": "window_topk_orders",
    "gopher": "quality_gopher_rules",
    "minhash": "dedup_minhash_pairs",
}
DELTA_READS = ("part_read", "skip_read", "tt_read")
# The op kinds are an odd number, so with whole rounds the median op falls
# inside one kind's samples, not on the edge between two kinds.
KINDS = tuple(REGISTERED) + DELTA_READS + ("gopher", "minhash")
LOAD_SLICES = 3  # commits that load the Delta copy; time travel reads the older ones
FILES_PER_SLICE = 4
SKIP_WIDTH = 0.02  # share of the key range one skipping read asks for
AGG_SQL = ("SELECT count(*) AS n, sum(l_quantity) AS qty, "
           "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents "
           "FROM lineitem WHERE {}")


def _mod(name: str):
    return sys.modules[f"{PKG}.{name}"]


def _agg(df):
    from pyspark.sql import functions as F

    return spark_rows(df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
    ))


class LakeQuery(Workload):
    name = "lake_query"
    # a pass takes 5-6 s, so at --seconds 10 two or three would run
    # depending on machine speed; three always run
    min_passes = 3

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from deg04_local_data_lake_spark.sources import delta_log

        tables = datagen.generate(ctx.data_dir, ctx.seed, ctx.sf, ctx.n_docs)
        li = tables["lineitem"]
        self.user_bytes = li.nbytes
        self.max_key = int(np.max(li.column("l_orderkey").to_numpy()))
        self.bounds = [
            (self.max_key + 1) * (i + 1) // LOAD_SLICES for i in range(LOAD_SLICES)
        ]
        self.table = os.path.join(ctx.rep_dir, "lineitem_delta")
        src = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "lineitem.parquet"))
        lo = 0
        for hi in self.bounds:
            # each commit range-partitions its key slice, so every file
            # covers a narrow l_orderkey range and its log stats can skip
            part = src.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
            delta_log.write_delta_commit(
                part.repartitionByRange(FILES_PER_SLICE, "l_orderkey"),
                self.table, partition_by=["l_returnflag"],
            )
            lo = hi
        self.keep_ratio = self.pairs_per_doc = 0.0

    def _params(self, ctx, kind: str):
        rng = ctx.rng
        if kind == "part_read":
            return {"l_returnflag": str(rng.choice(["A", "N", "R"]))}
        if kind == "skip_read":
            width = max(1, int(self.max_key * SKIP_WIDTH))
            lo = int(rng.integers(0, self.max_key - width))
            return (lo, lo + width)
        if kind == "tt_read":
            return int(rng.integers(0, LOAD_SLICES - 1))
        return None

    def _run(self, ctx, kind: str, param):
        delta_log = _mod("sources.delta_log")
        spark = ctx.spark
        if kind in REGISTERED:
            mod, fn = REGISTERED[kind]
            return spark_rows(getattr(_mod(mod), fn)(spark, ctx.data_dir))
        if kind == "part_read":
            return _agg(delta_log.read_delta_log(spark, self.table, partition_filter=param))
        if kind == "skip_read":
            from pyspark.sql import functions as F

            df = delta_log.read_delta_log(
                spark, self.table, column_ranges={"l_orderkey": param}
            )
            return _agg(df.filter(F.col("l_orderkey").between(*param)))
        if kind == "tt_read":
            return _agg(delta_log.read_delta_log(spark, self.table, version=param))
        docs = _mod("sources.readers").load_table(spark, ctx.data_dir, "documents")
        if kind == "gopher":
            return spark_rows(_mod("operators.text").gopher_metrics(docs))
        dedup = _mod("operators.dedup")
        return spark_rows(dedup.minhash_candidate_pairs(
            dedup.minhash_signatures(dedup.shingle_rows(docs))
        ))

    def run_pass(self, ctx) -> None:
        for kind in ctx.rng.permutation(KINDS):
            param = self._params(ctx, str(kind))
            op = ctx.op(str(kind), self._run, ctx, str(kind), param)
            op.param = param
            ctx.release()

    def _expected_sql(self, kind: str, param) -> str:
        from deg04_local_data_lake_spark import registry

        if kind == "part_read":
            return AGG_SQL.format(f"l_returnflag = '{param['l_returnflag']}'")
        if kind == "skip_read":
            return AGG_SQL.format(f"l_orderkey BETWEEN {param[0]} AND {param[1]}")
        if kind == "tt_read":
            return AGG_SQL.format(f"l_orderkey < {self.bounds[param]}")
        return registry.oracles()[ORACLE_OF[kind]]

    def check(self, ctx, passes) -> list[str]:
        oracle = Oracle(ctx.data_dir)
        problems = []
        try:
            for p in passes:
                for op in p.ops:
                    if not op.ok:
                        continue
                    diff = same(op.result, oracle.rows(self._expected_sql(op.kind, op.param)))
                    if diff:
                        op.ok = False
                        problems.append(f"{op.kind}{op.param or ''}: {diff}")
                    if op.kind == "gopher":
                        keep = op.result[0].index("keep")
                        self.keep_ratio = sum(r[keep] for r in op.result[1]) / len(op.result[1])
                    elif op.kind == "minhash":
                        self.pairs_per_doc = len(op.result[1]) / ctx.n_docs
                    op.result = None
        finally:
            oracle.close()
        return problems

    def amp_bytes(self, ctx):
        from urllib.parse import urlparse

        delta_log = _mod("sources.delta_log")
        # the fixture table is written once, at set-up, and never changes
        on_disk = dir_bytes(self.table)
        files = delta_log.read_delta_log(ctx.spark, self.table).inputFiles()
        live = sum(os.path.getsize(urlparse(f).path) for f in files)
        return on_disk, self.user_bytes, on_disk, live

    def layer_metrics(self, ctx, passes, finish) -> dict:
        traced = [o for p in passes if p.traced for o in p.ops]

        def ms(kind):
            return 1000.0 * median([o.seconds for o in traced if o.kind == kind])

        tr = ctx.tracer
        n_rd = tr.counts.get("delta_log.read_delta_log", 0)
        delta_log = _mod("sources.delta_log")
        # the fixture never changes, so the files a skipping read prunes to
        # are counted here, after the run, not inside the timed reads
        live = len(delta_log.read_delta_log(ctx.spark, self.table).inputFiles())
        scan_ratio = [
            len(delta_log.read_delta_log(
                ctx.spark, self.table, column_ranges={"l_orderkey": o.param}
            ).inputFiles()) / live
            for o in traced if o.kind == "skip_read"
        ]
        return {
            "aggregates.q1_ms": ms("q1"),
            "analytics.q5_ms": ms("q5"),
            "windows.topk_ms": ms("topk"),
            "analytics.q3_ms": ms("q3"),
            "text.gopher_ms": ms("gopher"),
            "dedup.minhash_pairs_ms": ms("minhash"),
            "delta_log.partition_read_ms": ms("part_read"),
            "delta_log.skipping_read_ms": ms("skip_read"),
            "delta_log.time_travel_ms": ms("tt_read"),
            "delta_log.snapshot_plan_ms": 1000.0 * tr.total("delta_log.read_delta_log") / n_rd
            if n_rd else 0.0,
            "delta_log.files_scanned_ratio": median(scan_ratio),
            "delta_log.live_files": live,
            "delta_log.commits_since_checkpoint": commits_since_checkpoint(self.table),
            "delta_log.log_bytes": dir_bytes(os.path.join(self.table, "_delta_log")),
            "text.gopher_keep_ratio": self.keep_ratio,
            "dedup.candidate_pairs_per_doc": self.pairs_per_doc,
        }
