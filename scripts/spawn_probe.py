#!/usr/bin/env python
"""Sample the driver JVM with jstack during a date-partitioned bronze-style
write and report where Hadoop starts OS processes.

The write mirrors the medallion bronze stage: ``--partitions`` ship dates
(every 10th day from 1992-01-02), one file per date. While it runs, the
driver JVM is dumped every ``--interval`` seconds; each thread sample that
is inside ``org.apache.hadoop.util.Shell.runCommand`` (a forked process
such as ``chmod``) is counted under its first caller outside
``org.apache.hadoop.util``, e.g. ``RawLocalFileSystem.setPermission``.

Usage: python scripts/spawn_probe.py [--partitions 253] [--rows 240]
                                     [--writes 3] [--interval 0.05] [--stock-fs]

``--stock-fs`` registers Hadoop's own ``LocalFileSystem`` for ``file://``,
for a before/after comparison in one checkout. Needs ``jstack`` on PATH.
"""
from __future__ import annotations

import argparse
import collections
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

RUN_COMMAND = "org.apache.hadoop.util.Shell.runCommand"


def frames(stack: str) -> list[str]:
    """``pkg.Class.method`` of every ``at`` line, innermost first."""
    out = []
    for line in stack.splitlines():
        line = line.strip()
        if line.startswith("at "):
            out.append(line[3:].split("(", 1)[0])
    return out


def spawn_caller(stack: str) -> str | None:
    """The first frame outside ``org.apache.hadoop.util`` below
    ``Shell.runCommand``, or None when the thread is not in it."""
    fs = frames(stack)
    if RUN_COMMAND not in fs:
        return None
    for f in fs[fs.index(RUN_COMMAND):]:
        if not f.startswith("org.apache.hadoop.util."):
            return f
    return RUN_COMMAND


def sample(pid: int, interval: float, stop: threading.Event, out: list[str]) -> None:
    jstack = shutil.which("jstack")
    while not stop.is_set():
        dump = subprocess.run([jstack, str(pid)], capture_output=True, text=True).stdout
        out.extend(s for s in dump.split("\n\n") if s.startswith('"'))
        stop.wait(interval)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--partitions", type=int, default=253)
    ap.add_argument("--rows", type=int, default=240, help="rows per partition")
    ap.add_argument("--writes", type=int, default=3, help="timed writes after one warm-up")
    ap.add_argument("--interval", type=float, default=0.05, help="seconds between dumps")
    ap.add_argument("--stock-fs", action="store_true")
    args = ap.parse_args()
    if shutil.which("jstack") is None:
        print("jstack not found on PATH", file=sys.stderr)
        return 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from deg04_local_data_lake_spark.session import get_spark_session
    from deg04_local_data_lake_spark.sources.writers import write_lake_table

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.stock_fs:
        extra["spark.hadoop.fs.file.impl"] = "org.apache.hadoop.fs.LocalFileSystem"
    spark = get_spark_session(app_name="deg04-spawn-probe", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    pid = jvm.java.lang.ProcessHandle.current().pid()
    df = spark.range(0, args.partitions * args.rows).selectExpr(
        "id",
        "CAST(id * 7 % 1000 AS DOUBLE) AS price",
        f"date_add(DATE'1992-01-02', CAST(id % {args.partitions} AS INT) * 10) AS ship_date",
    ).repartition("ship_date").cache()
    df.count()

    work = tempfile.mkdtemp(prefix="deg04-spawn-probe-")
    samples: list[str] = []
    seconds = []
    try:
        write_lake_table(df, os.path.join(work, "warm"), partition_by=["ship_date"])
        stop = threading.Event()
        sampler = threading.Thread(target=sample, args=(pid, args.interval, stop, samples))
        sampler.start()
        for i in range(args.writes):
            t0 = time.perf_counter()
            write_lake_table(df, os.path.join(work, f"w{i}"), partition_by=["ship_date"])
            seconds.append(time.perf_counter() - t0)
        stop.set()
        sampler.join()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    tasks = [s for s in samples if s.startswith('"Executor task launch')]
    callers = collections.Counter(c for c in map(spawn_caller, samples) if c)
    print(f"file:// raw filesystem: {fs.getRawFileSystem().getClass().getName()}")
    print(f"writes: {args.writes} x {args.partitions} partitions, seconds: "
          + " ".join(f"{s:.2f}" for s in seconds))
    print(f"thread samples: {len(samples)} ({len(tasks)} task threads)")
    print(f"samples in {RUN_COMMAND}: {sum(callers.values())}")
    for caller, n in callers.most_common():
        print(f"  {n:6d}  {caller}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
