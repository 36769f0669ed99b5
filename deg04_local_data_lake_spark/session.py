"""SparkSession factory.

Mirrors the surface of the reference's session factory
(``mage_demo/utils/spark_session_factory.py:83-89`` — ``get_spark_session``
dispatching delta/iceberg wiring) but built for testability and scale:

- plain local mode by default (every operator runs on vanilla Parquet);
- Delta / Iceberg wiring is optional and gated behind import-try, so the
  engine never hard-depends on lake-format jars being present;
- scale-oriented defaults: AQE on (skew joins + partition coalescing),
  Arrow-accelerated Python interop, UTC session timezone (oracle parity),
  sized shuffle partitions.

At 100 TB the same factory is used with a cluster master URL; nothing here
assumes single-node execution.

Local lake I/O
--------------
The pyspark wheel ships no libhadoop, so Hadoop's ``RawLocalFileSystem``
sets mode bits by starting a ``chmod`` process, once for every data file,
every ``.crc`` sidecar and every new directory. A date-partitioned bronze
write (one small file per day) spent most of its time there. For ``local``
masters the factory therefore registers ``SpawnFreeLocalFileSystem``
(``jvm/SpawnFreeLocalFileSystem.java``) as ``fs.file.impl``: Hadoop's
checksummed ``LocalFileSystem`` whose raw layer overrides only
``setPermission``, setting the same bits through
``java.nio.file.Files.setPosixFilePermissions``. The sticky bit, which NIO
cannot express, still goes to Hadoop's ``chmod``. ``.crc`` sidecars are
written and verified by Hadoop's own code, and the files, bytes and modes
on disk are those stock Hadoop writes. The source is compiled once with the
machine's ``javac`` against pyspark's ``hadoop-client-api`` jar into a
cache keyed by its content; the class is registered only when the JVM can
load it (the one this call launches, with the cache directory on
``spark.driver.extraClassPath``, or one already running that has it).
Local masters also size the partition-listing job to the local cores
(``spark.sql.sources.parallelPartitionDiscovery.parallelism``): reading a
bronze table back then runs one listing task per core, not one per
partition directory. See :func:`local_io_conf`.

Where it stops: cluster masters, and hosts without ``javac``, keep stock
Hadoop. The FileContext path (``fs.AbstractFileSystem.file.impl``, used by
Structured Streaming checkpoints in ``streaming.ingest``) still starts one
``chmod`` per file.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

LOCAL_FS_CLASS = "deg04.lake.fs.SpawnFreeLocalFileSystem"
_LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "SpawnFreeLocalFileSystem.java"
)
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?")
_LOCAL_FS_CLASS_FILE = os.path.join(*LOCAL_FS_CLASS.split(".")) + ".class"
_CLASSPATH = "spark.driver.extraClassPath"

_log = logging.getLogger(__name__)


def get_spark_session(
    app_name: str = "deg04-lake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ansi: bool | None = None,
    delta: bool = False,
    iceberg: bool = False,
    hive: bool = False,
    warehouse: str | None = None,
    s3_endpoint: str | None = None,
    s3_access_key: str | None = None,
    s3_secret_key: str | None = None,
    s3_path_style: bool = True,
    s3_ssl: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    Parameters mirror the reference factory's ``type``/kwargs surface
    (``spark_session_factory.py:53-89``): pass ``delta=True`` /
    ``iceberg=True`` to wire the respective catalog extensions when the
    packages are importable; otherwise the session is plain Parquet-capable,
    which every operator in this engine supports as a first-class format.

    ``s3_endpoint`` / ``s3_access_key`` / ``s3_secret_key`` wire an
    S3-compatible object store exactly as the reference's
    ``configure_s3`` does (``spark_session_factory.py:44-51,74-81``:
    endpoint, credentials, path-style access for MinIO-style stores,
    SSL toggle, the S3AFileSystem impl) — but through ``spark.hadoop.*``
    BUILDER conf rather than post-hoc ``sc._jsc.hadoopConfiguration()``
    mutation, so the settings reach every executor at startup and
    ``getOrCreate`` reuse can't race them. The keys land whether or not
    the hadoop-aws jar is present (conf is inert without it)."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    local_fs = _loadable_local_fs_classes() if _local_cores(master) else None

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime Bloom-filter join pre-filtering (round 12, guide §3.2):
        # Spark's injection defaults (creation ≤10 MB, application scan
        # ≥10 GB) are sized for clusters and never fire in the regimes
        # this engine is measured in. Raised creation-side threshold per
        # the guide ("for bigger build sides raise creationSideThreshold")
        # with expectedNumItems matched to maxNumItems so the filter's
        # FPR stays sane at the new ceiling; application threshold low
        # enough that the data-bound study regime (≥512 MB fact scans)
        # benefits. Measured at sf10 (60M-row lineitem): q5's fact-fact
        # join drops 15.7 s → 5.0 s median (alternating A/B) because the
        # probe side sheds ~85% of its rows BEFORE the exchange; no
        # effect at sf0.01/sf0.1 (scans below the application threshold),
        # so oracle plans and the frozen headline bench are untouched.
        # Semantics are unchanged wherever it fires (no false negatives).
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            os.environ.get("SPARK_GRAFT_BLOOM_CREATION", "128MB"),
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            os.environ.get("SPARK_GRAFT_BLOOM_APPLICATION", "512MB"),
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems",
            os.environ.get("SPARK_GRAFT_BLOOM_ITEMS", "4000000"),
        )
        # custom Python data sources (sources/pyds.py) implement
        # pushFilters — the capability is opt-in in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # generous driver memory for local[32] testing; on a real cluster
        # these come from spark-submit / cluster conf instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )

    if ansi is not None:
        # The reference runs ANSI-off (financial_dl_etl.py:13); Spark 4
        # defaults ANSI-on, which matches the DuckDB oracle's strictness.
        builder = builder.config("spark.sql.ansi.enabled", str(ansi).lower())

    if warehouse:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)

    if hive:
        # Hive-metastore-backed catalog (the reference's
        # ``enableHiveSupport()`` + ``fin_invest`` DB,
        # financial_dl_bronze.py:45,8) using the local Derby metastore the
        # PySpark distribution ships. The metastore DB is pinned inside
        # ``warehouse`` so sessions are hermetic (Derby otherwise writes
        # ``metastore_db/`` to the process CWD). One Hive session per JVM:
        # the metastore client binds at first use, so tests exercise this
        # in a subprocess (tests/test_hive_catalog.py).
        builder = builder.enableHiveSupport()
        if warehouse:
            builder = builder.config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={warehouse}/metastore_db;create=true",
            )

    if delta and _importable("delta"):
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )

    if iceberg and warehouse:
        builder = builder.config(
            "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
        ).config("spark.sql.catalog.local.type", "hadoop").config(
            "spark.sql.catalog.local.warehouse", warehouse
        )

    for k, v in s3a_conf(
        endpoint=s3_endpoint,
        access_key=s3_access_key,
        secret_key=s3_secret_key,
        path_style=s3_path_style,
        ssl=s3_ssl,
    ).items():
        builder = builder.config(k, v)

    io_conf = local_io_conf(master, local_fs, extra_conf)
    for k, v in {**(extra_conf or {}), **io_conf}.items():
        builder = builder.config(k, v)

    return builder.getOrCreate()


def local_io_conf(
    master: str,
    classes_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Local-filesystem I/O conf for ``local`` masters (module docstring,
    "Local lake I/O"); ``{}`` for any other master.

    - The partition-listing job runs one task per local core: N for
      ``local[N]`` / ``local[N,F]``, the CPU count for ``local[*]``, 1 for
      ``local``. Listing more than 32 paths stays a distributed job.
    - When ``classes_dir`` holds the compiled ``SpawnFreeLocalFileSystem``,
      it is registered as ``fs.file.impl`` and ``classes_dir`` is appended
      to the driver class path.

    Keys the caller sets in ``extra_conf`` are left to the caller, except
    ``spark.driver.extraClassPath``, which is returned with ``classes_dir``
    appended. Pure function: unit-testable without a JVM."""
    cores = _local_cores(master)
    if cores is None:
        return {}
    extra = extra_conf or {}
    conf = {"spark.sql.sources.parallelPartitionDiscovery.parallelism": str(cores)}
    if classes_dir and os.path.isfile(os.path.join(classes_dir, _LOCAL_FS_CLASS_FILE)):
        conf["spark.hadoop.fs.file.impl"] = LOCAL_FS_CLASS
        conf[_CLASSPATH] = os.pathsep.join(filter(None, [extra.get(_CLASSPATH), classes_dir]))
    return {k: v for k, v in conf.items() if k == _CLASSPATH or k not in extra}


def _local_cores(master: str) -> int | None:
    """Task slots of a ``local`` master, None for any other master."""
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if m is None:
        return None
    if m.group(1) == "*":
        return os.cpu_count() or 1
    return int(m.group(1) or 1)


def _loadable_local_fs_classes() -> str | None:
    """The compiled class directory if the session's JVM can load the
    class: a JVM this call launches gets the directory on its class path;
    one already running must have had it there from its start."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is not None:
        try:
            loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
            jvm.java.lang.Class.forName(LOCAL_FS_CLASS, False, loader)
        except Py4JError:  # ClassNotFoundException, or the gateway is gone
            return None
    return _local_fs_classes()


@functools.lru_cache(maxsize=None)
def _local_fs_classes() -> str | None:
    """Compile ``SpawnFreeLocalFileSystem`` once per content hash into a
    cache directory and return that directory; None (logged once) when
    there is no ``javac`` or it fails. The classes are built in a temp
    directory and moved into place whole with ``os.replace``, so a
    concurrent process never sees a half-written directory."""
    import pyspark

    javac = shutil.which("javac")
    jars = sorted(glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not jars:
        _log.warning("no javac or hadoop-client-api jar: local lake I/O uses "
                     "Hadoop's stock LocalFileSystem (one chmod process per file)")
        return None
    with open(_LOCAL_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(jars[-1]).encode()).hexdigest()
    cache_home = (os.environ.get("XDG_CACHE_HOME")
                  or os.path.join(os.path.expanduser("~"), ".cache"))
    for root in (cache_home, tempfile.gettempdir()):
        parent = os.path.join(root, "deg04-lake-spark")
        out = os.path.join(parent, "localfs-" + key[:16])
        if os.path.isfile(os.path.join(out, _LOCAL_FS_CLASS_FILE)):
            return out
        try:
            os.makedirs(parent, exist_ok=True)
            tmp = tempfile.mkdtemp(prefix=".build-", dir=parent)
        except OSError:
            continue  # not writable: next root
        try:
            proc = subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", jars[-1], "-d", tmp,
                 _LOCAL_FS_SOURCE],
                capture_output=True, text=True, timeout=300,
            )
            error = proc.stderr.strip()[-1000:] if proc.returncode else None
        except (OSError, subprocess.TimeoutExpired) as exc:
            error = repr(exc)
        if error is not None:
            shutil.rmtree(tmp, ignore_errors=True)
            _log.warning("javac failed, local lake I/O uses Hadoop's stock "
                         "LocalFileSystem: %s", error)
            return None
        try:
            os.replace(tmp, out)
        except OSError:  # a concurrent process moved its copy in first
            shutil.rmtree(tmp, ignore_errors=True)
        return out
    return None


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """``spark.hadoop.fs.s3a.*`` conf for an S3-compatible object store —
    one key per ``hadoopConfiguration().set`` line in the reference's
    ``configure_s3`` (``spark_session_factory.py:44-51,74-81``): impl,
    endpoint, credentials, path-style access (MinIO-style stores route
    by path, not virtual host), SSL toggle. Empty dict when no S3
    parameter is supplied, so plain local sessions carry no S3 noise.
    Pure function: unit-testable without a JVM."""
    if not (endpoint or access_key or secret_key):
        return {}
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def _importable(mod: str) -> bool:
    try:
        __import__(mod)
        return True
    except Exception:
        return False
