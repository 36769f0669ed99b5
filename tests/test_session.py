"""Session-factory wiring.

S3A (SURVEY §2 S8): the reference's ``configure_s3`` surface
(spark_session_factory.py:44-51,74-81) must be reproducible through
``get_spark_session`` kwargs — asserted on the pure conf builder, no JVM
required.

Local lake I/O (``session`` module docstring): the conf builder is
asserted without a JVM; the spawn-free local filesystem is checked
against stock Hadoop for file set, mode bits and rows, and a session
built on a JVM that cannot load it must fall back to stock Hadoop."""

from __future__ import annotations

import logging
import os
import stat
import subprocess
import sys

import pytest

from deg04_local_data_lake_spark import session
from deg04_local_data_lake_spark.session import local_io_conf, s3a_conf

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
_IMPL = "spark.hadoop.fs.file.impl"
_CP = "spark.driver.extraClassPath"


def test_s3a_conf_mirrors_reference_configure_s3():
    conf = s3a_conf(
        endpoint="http://minio:9000",
        access_key="minioadmin",
        secret_key="miniosecret",
    )
    # one assertion per hadoopConfiguration().set line in the reference
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "minioadmin"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "miniosecret"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"
    assert (
        conf["spark.hadoop.fs.s3a.impl"]
        == "org.apache.hadoop.fs.s3a.S3AFileSystem"
    )


def test_s3a_conf_ssl_and_virtual_host_toggles():
    conf = s3a_conf(
        endpoint="https://s3.us-east-1.amazonaws.com",
        path_style=False,
        ssl=True,
    )
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "false"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"
    # no credentials supplied: provider-chain auth, no key entries
    assert "spark.hadoop.fs.s3a.access.key" not in conf
    assert "spark.hadoop.fs.s3a.secret.key" not in conf


def test_s3a_conf_empty_without_s3_params():
    assert s3a_conf() == {}


@pytest.fixture
def fake_classes(tmp_path):
    """A directory laid out like the compiled class cache."""
    cls = tmp_path.joinpath(*session.LOCAL_FS_CLASS.split("."))
    cls.parent.mkdir(parents=True)
    cls.with_suffix(".class").write_bytes(b"\xca\xfe\xba\xbe")
    return str(tmp_path)


def test_local_io_conf_empty_for_cluster_masters(fake_classes):
    for master in ("spark://host:7077", "yarn", "k8s://https://k:443",
                   "local-cluster[2,1,1024]"):
        assert local_io_conf(master, fake_classes) == {}


def test_local_io_conf_listing_parallelism_is_core_count():
    assert local_io_conf("local[4]")[_PARALLELISM] == "4"
    assert local_io_conf("local[3,2]")[_PARALLELISM] == "3"
    assert local_io_conf("local[*]")[_PARALLELISM] == str(os.cpu_count())
    assert local_io_conf("local[*,4]")[_PARALLELISM] == str(os.cpu_count())
    assert local_io_conf("local")[_PARALLELISM] == "1"


def test_local_io_conf_registers_fs_only_when_classes_exist(tmp_path, fake_classes):
    (tmp_path / "empty").mkdir()
    for missing in (None, str(tmp_path / "absent"), str(tmp_path / "empty")):
        conf = local_io_conf("local[2]", missing)
        assert _IMPL not in conf and _CP not in conf
    conf = local_io_conf("local[2]", fake_classes)
    assert conf[_IMPL] == session.LOCAL_FS_CLASS
    assert conf[_CP] == fake_classes


def test_local_io_conf_appends_to_caller_classpath(fake_classes):
    jars = os.pathsep.join(["jars/delta-spark.jar", "jars/delta-storage.jar"])
    conf = local_io_conf("local[2]", fake_classes, {_CP: jars, _PARALLELISM: "7"})
    assert conf[_CP] == jars + os.pathsep + fake_classes
    # other keys the caller set are the caller's
    assert _PARALLELISM not in conf


def test_no_javac_falls_back_to_stock_and_logs_once(monkeypatch, caplog):
    monkeypatch.setattr(session.shutil, "which", lambda _: None)
    session._local_fs_classes.cache_clear()
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            assert session._local_fs_classes() is None
            assert session._local_fs_classes() is None
        assert len([r for r in caplog.records if "javac" in r.getMessage()]) == 1
    finally:
        session._local_fs_classes.cache_clear()
    assert _IMPL not in local_io_conf("local[2]", None)


def test_compile_cache_falls_back_to_tempdir(monkeypatch, tmp_path):
    """An unwritable cache home moves the compiled classes to the temp
    directory; the directory appears whole, with no build leftovers."""
    if session.shutil.which("javac") is None:
        pytest.skip("no javac")
    blocked = tmp_path / "blocked"
    blocked.write_text("a file, so no cache directory can be made under it")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocked))
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    session._local_fs_classes.cache_clear()
    try:
        out = session._local_fs_classes()
    finally:
        session._local_fs_classes.cache_clear()
    assert out is not None and out.startswith(str(tmp_path / "tmp"))
    assert _IMPL in local_io_conf("local[2]", out)
    # only the hash-keyed directory: no build directory is left behind
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]


def test_concurrent_compiles_agree(tmp_path):
    """Processes compiling into one empty cache at once all get the same,
    complete class directory, and no build directory is left behind."""
    if session.shutil.which("javac") is None:
        pytest.skip("no javac")
    code = ("import sys; sys.path.insert(0, {repo!r}); "
            "from deg04_local_data_lake_spark import session; "
            "print(session._local_fs_classes())").format(repo=_REPO)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path))
    procs = [subprocess.Popen([sys.executable, "-c", code], env=env, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.PIPE)
             for _ in range(3)]
    outs = [p.communicate(timeout=300) for p in procs]
    assert all(p.returncode == 0 for p in procs), [err[-2000:] for _, err in outs]
    dirs = {out.strip() for out, _ in outs}
    assert len(dirs) == 1, dirs
    (out,) = dirs
    assert _IMPL in local_io_conf("local[2]", out)
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]


def _tree(root: str) -> dict[str, int]:
    """relative path → permission bits of every file and directory."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, root)] = stat.S_IMODE(os.stat(path).st_mode)
    return out


def _shape(tree: dict[str, int]) -> list[tuple[str, int]]:
    """The tree with task-specific file names masked to their role."""
    def role(rel: str) -> str:
        head, name = os.path.split(rel)
        if "part-" in name:
            name = (".part.crc" if name.endswith(".crc") else "part")
        return os.path.join(head, name)
    return sorted((role(rel), mode) for rel, mode in tree.items())


def test_spawn_free_fs_writes_what_stock_hadoop_writes(spark, tmp_path):
    from deg04_local_data_lake_spark.sources.writers import write_lake_table

    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    file_fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    if file_fs.getRawFileSystem().getClass().getName() != session.LOCAL_FS_CLASS + "$Raw":
        pytest.skip("spawn-free local filesystem not registered (no javac?)")
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(hconf).toShort()

    df = spark.range(0, 400).selectExpr(
        "id", "CAST(id * 3 AS DOUBLE) AS v", "CAST(id % 5 AS INT) AS day"
    ).repartition(3, "day")
    ours = str(tmp_path / "ours")
    write_lake_table(df, ours, partition_by=["day"])

    # the same write through stock Hadoop: session conf entries reach the
    # write job's Hadoop conf as they are; the cache is bypassed so the
    # file:// filesystem is built afresh from them
    spark.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try:
        stock_conf = spark._jsparkSession.sessionState().newHadoopConf()
        stock_fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), stock_conf)
        assert stock_fs.getRawFileSystem().getClass().getName() == \
            "org.apache.hadoop.fs.RawLocalFileSystem"
        stock = str(tmp_path / "stock")
        write_lake_table(df, stock, partition_by=["day"])
    finally:
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")

    tree = _tree(ours)
    assert _shape(tree) == _shape(_tree(stock))
    names = {os.path.basename(rel) for rel in tree}
    assert {"_SUCCESS", "._SUCCESS.crc"} <= names
    data = [rel for rel in tree if os.path.basename(rel).startswith("part-")]
    assert data and all(
        os.path.join(os.path.dirname(rel), "." + os.path.basename(rel) + ".crc") in tree
        for rel in data
    )
    for rel, mode in tree.items():
        is_dir = os.path.isdir(os.path.join(ours, rel))
        assert mode == (0o777 if is_dir else 0o666) & ~umask, (rel, oct(mode))

    # read back through the spawn-free filesystem, .crc verified on read
    assert sorted(spark.read.parquet(ours).collect()) == sorted(df.collect())
    assert sorted(spark.read.parquet(ours).collect()) == \
        sorted(spark.read.parquet(stock).collect())


def test_spawn_free_set_permission_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    raw = fs.getRawFileSystem()
    if raw.getClass().getName() != session.LOCAL_FS_CLASS + "$Raw":
        pytest.skip("spawn-free local filesystem not registered (no javac?)")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), hconf)
    Perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    for mode, is_dir in ((0o1777, True), (0o751, True), (0o640, False), (0o421, False),
                         (0o000, False)):
        got = {}
        for name, fs_ in (("stock", stock), ("ours", raw)):
            path = tmp_path / f"{name}-{mode:o}"
            path.mkdir() if is_dir else path.write_bytes(b"x")
            fs_.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)), Perm(mode))
            got[name] = stat.S_IMODE(os.stat(path).st_mode)
            os.chmod(path, 0o700)  # let tmp_path clean up
        assert got["ours"] == got["stock"] == mode, (oct(mode), got)


_PLAIN_JVM_CHILD = """
import shutil, sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
plain = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
plain.sparkContext.setLogLevel("ERROR")
plain.stop()  # the JVM keeps running, without the compiled classes on its class path

from deg04_local_data_lake_spark.session import get_spark_session
spark = get_spark_session(app_name="plain-jvm", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
assert spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl", "") == "", "registered"
assert spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism") == "2"
work = tempfile.mkdtemp(prefix="deg04-plain-jvm-")
spark.range(0, 50).selectExpr("id", "id % 4 AS d").write.partitionBy("d").parquet(work + "/t")
assert spark.read.parquet(work + "/t").count() == 50
shutil.rmtree(work)
print("PLAIN-JVM-OK")
spark.stop()
"""


def test_running_jvm_without_classes_keeps_stock_fs():
    """A JVM started before the factory cannot load the subclass:
    registering it would fail every file read with ClassNotFoundException."""
    proc = subprocess.run(
        [sys.executable, "-c", _PLAIN_JVM_CHILD.format(repo=_REPO)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "PLAIN-JVM-OK" in proc.stdout, proc.stdout[-2000:]
