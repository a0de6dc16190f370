"""The in-process-permission local file system (``session.FS_SHIM_CLASS``):
``get_spark`` sessions use it for ``file:`` paths, it leaves the same modes
and checksums as Hadoop's stock ``LocalFileSystem``, and ``fs_shim_conf``
fails open."""

from __future__ import annotations

import os
import shutil
import stat
import zipfile
from functools import reduce

import pytest
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake
from aws_saas_factory_multi_tenant_data_pipeline_spark.session import (
    FS_SHIM_CLASS,
    FS_SHIM_JAR,
    fs_shim_conf,
)


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _fs(spark, cls: str, conf=None):
    """A fresh, uncached ``cls`` file system for ``file:///``."""
    fs = reduce(getattr, cls.split("."), spark._jvm)()
    fs.initialize(spark._jvm.java.net.URI("file:///"), conf or spark._jsc.hadoopConfiguration())
    return fs


def _lake(spark, root: str) -> None:
    df = spark.range(64).select(
        F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias("TenantId"),
        F.col("id").alias("timestamp"),
        F.lit("e").alias("event"),
        F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias("tenant"),
        F.lit("2024").alias("year"),
        F.lit("01").alias("month"),
        (F.col("id") % 2).cast("string").alias("day"),
        F.lit("00").alias("hour"),
    )
    write_lake(df, root)


def test_file_scheme_resolves_to_the_shim(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == FS_SHIM_CLASS


def test_lake_modes_equal_stock_local_fs(spark, tmp_path):
    root = str(tmp_path / "lake")
    _lake(spark, root)
    jvm = spark._jvm
    stock = _fs(spark, "org.apache.hadoop.fs.LocalFileSystem")
    ref_dir = str(tmp_path / "ref" / "a" / "b")
    ref_file = os.path.join(ref_dir, "f")
    stock.mkdirs(jvm.org.apache.hadoop.fs.Path(ref_dir))
    stock.create(jvm.org.apache.hadoop.fs.Path(ref_file), True).close()
    dir_modes, file_modes, crcs = set(), set(), 0
    for d, _, files in os.walk(root):
        dir_modes.add(_mode(d))
        for f in files:
            file_modes.add(_mode(os.path.join(d, f)))
            crcs += f.endswith(".crc")
    assert dir_modes == {_mode(ref_dir), _mode(os.path.dirname(ref_dir))}
    assert file_modes == {_mode(ref_file), _mode(os.path.join(ref_dir, ".f.crc"))}
    assert crcs > 0


def test_same_modes_as_stock_under_a_narrow_umask(spark, tmp_path):
    # 027 differs from any usual process umask, so a shim that set no
    # mode at all would leave group/other bits the stock chmod clears
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", "027")
    modes = {}
    for cls in ("org.apache.hadoop.fs.LocalFileSystem", FS_SHIM_CLASS):
        fs = _fs(spark, cls, conf)
        base = str(tmp_path / cls)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(base + "/a/b"))
        fs.create(jvm.org.apache.hadoop.fs.Path(base + "/a/b/f"), True).close()
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(base + "/a"),
            jvm.org.apache.hadoop.fs.permission.FsPermission("700"),
        )
        modes[cls] = sorted(
            (os.path.relpath(os.path.join(d, n), base), _mode(os.path.join(d, n)))
            for d, ds, fs_ in os.walk(base)
            for n in ds + fs_
        )
    assert modes[FS_SHIM_CLASS] == modes["org.apache.hadoop.fs.LocalFileSystem"]
    assert ("a/b", 0o750) in modes[FS_SHIM_CLASS]
    assert ("a/b/f", 0o640) in modes[FS_SHIM_CLASS]


def test_flipped_byte_fails_the_checksum(spark, tmp_path):
    root = str(tmp_path / "lake")
    _lake(spark, root)
    part = next(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )
    assert os.path.exists(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))
    with open(part, "r+b") as fh:
        fh.seek(os.path.getsize(part) // 2)
        b = fh.read(1)
        fh.seek(-1, os.SEEK_CUR)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(os.path.dirname(part)).collect()


def test_sticky_and_set_id_bits_take_the_stock_path(spark, tmp_path):
    jvm = spark._jvm
    fs = _fs(spark, FS_SHIM_CLASS)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    sticky = str(tmp_path / "sticky")
    os.mkdir(sticky)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(sticky), perm("1755"))
    # java.nio cannot set the sticky bit: only the forked chmod sets it
    assert stat.S_IMODE(os.stat(sticky).st_mode) == 0o1755
    setgid = str(tmp_path / "setgid")
    os.mkdir(setgid)
    os.chmod(setgid, 0o2775)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(setgid), perm("755"))
    # a numeric chmod keeps a directory's set-group-ID bit
    assert stat.S_IMODE(os.stat(setgid).st_mode) == 0o2755


def test_shim_conf_fails_open(tmp_path):
    conf = fs_shim_conf(FS_SHIM_JAR, {}, context_active=False)
    assert conf == {
        "spark.driver.extraClassPath": FS_SHIM_JAR,
        "spark.hadoop.fs.file.impl": FS_SHIM_CLASS,
    }
    assert fs_shim_conf(str(tmp_path / "absent.jar"), {}, context_active=False) == {}
    assert fs_shim_conf(FS_SHIM_JAR, {}, context_active=True) == {}
    assert fs_shim_conf(FS_SHIM_JAR, {}, context_active=False, class_loadable=False) == {}
    own_fs = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert fs_shim_conf(FS_SHIM_JAR, own_fs, context_active=False) == {}
    caller_cp = {"spark.driver.extraClassPath": "/opt/a.jar"}
    conf = fs_shim_conf(FS_SHIM_JAR, caller_cp, context_active=False)
    assert conf["spark.driver.extraClassPath"] == FS_SHIM_JAR + os.pathsep + "/opt/a.jar"


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")
def test_committed_jar_rebuilds_from_source(tmp_path):
    from tools.build_jvm import build

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist()}

    assert classes(build(str(tmp_path / "rebuilt.jar"))) == classes(FS_SHIM_JAR)
