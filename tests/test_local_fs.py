"""The engine's ``file:`` filesystem (``jvm/ForkFreeLocalFileSystem.java``).

``session.get_spark`` installs it so that creating a local file, ``.crc`` or
dir sets its mode in-process instead of starting a ``chmod`` process. The
guard below rebuilds the jar with ``scripts/make_jar.sh`` and compares its
class bytes with the committed jar's, so the committed jar cannot lag its
source; it skips only where no ``javac`` is installed. The other tests pin
that the swap changes no mode and drops no checksum file.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import stat
import subprocess
import zipfile

import pyarrow as pa
import pytest

from cpp_paddle_ocr_spark.lineage import _write_lineage_file
from cpp_paddle_ocr_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _classes(jar: pathlib.Path) -> dict[str, bytes]:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac to rebuild the jar")
def test_local_fs_jar_rebuild_matches_source(tmp_path):
    fresh = tmp_path / "fresh.jar"
    subprocess.run(
        ["sh", str(ROOT / "scripts" / "make_jar.sh"), str(fresh)],
        check=True,
        capture_output=True,
    )
    assert _classes(fresh), "make_jar.sh built no classes"
    assert _classes(LOCAL_FS_JAR) == _classes(fresh), (
        f"{LOCAL_FS_JAR.name} is stale: rerun scripts/make_jar.sh"
    )


def _local_fs(spark):
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)


def test_session_file_scheme_is_fork_free(spark):
    assert _local_fs(spark).getClass().getName() == LOCAL_FS_CLASS


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@pytest.mark.parametrize("mode", [0o600, 0o640, 0o644, 0o700, 0o755], ids=oct)
def test_set_permission_sets_exact_bits(spark, tmp_path, mode):
    fs = _local_fs(spark)
    jvm = spark._jvm
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_bytes(b"x")
    d.mkdir()
    for p in (f, d):
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(p)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(mode),
        )
        assert _mode(p) == mode, f"{p.name}: {oct(_mode(p))} != {oct(mode)}"


def test_set_permission_keeps_sticky_bit(spark, tmp_path):
    jvm = spark._jvm
    d = tmp_path / "sticky"
    d.mkdir()
    _local_fs(spark).setPermission(
        jvm.org.apache.hadoop.fs.Path(str(d)),
        jvm.org.apache.hadoop.fs.permission.FsPermission(0o1777),
    )
    assert _mode(d) == 0o1777


def _assert_stock_layout(root: pathlib.Path) -> int:
    """Every data file 0644 with a 0644 ``.crc`` beside it, every dir
    0755; returns the number of data files."""
    n_data = 0
    for dirpath, dirs, files in os.walk(root):
        for name in dirs:
            assert _mode(pathlib.Path(dirpath, name)) == 0o755, name
        for name in files:
            path = pathlib.Path(dirpath, name)
            assert _mode(path) == 0o644, path
            if name.endswith(".crc") or name == "_SUCCESS":
                continue
            n_data += 1
            crc = pathlib.Path(dirpath, f".{name}.crc")
            assert crc.is_file(), f"no .crc for {path}"
    return n_data


def test_partitioned_write_keeps_modes_and_checksums(spark, tmp_path):
    out = tmp_path / "parts"
    df = spark.range(0, 40, numPartitions=2).selectExpr("id", "id % 4 AS bucket")
    df.write.partitionBy("bucket").parquet(str(out))
    assert sorted(p.name for p in out.iterdir() if p.is_dir()) == [
        f"bucket={b}" for b in range(4)
    ]
    assert _assert_stock_layout(out) >= 4
    assert spark.read.parquet(str(out)).count() == 40


def test_lineage_file_keeps_modes_and_checksums(spark, tmp_path):
    target = tmp_path / "out" / "_lineage"
    _write_lineage_file(spark, str(target), pa.table({"bucket": [0, 1]}))
    assert _assert_stock_layout(tmp_path / "out") == 1
    assert spark.read.parquet(str(target)).count() == 2
