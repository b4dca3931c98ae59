"""The local FileSystem the engine's ``local[...]`` JVMs load
(``eventbridge_etl_spark/jvm/LocalFileSystem.java``).

- **Parity with stock** ``file://`` (hive-exec's ``ProxyLocalFileSystem``
  for ``FileSystem``, ``LocalFs`` for ``FileContext``) on the live
  session: mode bits under two umasks, ``.crc`` siblings, checksum
  verification on read, rename onto an existing file, link status.
- **No forks:** an upsert and a streaming micro-batch run no ``chmod``
  or ``readlink`` process, and the same script on the stock classes runs
  more than 100 (so the guard can fail).
- **No drift:** the committed jar holds exactly the classes its source
  compiles to.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import re
import shutil
import stat
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from eventbridge_etl_spark.session import LOCAL_FS_CONF

REPO = Path(__file__).resolve().parent.parent

#: the classes ``file://`` resolves to without the engine's jar
STOCK = {
    "fs.file.impl": "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}
OURS = {k.removeprefix("spark.hadoop."): v for k, v in LOCAL_FS_CONF.items()}


@contextlib.contextmanager
def _runtime_conf(spark, conf):
    """Set session confs for the block; they reach every query's Hadoop conf."""
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in conf:
            spark.conf.unset(k)


def _modes(root):
    """``{relative path: (is dir, mode bits)}`` under ``root``, itself included;
    part-file names are normalized so two writes compare equal."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        for name in ["", *dirs, *files]:
            path = os.path.join(dirpath, name)
            rel = re.sub(r"part-\d+-[0-9a-f-]+", "part-N", os.path.relpath(path, root))
            st = os.stat(path)
            out[rel] = (stat.S_ISDIR(st.st_mode), stat.S_IMODE(st.st_mode))
    return out


def _write(spark, tmp_path, tag):
    """A partitioned parquet write and a streaming checkpoint under ``tmp_path/tag``."""
    table = str(tmp_path / tag / "table")
    spark.range(8).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(table)
    landing = tmp_path / tag / "landing"
    landing.mkdir()
    (landing / "a.csv").write_text("id,v\n1,x\n")
    ckpt = str(tmp_path / tag / "ckpt")
    q = (
        spark.readStream.schema("id string, v string").option("header", "true")
        .csv(str(landing)).writeStream.format("noop")
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return _modes(table), _modes(ckpt)


def test_live_session_uses_the_jar(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    assert jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName() == (
        OURS["fs.file.impl"]
    )
    afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf).getDefaultFileSystem()
    assert afs.getClass().getName() == OURS["fs.AbstractFileSystem.file.impl"]


@pytest.mark.parametrize(
    ("umask", "file_mode", "dir_mode"), [(None, 0o644, 0o755), ("077", 0o600, 0o700)]
)
def test_modes_and_checksums_match_stock(spark, tmp_path, umask, file_mode, dir_mode):
    base = {"fs.file.impl.disable.cache": "true"}  # each write reads its own umask
    if umask:
        base["fs.permissions.umask-mode"] = umask
    with _runtime_conf(spark, {**base, **STOCK}):
        stock = _write(spark, tmp_path, "stock")
    with _runtime_conf(spark, {**base, **OURS}):
        ours = _write(spark, tmp_path, "ours")
    assert ours == stock
    table, ckpt = ours
    for tree in (table, ckpt):
        assert {m for d, m in tree.values() if d} == {dir_mode}
        assert {m for d, m in tree.values() if not d} == {file_mode}
    parts = [p for p in table if p.endswith(".parquet")]
    assert len(parts) >= 2
    for part in parts:
        head, name = os.path.split(part)
        assert os.path.join(head, f".{name}.crc") in table
    for log in ("metadata", "offsets/0", "commits/0"):
        head, name = os.path.split(log)
        assert os.path.join(head, f".{name}.crc") in ckpt


def test_flipped_byte_fails_the_checksum_on_read(spark, tmp_path):
    table = str(tmp_path / "t")
    spark.range(2000).withColumn("s", F.concat(F.lit("row"), F.col("id"))) \
        .coalesce(1).write.parquet(table)
    (part,) = Path(table).glob("part-*.parquet")
    assert (part.parent / f".{part.name}.crc").exists()
    data = bytearray(part.read_bytes())
    data[len(data) // 2] ^= 0xFF
    part.write_bytes(bytes(data))
    with pytest.raises(Py4JJavaError, match="ChecksumException"):
        spark.read.parquet(table).collect()


def _fs(spark, impl):
    jvm = spark._jvm
    fs = getattr(jvm, impl)()
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    return fs


def test_rename_onto_an_existing_file_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    for impl in (STOCK["fs.file.impl"], OURS["fs.file.impl"]):
        fs = _fs(spark, impl)
        d = tmp_path / impl
        d.mkdir()
        (d / "src").write_text("src")
        (d / "dst").write_text("dst")
        assert fs.rename(jvm.org.apache.hadoop.fs.Path(str(d / "src")),
                         jvm.org.apache.hadoop.fs.Path(str(d / "dst"))) is False
        assert (d / "src").read_text() == "src" and (d / "dst").read_text() == "dst"
        # onto a missing path the rename goes through
        assert fs.rename(jvm.org.apache.hadoop.fs.Path(str(d / "src")),
                         jvm.org.apache.hadoop.fs.Path(str(d / "new"))) is True
        assert (d / "new").read_text() == "src"


def test_link_status_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    (tmp_path / "file").write_text("x")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    stock = _fs(spark, "org.apache.hadoop.fs.RawLocalFileSystem")
    ours = _fs(spark, OURS["fs.file.impl"]).getRawFileSystem()
    assert ours.getClass().getName().endswith("$Raw")

    def status(fs, path):
        try:
            return fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path)).toString()
        except Py4JJavaError as exc:
            return exc.java_exception.getClass().getName()

    for name in ("file", "dir", "link", "missing"):
        for path in (str(tmp_path / name), f"file:{tmp_path / name}"):
            assert status(ours, path) == status(stock, path), path
    assert "isSymlink=true" in status(ours, str(tmp_path / "link"))
    assert status(ours, str(tmp_path / "missing")) == "java.io.FileNotFoundException"


#: Runs one upsert touching more than 32 of 64 buckets and one streaming
#: micro-batch; prints how many lines the shims logged after session start.
CHILD = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, {repo!r})
    from eventbridge_etl_spark.operators.etl import ADDRESS_RENAMES
    from eventbridge_etl_spark.operators.upsert import KeyedParquetStore
    from eventbridge_etl_spark.session import get_spark
    from eventbridge_etl_spark.streaming.file_pipeline import start_csv_upsert_stream

    work, extra = sys.argv[1], json.loads(sys.argv[2])
    extra.update({{"spark.ui.enabled": "false", "spark.driver.memory": "1g"}})
    spark = get_spark("fork-guard", master="local[2]", shuffle_partitions=2,
                      extra_conf=extra)
    log = os.environ["FORK_LOG"]
    open(log, "w").close()
    schema = "id string, town string, zip long"
    store = KeyedParquetStore(f"{{work}}/store", ["id"], n_buckets=64)
    store.upsert(spark.createDataFrame([(str(i), "t", i) for i in range(2000)], schema))
    batch = spark.createDataFrame([(str(i), "u", -i) for i in range(1900, 2100)], schema)
    assert store._bucket(batch).select("_kb").distinct().count() > 32
    store.upsert(batch)
    os.makedirs(f"{{work}}/landing")
    with open(f"{{work}}/landing/a.csv", "w") as fh:
        fh.write("ID,HouseNum,Street,Town,Zip\\n1,12,Main Street,Antrim,22876\\n")
    q = start_csv_upsert_stream(
        spark, f"{{work}}/landing", f"{{work}}/ckpt",
        KeyedParquetStore(f"{{work}}/s2", ["id"], n_buckets=8),
        "ID string, HouseNum string, Street string, Town string, Zip string",
        ADDRESS_RENAMES)
    q.awaitTermination(120)
    assert q.lastProgress["numInputRows"] == 1
    spark.stop()
    print("FORKS", sum(1 for _ in open(log)))
""")


def _forks(tmp_path, extra):
    """Shim calls logged while the child script runs with ``extra`` conf."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir(parents=True)
    for cmd in ("chmod", "readlink"):
        shim = bin_dir / cmd
        shim.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "$FORK_LOG"\nexec {shutil.which(cmd)} "$@"\n')
        shim.chmod(0o755)
    script = tmp_path / "child.py"
    script.write_text(CHILD.format(repo=str(REPO)))
    (tmp_path / "work").mkdir()
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               FORK_LOG=str(tmp_path / "forks.log"))
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "work"), json.dumps(extra)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return int(re.search(r"^FORKS (\d+)$", proc.stdout, re.M).group(1))


def test_upsert_and_micro_batch_fork_no_process(tmp_path):
    assert _forks(tmp_path / "ours", {}) == 0
    stock = {f"spark.hadoop.{k}": v for k, v in STOCK.items()}
    assert _forks(tmp_path / "stock", stock) > 100


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")
def test_committed_jar_matches_its_source(capsys):
    sys.path.insert(0, str(REPO / "scripts"))
    verify = importlib.import_module("verify")
    assert verify.main(["jar", "--check"]) == 0, capsys.readouterr().out
