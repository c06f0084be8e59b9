"""The engine session's local filesystem: ``file://`` resolves to Hadoop's
checksummed local filesystem with permissions set inside the JVM, so
writes keep their modes and ``.crc`` sidecars and fork no ``chmod``."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from tsforge_spark import session
from tsforge_spark.session import LOCAL_FS_CONFS, local_fs_jar

needs_jar = pytest.mark.skipif(
    local_fs_jar() is None, reason="no javac: sessions keep the stock local filesystem"
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIMMED = ("chmod", "ls", "stat", "chown")


@needs_jar
def test_engine_session_resolves_file_scheme_to_nofork_fs(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fs.getClass().getName() == LOCAL_FS_CONFS["spark.hadoop.fs.file.impl"]
    assert (
        fc.getDefaultFileSystem().getClass().getName()
        == LOCAL_FS_CONFS["spark.hadoop.fs.AbstractFileSystem.file.impl"]
    )


@needs_jar
@pytest.mark.parametrize(
    "parent_mode, dir_mode", [(0o755, 0o755), (0o2775, 0o2755)], ids=["plain", "setgid"]
)
def test_written_modes_match_stock_local_fs(spark, tmp_path, parent_mode, dir_mode):
    # Hadoop's default umask (022) sets 0644/0755 on every created file and
    # directory, whatever the process umask; stock chmod(1) keeps the
    # setgid bit that directories inherit from a setgid parent
    os.chmod(tmp_path, parent_mode)
    out = str(tmp_path / "t")
    spark.range(200).selectExpr("id", "id % 3 AS d").write.partitionBy("d").parquet(out)
    modes = {}
    for root, dirs, files in os.walk(out):
        for name in dirs + files:
            path = os.path.join(root, name)
            modes[os.path.relpath(path, out)] = os.stat(path).st_mode & 0o7777
    assert any(p.endswith(".crc") for p in modes)
    bad = {
        p: oct(m) for p, m in modes.items()
        if m != (dir_mode if os.path.isdir(os.path.join(out, p)) else 0o644)
    }
    assert bad == {}
    assert os.stat(out).st_mode & 0o7777 == dir_mode


@needs_jar
def test_flipped_byte_fails_checksum(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.range(500).coalesce(1).write.parquet(out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    assert os.path.exists(os.path.join(out, f".{os.path.basename(part)}.crc"))
    with open(part, "r+b") as f:  # a footer byte: every read opens the footer
        f.seek(-12, os.SEEK_END)
        b = f.read(1)
        f.seek(-12, os.SEEK_END)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(out).collect()


_WORKLOAD = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from tsforge_spark.fixtures import make_late_batch, make_transcripts, transcripts_to_spark
    from tsforge_spark.plans.pipeline import RollupPipeline
    from tsforge_spark.session import get_spark
    from tsforge_spark.sources.snapshots import SnapshotStore
    from tsforge_spark.streaming.stream import run_stream_to_parquet

    tmp, log = {tmp!r}, {log!r}
    spark = get_spark("tsforge-nofork", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    def shell_outs(what):
        lines = open(log).read().splitlines() if os.path.exists(log) else []
        print(what, len(lines), lines[:3], flush=True)
        return len(lines)

    base = make_transcripts(n_convs=20, seed=5, span_days=40)
    store = SnapshotStore(tmp + "/store")
    store.append(transcripts_to_spark(spark, base))
    pipe = RollupPipeline(spark, store, tmp + "/out", n_buckets=4)
    assert pipe.run()["status"] == "ok"
    store.append(transcripts_to_spark(spark, make_late_batch(base, seed=6)))
    assert pipe.run()["status"] == "ok"
    res = pipe.enforce_retention({{"1m": 20, "1h": 25}})
    assert res["reencoded"]["1h"], res  # a partial 1h month was re-encoded
    pipe.compact_turns()
    transcripts_to_spark(spark, base).repartition(4).write.parquet(tmp + "/stream_in")
    q = run_stream_to_parquet(
        spark, tmp + "/stream_in", tmp + "/stream", tmp + "/ckpt", tier="1h"
    )
    q.awaitTermination(300)
    assert spark.read.parquet(tmp + "/stream").count() > 0
    assert shell_outs("engine") == 0

    # control: Hadoop's stock raw local filesystem forks chmod, which the
    # shims must see
    jvm = spark._jvm
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    raw.setPermission(
        jvm.org.apache.hadoop.fs.Path(tmp + "/store"),
        jvm.org.apache.hadoop.fs.permission.FsPermission.createImmutable(0o755),
    )
    assert shell_outs("stock") == 1
    spark.stop()
    """
)


@needs_jar
def test_engine_writes_fork_no_shell_commands(tmp_path):
    """Snapshot append, first and incremental run, partial-month
    retention, ``compact_turns`` and a streaming drain (the ``FileContext``
    path of its checkpoint and sink) run in a fresh session with logging
    ``chmod``/``ls``/``stat``/``chown`` shims first on ``PATH``; none may
    be called."""
    shims = tmp_path / "shims"
    shims.mkdir()
    log = str(tmp_path / "shell_outs.log")
    for cmd in SHIMMED:
        real = shutil.which(cmd)
        assert real, cmd
        path = shims / cmd
        path.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {real} "$@"\n')
        path.chmod(0o755)
    env = {
        **os.environ,
        "PATH": f"{shims}{os.pathsep}{os.environ['PATH']}",
        "TSF_DRIVER_MEM": "1g",
    }
    script = _WORKLOAD.format(repo=REPO, tmp=str(tmp_path), log=log)
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert "engine 0 []" in proc.stdout


def test_no_javac_keeps_stock_fs_with_one_warning(tmp_path, monkeypatch, caplog):
    src = tmp_path / "NoForkLocalFileSystem.java"  # an empty jar cache
    shutil.copy(session.LOCAL_FS_SOURCE, src)
    monkeypatch.setattr(session, "LOCAL_FS_SOURCE", str(src))
    monkeypatch.setattr(shutil, "which", lambda cmd: None)
    local_fs_jar.cache_clear()
    try:
        with caplog.at_level("WARNING", logger=session.__name__):
            assert local_fs_jar() is None
            assert local_fs_jar() is None
    finally:
        local_fs_jar.cache_clear()
    (warning,) = [r.getMessage() for r in caplog.records]
    assert "no javac" in warning and "forks chmod" in warning
