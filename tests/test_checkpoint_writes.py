"""Streaming checkpoint writes and the state-store count.

``session.get_spark`` writes checkpoints through Spark's rename-based
``FileSystemBasedCheckpointFileManager`` and sizes shuffles (and so the
state stores of a stateful stream) at one partition per core. These
tests pin what that must keep: the no-overwrite rule of the offset log,
the checksum files, the setting on an external session, and a checkpoint
started under another partition count resuming with its own count.
"""

from __future__ import annotations

import os

import pytest

from nifi_minifi_cpp_spark import streaming as st
from nifi_minifi_cpp_spark.session import CHECKPOINT_FILE_MANAGER, configure

_SCHEMA = "correlation string, content string"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _file_manager(spark, path: str):
    """The manager Spark builds for ``path`` from the session's conf, as
    the offset log and the state stores do."""
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf)


def _land(spark, src_dir: str, name: str, rows: list[tuple[str, str]]) -> None:
    """Write one parquet file and move it into the watched directory in
    one rename, so the file stream never lists a half-written file."""
    staging = os.path.join(os.path.dirname(src_dir), f"stage-{name}")
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("overwrite").parquet(staging)
    (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    os.makedirs(src_dir, exist_ok=True)
    os.rename(os.path.join(staging, part), os.path.join(src_dir, f"{name}.parquet"))


def _run_bins(spark, src_dir: str, ckpt: str, out_dir: str) -> dict:
    """Run the MergeContent bin packer over everything in ``src_dir`` into
    an exactly-once parquet sink; return the last batch's progress."""
    stream = st.file_stream(spark, src_dir, _SCHEMA, "parquet")
    merged = st.merge_content_bin_packing_stream(stream, max_entries=4, max_bin_age_ms=None)
    q = (
        merged.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert progress, "no batch read input"
    return progress[-1]


def test_get_spark_uses_filesystem_checkpoint_manager(spark, tmp_path):
    assert spark.conf.get(_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER
    assert _file_manager(spark, str(tmp_path)).getClass().getName() == CHECKPOINT_FILE_MANAGER


def test_configure_sets_checkpoint_manager_on_external_session(spark, tmp_path):
    spark.conf.unset(_MANAGER_KEY)
    try:
        assert _file_manager(spark, str(tmp_path)).getClass().getName() != CHECKPOINT_FILE_MANAGER
        configure(spark)
        assert spark.conf.get(_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER
        assert _file_manager(spark, str(tmp_path)).getClass().getName() == CHECKPOINT_FILE_MANAGER
    finally:
        spark.conf.set(_MANAGER_KEY, CHECKPOINT_FILE_MANAGER)


@pytest.fixture(scope="module")
def bin_run(spark, tmp_path_factory):
    """One stateful bin-packing batch over 10 keys x 6 rows; returns the
    checkpoint directory and the progress of that batch."""
    root = tmp_path_factory.mktemp("bins")
    src, ckpt = str(root / "src"), str(root / "ckpt")
    _land(spark, src, "a", [(f"k{i % 10}", f"a{i:03d}") for i in range(60)])
    progress = _run_bins(spark, src, ckpt, str(root / "out"))
    return ckpt, progress


def test_offset_log_refuses_second_write_of_a_batch(spark, bin_run):
    ckpt, _ = bin_run
    offsets = os.path.join(ckpt, "offsets")
    batch0 = os.path.join(offsets, "0")
    with open(batch0, "rb") as f:
        before = f.read()
    out = _file_manager(spark, offsets).createAtomic(spark._jvm.org.apache.hadoop.fs.Path(batch0), False)
    out.write(0x7B)
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        out.close()
    with open(batch0, "rb") as f:
        assert f.read() == before


def test_checksums_written_for_logs_and_state(spark, bin_run):
    ckpt, progress = bin_run
    names = {
        os.path.relpath(os.path.join(root, f), ckpt)
        for root, _dirs, files in os.walk(ckpt)
        for f in files
    }
    # Hadoop's checksum files for the offset and commit logs
    assert {"offsets/0", "offsets/.0.crc", "commits/0", "commits/.0.crc"} <= names, sorted(names)
    changelogs = [n for n in names if n.endswith("/1.changelog")]
    assert len(changelogs) == progress["stateOperators"][0]["numStateStoreInstances"], sorted(names)
    for n in changelogs:
        head, tail = os.path.split(n)
        # Hadoop's .crc and Spark's own checksum sidecar of every changelog
        assert os.path.join(head, f".{tail}.crc") in names, sorted(names)
        assert f"{n}.crc" in names, sorted(names)


def test_checkpoint_resumes_with_its_pinned_state_store_count(spark, tmp_path):
    """A bin-packing checkpoint started at 8 shuffle partitions resumes
    at 8 under a local[4] session's default of 4, with its open bins and
    every row delivered exactly once."""
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    first = [(f"k{i % 10}", f"a{i:03d}") for i in range(60)]
    second = [(f"k{i % 10}", f"b{i:03d}") for i in range(20)]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        _land(spark, src, "a", first)
        p1 = _run_bins(spark, src, ckpt, out)
        assert p1["stateOperators"][0]["numStateStoreInstances"] == 8
        # 6 rows per key: one full bin of 4 each, 2 rows left open in state
        assert spark.read.parquet(out).count() == 10

        # what get_spark(cpus=4) sets
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        _land(spark, src, "b", second)
        p2 = _run_bins(spark, src, ckpt, out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert p2["batchId"] > p1["batchId"]
    assert p2["stateOperators"][0]["numStateStoreInstances"] == 8
    bundles = spark.read.parquet(out).collect()
    # each key: the 2 open rows from the first run + 2 new ones close a bin
    assert len(bundles) == 20
    assert all(b["merge_count"] == 4 and b["flush_reason"] == "entries" for b in bundles)
    delivered = sorted(p for b in bundles for p in b["content"].split("\n"))
    assert delivered == sorted(c for _k, c in first + second)
    for b in bundles:
        assert set(b["content"].split("\n")) <= {c for k, c in first + second if k == b["correlation"]}
