"""Site-to-Site ports: exactly-once inter-flow handoff, Spark-first.

The reference implements Site-to-Site as a wire protocol between
agents (/root/reference/libminifi/src/sitetosite/SiteToSiteClient.cpp,
RawSocketProtocol.cpp: transactions, two-phase confirm with CRC
checksums, per-batch commit) and exposes it in flows as
RemoteProcessGroup input/output ports
(/root/reference/libminifi/include/core/RemoteProcessorGroupPort.h).

Spark-first, the same contract — durable, exactly-once, batched
handoff between independently-running flows — IS the checkpointed
file channel:

- ``output_port`` appends a frame to a channel directory. Batch
  frames write through a staging-dir + atomic rename commit (the
  two-phase confirm: readers never observe partial batches, a crashed
  writer leaves only invisible staging files). Streaming frames use
  the parquet file sink whose write-ahead ``_spark_metadata`` log is
  Spark's native exactly-once transaction.
- ``input_port`` tails the channel with a file stream (or reads it
  as a batch frame): each downstream flow tracks its own offsets in
  its own checkpoint, so N consumers replay independently — the
  queue-between-agents semantics with storage doing the work of the
  protocol.

Channel discipline (enforced where cheap, documented everywhere):
ONE producer per channel, ONE mode per channel. A streaming producer
creates ``_spark_metadata``, after which readers trust only the sink
log — batch ``txn-*`` directories published next to it would be
invisible. Batch ``output_port`` therefore REFUSES a channel that
contains ``_spark_metadata``, and the streaming side refuses a
channel that already holds batch transactions.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

#: rename on these filesystems is copy+delete (or object-level mutation
#: with no directory atomicity) — the two-phase commit guarantee would
#: silently evaporate, so the batch port refuses them. Route those
#: channels through the STREAMING port (its parquet-sink metadata log
#: is FS-agnostic: readers trust the log, not directory listings).
_NON_ATOMIC_RENAME_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs"}
)


def _fs_for(df_or_spark, path: str):
    """(jvm, FileSystem, Path) for ``path`` via the JVM gateway —
    rename through Hadoop's FileSystem is atomic on posix/HDFS/ABFS
    and works wherever the executors' writes land, unlike ``os.*``
    which only sees driver-local disks."""
    spark = df_or_spark if isinstance(df_or_spark, SparkSession) else df_or_spark.sparkSession
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def output_port_writer(df: DataFrame, channel_dir: str, checkpoint: str | None):
    """The streaming port's unstarted writer: the parquet file sink into
    the channel (its ``_spark_metadata`` log is the exactly-once
    transaction). Shared by :func:`output_port` and a compiled flow's
    OutputPort, so neither bypasses the one-mode-per-channel guard: a
    channel already holding batch ``txn-*`` commits is refused, as the
    sink log would make them invisible to readers."""
    if checkpoint is None:
        raise ValueError("streaming output_port requires a checkpoint dir")
    jvm, fs, _chan = _fs_for(df, channel_dir)
    txns = fs.globStatus(jvm.org.apache.hadoop.fs.Path(channel_dir, "txn-*"))
    if txns is not None and len(txns) > 0:
        raise ValueError(
            f"channel {channel_dir} already holds batch txn-* commits; a "
            "streaming producer's _spark_metadata log would make them "
            "invisible to readers — use one mode per channel"
        )
    return (
        df.writeStream.format("parquet")
        .option("path", channel_dir)
        .option("checkpointLocation", checkpoint)
    )


def output_port(df: DataFrame, channel_dir: str, checkpoint: str | None = None):
    """Producer side. Batch: staged-write + atomic directory rename per
    transaction (readers see all of a batch or none of it). Streaming:
    returns the started parquet-sink query (exactly-once via the sink's
    metadata log); ``checkpoint`` is required there.

    The batch commit goes through Hadoop's ``FileSystem.rename`` so the
    channel may live on any FS with atomic rename (posix, HDFS, ABFS);
    object stores without it (s3a, gs, ...) are rejected with a clear
    error instead of a silent torn-batch hazard — use the streaming
    port for those.
    """
    if df.isStreaming:
        return output_port_writer(df, channel_dir, checkpoint).start()
    # guard BEFORE touching the FS: the clear error must fire even
    # where the object-store connector jars aren't on the classpath
    from urllib.parse import urlparse

    scheme = urlparse(channel_dir).scheme.lower()
    if scheme in _NON_ATOMIC_RENAME_SCHEMES:
        raise ValueError(
            f"batch output_port needs atomic rename; '{scheme}' does not "
            "have it — publish to this channel with the streaming "
            "output_port (parquet-sink metadata log) instead"
        )
    jvm, fs, chan = _fs_for(df, channel_dir)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(channel_dir, "_spark_metadata")):
        raise ValueError(
            f"channel {channel_dir} was written by a STREAMING output_port "
            "(_spark_metadata present); readers trust only the sink log, so "
            "batch txn-* commits here would be invisible — one producer and "
            "one mode per channel"
        )
    fs.mkdirs(chan)
    txn = _uuid.uuid4().hex
    staging = jvm.org.apache.hadoop.fs.Path(channel_dir, f".staging-{txn}")
    df.write.mode("overwrite").parquet(str(staging))
    return _publish_staging(jvm, fs, staging, channel_dir, txn)


def _publish_staging(jvm, fs, staging, channel_dir: str, txn: str) -> int:
    """Phase two of the commit: strip non-data entries from the staged
    write, then publish the WHOLE transaction with one atomic directory
    rename — a multi-partition batch becomes visible all-or-none
    (per-file renames would expose a torn batch to a concurrent
    reader), and a crash before the rename leaves only an invisible
    dot-dir."""
    n = 0
    for st in fs.listStatus(staging):
        name = st.getPath().getName()
        if st.isFile() and name.startswith(("part-", "part.")) and not name.endswith(".crc"):
            n += 1
        else:
            # recursive delete handles leftover _temporary DIRS from an
            # interrupted write too (os.remove raised on those)
            fs.delete(st.getPath(), True)
    committed = fs.rename(staging, jvm.org.apache.hadoop.fs.Path(channel_dir, f"txn-{txn}"))
    if not committed:
        raise IOError(f"atomic commit rename failed for txn-{txn} on {channel_dir}")
    return n


def input_port(
    spark: SparkSession,
    channel_dir: str,
    schema: str,
    streaming: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Consumer side: a file stream over the channel (each consumer's
    checkpoint is its own replay cursor), or a batch read of
    everything currently committed."""
    if not streaming:
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")  # txn dirs, batch-committed
            .parquet(channel_dir)
        )
    reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(channel_dir)
