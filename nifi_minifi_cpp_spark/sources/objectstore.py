"""Object-store List / Fetch / Put / Delete through the Hadoop FS
layer — one implementation for every scheme Spark's FS layer speaks
(s3a://, abfss://, gs://, wasbs://, hdfs://, file://).

The reference ships per-provider processor families
(extensions/aws/processors/ListS3.cpp, FetchS3Object.cpp,
PutS3Object.cpp, DeleteS3Object.cpp; extensions/azure/processors/*;
extensions/gcp/processors/*) each wrapping that provider's SDK.
Spark-first they collapse into four operations against the Hadoop
FileSystem API: LISTING is a distributed metadata scan, FETCH is a
distributed content read (binaryFile), PUT is a dataset write, DELETE
is a metadata call. Credentials/endpoints come from the Hadoop conf
(fs.s3a.*, fs.azure.*, ...) exactly as any Spark job configures them
— the per-provider credential-service plumbing the reference
implements in C++ is the FS layer's job here.

Everything is locally testable with ``file://`` URLs — same code
path, different scheme.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_object_store(
    spark: SparkSession,
    url: str,
    glob_filter: str | None = None,
    recursive: bool = True,
    min_age_ms: int = 0,
) -> DataFrame:
    """List* (ListS3.cpp:118 / ListAzureBlobStorage.cpp:91 /
    ListGCSBucket.cpp:51): one row of metadata per object — the
    content deliberately unread (``binaryFile`` scans are lazy; the
    ``content`` column is pruned away, so the scan reads only file
    status, no bytes). Distributed across executors by the FS
    listing."""
    reader = spark.read.format("binaryFile")
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    files = reader.load(url)
    out = files.select(
        F.col("path"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("mtime"),
    )
    if min_age_ms:
        cutoff = F.current_timestamp() - F.expr(f"INTERVAL {min_age_ms} MILLISECONDS")
        out = out.filter(F.col("mtime") <= cutoff)
    return out


def fetch_object_store(
    spark: SparkSession,
    url: str,
    glob_filter: str | None = None,
    as_text: bool = True,
) -> DataFrame:
    """Fetch* (FetchS3Object.cpp:35): distributed content read —
    (path, filename, size, mtime, content), bytes loaded executor-side
    by the binaryFile source."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    files = reader.load(url)
    content = F.decode(F.col("content"), "utf-8") if as_text else F.col("content")
    return files.select(
        F.col("path"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("mtime"),
        content.alias("content"),
    )


def put_object_store(
    df: DataFrame,
    url: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Put* (PutS3Object.cpp:45): the dataset write. The reference
    puts one object per FlowFile through the provider SDK; the
    Spark-native contract writes the frame as a dataset under the
    target prefix (executors write shards directly against the store
    via the FS connector — multipart upload, retries, and committer
    semantics included). One-object-per-row layouts are a
    ``partitionBy`` away. The write is the flow's Put* sink
    (``plans/pipeline.py``), saved now."""
    from ..plans.pipeline import _objectstore_put

    props = {"url": url, "format": fmt, "mode": mode, "partition_by": partition_by}
    _objectstore_put(df, props).save()


def delete_object_store(spark: SparkSession, url: str, recursive: bool = False) -> bool:
    """Delete* (DeleteS3Object.cpp:35): metadata operation through the
    JVM Hadoop FileSystem — works for every configured scheme; returns
    whether anything was deleted."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(url)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.delete(path, recursive))
