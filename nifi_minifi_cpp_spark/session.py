"""SparkSession construction and test-table loading.

Scale notes: every config here is chosen to survive a 1000-executor
cluster, not just local[32] —

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  so the same code adapts from sf0.001 to 100 TB without retuning.
- ``autoBroadcastJoinThreshold`` left at default so small dims
  (region/nation/supplier) broadcast; we additionally hint
  ``F.broadcast`` explicitly at call sites that are dimension joins.
- ``spark.sql.shuffle.partitions`` is the core count. Batch shuffles
  plan that many and AQE coalesces them further. A stateful stream gets
  one state store per partition, so its stateful stage runs in one task
  wave per micro-batch (four RocksDB stores at local[4], where the old
  ``max(cpus, 8)`` gave eight in two waves; both give 32 at local[32]).
  A checkpoint pins the count it started with, so a stream restarted
  under another core count resumes with its old number of stores.
- Arrow enabled for every pandas-UDF crossing.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (duckdb timestamps are UTC-naive).

Checkpoint writes: every micro-batch writes an offset-log entry, one state
changelog per store and a commit-log entry. Spark's default
``FileContextBasedCheckpointFileManager`` sets permissions and resolves
links through Hadoop's local filesystem, which, without libhadoop, runs
``chmod`` and ``readlink`` as child processes: about ten of them (20 new
PIDs) and 34-63 ms per 400-byte file, about 420 new PIDs per
``stream_merge`` batch at local[4] (``rocksdbCommitFileSyncLatencyMs``
about 113 ms per store; 4-core Xeon, Spark 4.1.2, Hadoop 3.4.2 client).
``CHECKPOINT_FILE_MANAGER`` selects Spark's own
``FileSystemBasedCheckpointFileManager``, the class Spark falls back to on
stores without FileContext support: ``FileSystem.create`` of a temp file,
then ``rename``, 2 child processes (4 PIDs) and 8-23 ms per file. Kept:
the rename is still atomic (POSIX ``rename``; HDFS ``rename``); Hadoop's
``.crc`` checksum files are still written and verified; Spark's
``*.changelog.crc`` sidecars are unchanged. Changed: the offset and commit logs refuse to
overwrite an existing batch by an exists check before the rename, where
FileContext asked for ``Rename.NONE``. On HDFS that rename was atomic; on
the local filesystem Hadoop implements ``Rename.NONE`` as the same stat
then rename. A second run of the same query is still refused: within one
application Spark never runs two queries of one checkpoint at once (a new
start stops or rejects the active one), and across applications the
second writer of batch N finds its offset file and fails with
``FileAlreadyExistsException``. Only two writers racing inside the window
between one's check and its rename would go unnoticed. ``configure()``
sets the class on an external session too: a query reads it at its start.

Generated code: Catalyst compiles each whole-stage and projection class
with Janino and keeps it in a per-JVM LRU cache keyed by its source
(``spark.sql.codegen.cache.maxEntries``, Spark's default 100, a Guava
cache of four segments); a miss compiles again, about 10 ms a class on
a 4-core Xeon. The engine's working sets are larger than 100. One
perfbench ``iterative_builders`` pass (four graph queries, then
``flow_etl``) uses 150 classes, and at 100 entries every pass
recompiled 133 of them. One sweep of the 310 registered queries at
sf0.01 compiles about 4,000 distinct classes. A repeated sweep visits
them in the same order, and an LRU cache smaller than that sequence
evicts each class before its next use: every repeat recompiled about
5,700 classes at 100 entries and 4,300 at 1,000. A ``stream_merge`` run
is the small case: 35 compiles at 100 entries, 21 at 8192 (one run each;
a segment of 25 can overflow before the cache holds 100).
``CODEGEN_CACHE_ENTRIES`` = 8192 holds a sweep: a second sweep compiles
146-178 classes in 29-32 queries and a third 79-87, so what is left is
code that differs from run to run, not eviction; a perfbench pass
compiles none. The cost is the classes kept loaded: after three
sweeps Metaspace and class space use 278 MB where 100 entries left
240 MB, and the JIT code heap 167 MB where 100 entries left 139 MB, of
its default 240 MB reservation, with no "CodeCache is full" warning.
The conf is static: ``configure()`` cannot apply it to a session created
elsewhere.

Python workers: ``get_spark`` starts them through ``worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. Spark puts
its ``pyspark.zip``, py4j zip and spark-core jar first on the workers'
path, and every task's ``importlib.invalidate_caches()`` re-reads each of
those archives: 250-300 ms of worker CPU per ``mapInPandas``,
``pandas_udf`` or ``applyInPandasWithState`` task (Python 3.11, local[4]
on a 4-core Xeon). The daemon swaps them for the unpacked pyspark install
when its version matches the one the JVM ships.
``spark.executorEnv.PYTHONPATH`` carries this package's parent directory,
so the daemon and every worker-side kernel import from any working
directory. ``configure()`` cannot apply either setting to an externally
created session: both are read when the SparkContext starts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import worker_daemon

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Spark's own rename-based checkpoint writer (see "Checkpoint writes")
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

# generated classes kept compiled (see "Generated code")
CODEGEN_CACHE_ENTRIES = 8192

# the directory that holds this package, for the workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "nifi-minifi-cpp-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # reliable_barrier uses .checkpoint() when a checkpoint dir is
        # set; without this the checkpoint files outlive the RDD and a
        # long-lived session leaks storage per dedup call
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # RocksDB state store: stateful operators (MergeContent
        # bin-packing, DefragmentText — streaming/stateful.py) keep
        # long-lived correlation keys; the default HDFS-backed store
        # holds every key in executor heap, which at 100 TB is an OOM
        # waiting to happen. RocksDB spills state off-heap the same way
        # the reference's RocksDB repositories do
        # (/root/reference/extensions/rocksdb-repos/FlowFileRepository.cpp).
        # Changelog checkpointing uploads per-batch deltas instead of
        # full SST snapshots — required for sane commit latency.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        # static: sized to the engine's working set (see "Generated code")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine session configs to an externally-created session.

    The driver hands us its own SparkSession in ``__spark_entry__``;
    timestamps must still be UTC for oracle parity.

    Only runtime confs are set here. The codegen cache size
    (``spark.sql.codegen.cache.maxEntries``, see "Generated code") is a
    static conf like the worker daemon settings: it is fixed when the
    SparkContext starts, ``spark.conf.set`` of it raises, and so a
    session created elsewhere keeps its own cache size.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    try:
        # runtime-settable in local mode; stateful queries pick the
        # provider up at query start (see get_spark for rationale)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    except Exception:
        pass
    return spark


# The driver's synthetic parquet has shipped timestamps in two
# encodings across regenerations: TIMESTAMP(NANOS) (readable only as
# longs via nanosAsLong) and TIMESTAMP_MICROS with isAdjustedToUTC=0
# (read as TIMESTAMP_NTZ). Normalize both to TimestampType — the
# session timezone is pinned to UTC, so the NTZ→TZ cast is a
# wall-clock identity and oracle parity is preserved. unix_millis /
# withWatermark / window() all require TIMESTAMP, not NTZ.
_NANO_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = dict(df.dtypes)[col]
        if dtype == "bigint":
            # exact integer division: `/ 1000` is double division, and ns
            # epoch values exceed 2^53 so ~3% of µs-clean timestamps came
            # back 1µs low under the float round-trip
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load all driver tables as DataFrames (lazy; scans prune later)."""
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register the tables as temp views for the SQL surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
