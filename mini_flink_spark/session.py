"""SparkSession factory tuned for both the local test harness and the
100 TB design point.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs below
are the ones that transfer to a real cluster: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for every pandas-UDF exchange, and a
shuffle-partition count sized to the substrate rather than Spark's legacy 200.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory holding the package, so Python workers can import it (and
# start from its daemon module) whatever the driver's working directory.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_pythonpath(caller: str | None = None) -> str | None:
    """``spark.executorEnv.PYTHONPATH`` for Python workers: PACKAGE_PARENT
    ahead of the caller's entries. Run from a checkout, that puts the
    repository root on the workers' path on purpose. An installed package
    lives in site-packages, which workers already search; that directory is
    left out, because PYTHONPATH entries go ahead of the stdlib."""
    site_dirs = [*site.getsitepackages(), site.getusersitepackages()]
    installed = os.path.realpath(PACKAGE_PARENT) in {os.path.realpath(d) for d in site_dirs}
    entries = [] if installed else [PACKAGE_PARENT]
    if caller:
        entries.append(caller)
    return os.pathsep.join(entries) or None


def get_spark(
    app_name: str = "mini-flink-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB): on a real cluster the same builder applies —
    ``spark.sql.shuffle.partitions`` should be ~2-3x total cores (AQE coalesces
    the excess), ``maxPartitionBytes`` keeps scan tasks ~128-256 MB, and AQE
    skew-join handles hot keys without manual salting in the common case.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate turns explode(computed_array) into a
        # size()>0 filter that predicate-pushdown then substitutes — full
        # expression tree and all — below the exchange, re-running the array
        # computation once per row on the (often single-task) scan side.
        # Measured 25× slowdown on the shingle/minhash pipelines; the rule
        # buys nothing for this workload.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Whole-stage-codegen class cache (r11, guide §7.2/§7.3): the default
        # 100-entry cache holds ~10 queries' worth of codegen units, so a
        # session that plans many distinct queries (the bench's 211-query
        # sweep; any multi-query ETL driver) recompiles classes it compiled
        # minutes earlier — measured 0.6-0.9 s per late-registry query at
        # sf0.1. Generated classes are small (KBs); 4096 entries covers the
        # whole registry with headroom at negligible driver-memory cost.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        .config("spark.ui.enabled", "false")
        # Local default: the in-memory HDFS-backed store (test state is tiny
        # and heap-speed). At 100 TB keyed state, apply rocksdb_state_conf()
        # instead — state then lives off-heap/on-disk per executor instead of
        # on the JVM heap, which is the difference between running and OOM.
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
        # Workers drop Spark's zip archives from sys.path before importing
        # pyspark: with them on it, every task's importlib.invalidate_caches()
        # re-reads ~6.7k archive entries on CPython <= 3.12, a few hundred ms
        # per task (mini_flink_spark/pyworker.py).
        .config("spark.python.daemon.module", "mini_flink_spark.pyworker")
    )
    conf = dict(extra_conf or {})
    pythonpath = worker_pythonpath(conf.get("spark.executorEnv.PYTHONPATH"))
    if pythonpath:
        conf["spark.executorEnv.PYTHONPATH"] = pythonpath
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def rocksdb_state_conf() -> dict[str, str]:
    """Production state-store configuration for large keyed state.

    The reference's heap-only HeapKeyedStateBackend
    (flink-runtime/.../state/heap/HeapKeyedStateBackend.java) caps state at
    JVM heap; RocksDB is the Spark-side answer at scale: off-heap working
    set, SST files on local disk, and changelog checkpointing so commits
    upload deltas instead of full snapshots. Verified runnable in this
    container (rocksdbjni ships with Spark 4); runtime-settable, so it can
    be applied per-session via ``extra_conf`` or ``spark.conf.set``.
    """
    return {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }


def runtime_filter_conf(local_scale: bool = False) -> dict[str, str]:
    """Runtime bloom-filter join pruning (Spark's answer to the semi-join
    reduction a 100 TB fact⋈selective-dim join needs).

    When a join's creation side is selective (post-filter dims), Catalyst
    injects `bloom_filter_agg` over its keys and a `might_contain` pre-filter
    on the fact side BEFORE the fact's shuffle — rows that cannot match never
    enter the exchange. Enabled by default in Spark 4; the *thresholds* are
    cluster-scale: creation side <= 10 MB, application side scan >= 10 GB. At
    100 TB the defaults fire on exactly the right joins with zero config. For
    local fixtures (and the plan test pinning this behavior) `local_scale=True`
    drops the application-side floor so injection is observable at MBs.
    """
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }
    if local_scale:
        conf["spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"] = "0"
        conf["spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"] = "100MB"
    return conf


def testdata_dir(sf: str = "0.001") -> str:
    return f"/root/testdata/sf{sf}"


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table, normalizing physical quirks.

    Trust the parquet logical type: the driver's ``events.parquet`` stores
    ``ts`` as TIMESTAMP(MICROS), which Spark reads natively — pass it through
    untouched. Only if a file genuinely stores TIMESTAMP(NANOS) (which Spark's
    reader rejects without the legacy conf) do we fall back to nanos-as-long
    and truncate to microseconds — the same truncation DuckDB applies when
    casting TIMESTAMP_NS to TIMESTAMP, so oracle comparisons agree.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        try:
            df = spark.read.parquet(path)
        except Exception:
            # TIMESTAMP(NANOS) file: re-read with the legacy nanos-as-long conf.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer div: ns values exceed double's 53-bit mantissa, so no `/`
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Session tz is pinned to UTC, so NTZ -> TIMESTAMP is value-identical;
            # downstream ops (unix_micros, window, watermark) expect TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Read every synthetic table and register it as a temp view.

    Parquet scans here get predicate pushdown + column pruning for free as long
    as downstream code stays declarative (no early .cache()/collect()).
    """
    out = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
