"""SparkSession factory.

Tuned for the local[N] test harness but with settings that transfer to a
real cluster: AQE on (runtime re-planning, skew-join handling, partition
coalescing), UTC session timezone (required for oracle comparison and for
any cross-timezone cluster), Arrow enabled for the Pandas-UDF slow path.

At cluster scale the only knobs that change are shuffle partitions
(~2-3x total cores) and memory sizing; the plans themselves are
partition-count agnostic because AQE coalesces post-shuffle.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


DEFAULT_CPUS = default_cpus()

#: the tables a scale-factor directory holds, as ``<name>.parquet``
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: inferred parquet schema per file identity ``(abspath, st_mtime_ns, st_size)``
_SCHEMA_MEMO: dict[tuple[str, int, int], StructType] = {}


def get_spark(app_name: str = "vunnel_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    Notes on choices:
    - ``spark.sql.shuffle.partitions`` = cores for local mode.  On a real
      cluster this would be 2-3x total executor cores; AQE's partition
      coalescing makes the exact value non-critical.
    - AQE enabled: converts sort-merge joins to broadcast at runtime when a
      side turns out small, splits skewed partitions, coalesces tiny ones.
    - session timezone pinned to UTC so timestamp semantics are stable and
      match the DuckDB oracle (duckdb timestamps are UTC-naive).
    """
    n = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # ContextCleaner frees broadcast blocks and shuffle files only
        # when the driver GC collects their references.  With a 16 GiB
        # heap a multi-query session can run for many minutes without a
        # full GC, so debris from earlier queries piles onto the block
        # manager and later queries slow down.  Periodic driver GC bounds
        # that backlog; the interval must stay longer than a timed run
        # (2 min fired inside ~100 s bench runs and inflated samples by
        # ~45%) and shorter than a long sweep session (Spark's 30 min
        # default never fires in one).
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_GRAFT_PERIODIC_GC", "10min"))
        # HotSpot never JIT-compiles a method over 8000 bytecode bytes
        # (-XX:DontCompileHugeMethods), so a fused WholeStageCodegen
        # method between 8000 bytes and Spark's default fallback (65535)
        # would run interpreted.  Aligning the fallback with the JIT
        # limit makes such stages fall back to per-operator codegen,
        # whose methods are small enough to compile
        # (scripts/audit_codegen_size.py lists the stages in that range).
        .config("spark.sql.codegen.hugeMethodLimit",
                os.environ.get("SPARK_GRAFT_HUGE_METHOD_LIMIT", "8000"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Spark cannot read TIMESTAMP(NANOS) parquet natively; read the raw
        # int64 nanos and convert (load_tables) — matches duckdb's ns→µs trunc
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-naive parquet timestamps load as plain TIMESTAMP, not NTZ: the
        # session is UTC-pinned so values are identical, and NTZ would break
        # unix_micros()/withWatermark() and wrap every ts in casts
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every test table in ``sf_dir`` and register temp views.

    Returns ``{name: DataFrame}``.  Reads are lazy; registering views lets
    query code use either the DataFrame API or spark.sql on the same names.
    """
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
            out[name].createOrReplaceTempView(name)
    return out


def _file_identity(path: str) -> tuple[str, int, int] | None:
    """Memo key for a regular file; None for a directory or a missing path."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return os.path.abspath(path), st.st_mtime_ns, st.st_size


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one test table, normalizing driver-data quirks.

    Schema inference runs once per file identity.  Spark infers a parquet
    schema with a job that reads the footers, so the inferred
    ``StructType`` is memoized in ``_SCHEMA_MEMO`` under the file's
    ``(absolute path, st_mtime_ns, st_size)``, and later reads pin it with
    ``spark.read.schema(...)``: no job, no footer read on the driver.  A
    file rewritten in place gets a new mtime (and usually size), hence a
    new key and a fresh inference.  The memo holds plain data, not JVM
    objects, so it survives ``spark.stop()``.  A directory (a
    Spark-written dataset) is inferred on every call: its files can change
    without its own mtime or size moving.

    ``events.ts`` is parquet TIMESTAMP(NANOS) which Spark reads as int64
    nanos (legacy.parquet.nanosAsLong); convert to a µs timestamp with
    truncation — identical to duckdb's ns→µs narrowing.
    """
    from pyspark.sql import functions as F

    # The caller may hand us an arbitrary session (the correctness driver
    # builds its own), so the confs that shape inference are applied here,
    # before the read, not only in get_spark()'s builder.  Both are
    # runtime-settable, and the memo is valid only because every inference
    # runs under these same values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _file_identity(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key:
            _SCHEMA_MEMO[key] = schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and "ts" in schema.names and schema["ts"].dataType == LongType():
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Driver parquet may carry tz-naive timestamps, which Spark 4 reads as
    # TIMESTAMP_NTZ.  unix_micros() and withWatermark() both reject NTZ by
    # spec; the session timezone is pinned to UTC, so casting to the
    # tz-aware type is a pure metadata change with identical semantics.
    for field in schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    # Registered plans stay exchange-free: at production scale a scan has
    # many splits, and a built-in repartition would be a pure-overhead
    # shuffle.  A single-file, single-row-group fixture scans as one input
    # partition, though, so a scan-rooted query with no exchange runs on
    # one core; measurement harnesses that want the scan spread over cores
    # opt in with VS_SCAN_MIN_PARTITIONS=<n>.  Tiny dimension tables are
    # exempt: fanning out 25 nation rows only adds scheduling overhead.
    fanout = int(os.environ.get("VS_SCAN_MIN_PARTITIONS", "0"))
    if fanout > 1 and name not in ("region", "nation", "supplier"):
        df = df.repartition(fanout)
    return df
