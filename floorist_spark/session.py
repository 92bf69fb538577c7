"""SparkSession construction and view registration.

The reference engine has no session concept — it opens one psycopg2
connection (`/root/reference/src/floorist/floorist.py:123-128`). Here the
SparkSession is the engine: Catalyst owns the query surface the reference
delegated to PostgreSQL.

Defaults are tuned for the test/bench environment (single JVM, local[N])
but every knob matters identically on a real cluster:

* AQE on — runtime re-planning, skew-join splitting, partition coalescing.
* shuffle.partitions sized to cores locally; on a 1000-executor cluster
  this would be set to ~2-3x total cores (AQE coalesces down).
* Arrow enabled — every pandas UDF / toPandas crosses via Arrow batches.
* maxPartitionBytes default 128m — at 100 TB that is ~800k input splits,
  which is the right granularity for dynamic allocation.
"""

from __future__ import annotations

import os
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: Tables the driver ships at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
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


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "floorist_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the deployment (spark-submit / k8s operator) sets the master and
    these conf defaults still apply.
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts has shipped as TIMESTAMP(NANOS) in some testdata
        # generations (see load_table); this legacy conf makes such columns
        # readable as long everywhere — batch scans AND the streaming
        # source's raw-schema probe — so it lives here, at session build,
        # as the engine's single unscoped conf write (round-10 verdict
        # task 5 consolidated the former per-callsite copies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep managed-table data (bucketed tables etc.) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "floorist_spark_warehouse"),
            ),
        )
    )
    # Optional extra jars (comma-separated paths), e.g. the PostgreSQL JDBC
    # driver for the live-Postgres e2e suite. Must be present at JVM launch:
    # spark.jars alone reaches executors, but the DriverManager lookup the
    # JDBC source does on the DRIVER needs extraClassPath too.
    extra_jars = os.environ.get("FLOORIST_EXTRA_JARS")
    if extra_jars:
        jar_list = [j for j in extra_jars.replace(os.pathsep, ",").split(",") if j]
        builder = builder.config("spark.jars", ",".join(jar_list))
        builder = builder.config(
            "spark.driver.extraClassPath", os.pathsep.join(jar_list)
        )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{n}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() silently skips builder confs when it reuses a live
    # session (e.g. a test created one first); re-assert the one runtime
    # conf scans depend on so every get_spark() caller gets it — unless the
    # caller explicitly set it through extra_conf, which must win.
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    if nanos_key in (extra_conf or {}):
        spark.conf.set(nanos_key, extra_conf[nanos_key])
    else:
        spark.conf.set(nanos_key, "true")
    return spark


#: serializes every scoped conf write: SQL confs are session-wide, so two
#: threads' set/restore windows must never interleave
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value):
    """Set SQL conf ``key`` for the body, then restore it; yields the
    value it replaced. ``value`` may be a callable of that previous value.

    The whole window runs under one process-wide lock: a session conf is
    visible to every thread, so concurrent dumps take their conf-scoped
    work (bounded streams, q45's deep recursion) one at a time, and
    nothing outside a scope ever observes another scope's value as the
    one to restore."""
    with _CONF_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(value(old) if callable(value) else value))
        try:
            yield old
        finally:
            spark.conf.set(key, old)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain parquet scan — Catalyst pushes filters
    and prunes columns into this scan (verify with .explain: PushedFilters /
    ReadSchema).

    The ``events.ts`` parquet encoding is NOT stable across testdata
    regenerations — observed so far: TIMESTAMP(NANOS) (rounds 1-3, read as
    long via the legacy conf) and timestamp[us] with isAdjustedToUTC=false
    (round 4+, read as TIMESTAMP_NTZ). Normalize EVERY encoding to
    session-UTC TIMESTAMP here, at the source boundary, so no downstream
    operator ever sees a non-TIMESTAMP event time. The reference never had
    this problem class because Postgres owned types end-to-end
    (`/root/reference/src/floorist/floorist.py:141-146` infers the schema
    from the live cursor); an engine that owns its sources must coerce at
    the boundary instead. Row-local projection — no shuffle, stays in
    codegen; DuckDB normalizes identically on the oracle side (ns
    truncation / naive-as-UTC)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_time(df)
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce an event-time column from any observed parquet encoding to
    session-local TIMESTAMP (session tz is pinned to UTC in ``get_spark``).

    * long        → nanoseconds since epoch, truncated to micros
    * TIMESTAMP_NTZ → naive wall-clock; the generator writes UTC instants,
      and the session tz is UTC, so the NTZ→TIMESTAMP cast (interpreted in
      session tz) is value-preserving
    * TIMESTAMP   → already correct, no-op
    """
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(
            col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))")
        )
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> None:
    """Register every testdata table as a temp view so floorplan SQL can
    reference them by name (the reference's queries named live Postgres
    tables; native mode names these views)."""
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
