"""SparkSession factory.

Local test profile mirrors the cluster profile in everything except master:
AQE on (runtime re-plan + skew-join handling), UTC session timezone
(determinism vs the DuckDB oracle), Arrow enabled (fast pandas-UDF and
toPandas paths).  ``spark.sql.shuffle.partitions`` is sized for the local
32-thread runner; on a real cluster AQE coalesces the (much larger) initial
shuffle partition count down to the data, so the same code scales without
retuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .scratch import scratch_root

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable confs every reader and registered query needs regardless
# of how the caller built its SparkSession (the correctness driver supplies
# its own).  The nanos conf makes events.parquet readable at all; UTC makes
# timestamp->string casts match the timezone-naive DuckDB oracle; Arrow
# keeps pandas-UDF and toPandas paths on the fast batch transfer.
SESSION_DEFAULTS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
)


_conf_warned: set[str] = set()


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply SESSION_DEFAULTS to a possibly caller-built session.

    NOTE this deliberately mutates the caller's runtime conf (session
    timezone -> UTC, Arrow on, nanos-as-long on): the oracle contract
    depends on those.  A conf a locked-down session refuses is warned
    about ONCE — the query still runs, but a later oracle mismatch now
    has a diagnosable cause instead of a silent one."""
    import warnings

    for k, v in SESSION_DEFAULTS:
        try:
            spark.conf.set(k, v)
        except Exception as ex:
            if k not in _conf_warned:
                _conf_warned.add(k)
                warnings.warn(
                    f"could not set {k}={v} on the caller session "
                    f"({type(ex).__name__}: {ex}); results may diverge "
                    f"from the oracle (timestamp casts / nanos reads)")


# Runtime confs a child session takes from its caller: newSession falls
# back to the CONTEXT-level values, so a runtime-tuned caller would
# otherwise see its query silently run at the context default.
INHERITED_CONFS = ("spark.sql.shuffle.partitions",
                   "spark.sql.adaptive.enabled")


def child_session(spark: SparkSession,
                  overrides: dict[str, str] | None = None) -> SparkSession:
    """The one way a query scopes a conf: a child of ``spark`` (shared
    SparkContext, catalog and cache; own SQLConf) with SESSION_DEFAULTS,
    the caller's INHERITED_CONFS, then ``overrides``.  The caller's
    session is never touched, so a query planned concurrently on it
    never compiles under an override."""
    child = spark.newSession()
    ensure_session_defaults(child)
    for k in INHERITED_CONFS:
        child.conf.set(k, spark.conf.get(k))
    for k, v in (overrides or {}).items():
        child.conf.set(k, v)
    return child


def get_spark(app_name: str = "data-eng-iceberg-demo-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as int64 nanos and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # route Spark's own runtime dirs (blockmgr-*, spark-*) into the
        # per-process scratch root so they are removed at exit even when
        # the JVM's shutdown hooks don't run (static conf: builder-time
        # only, so this covers sessions WE build; a caller-built session
        # keeps its own local dir)
        .config("spark.local.dir", scratch_root())
        # native-lib extracts (lz4/snappy JNI) and the driver's spark-*
        # artifact dir go to java.io.tmpdir, not spark.local.dir
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={scratch_root()}")
    )
    return builder.getOrCreate()
