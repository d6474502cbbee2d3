"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs are chosen so the
same code scales to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), modest shuffle partition count that AQE
can grow, Arrow for any Pandas-UDF path, UTC session timezone so timestamp
semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_rows_df(spark: SparkSession, rows, schema, slices: int | None = None):
    """Driver-local rows as a DataFrame with WORK-PROPORTIONAL slicing.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` slices — on a 32-core master that is 32 pickled
    partitions (and 32 scheduled tasks in every downstream stage) for a
    3-row control frame. Measured on local[32] (min-of-5, warm workers):
    a 2-row frame costs 0.50 s to ``count()`` and 1.32 s through a
    ``mapInPandas`` stage at the default slicing, vs 0.27 s / 0.31 s at
    one slice — a ~0.2-1.0 s constant that every metadata-plane frame
    (manifest paths, commit actions, block combos, eq-delete descriptors)
    used to pay per downstream stage. ``formats/delta._actions_head``
    documented the same pathology in r12; this helper is the general fix.

    Slicing stays scale-honest: by default one slice per 4096 rows
    (control frames — the work is proportional to the rows themselves),
    capped at ``defaultParallelism``; callers whose per-row work is heavy
    (one file read per row) pass ``slices=len(rows)`` to fan out exactly
    as wide as the work, which on a cluster is the same fan-out the old
    ``.repartition(min(len, parallelism))`` bought — minus the Exchange.

    Trade-off (ADVICE r15): ``createDataFrame(list, schema)`` verifies row
    shape eagerly on the driver; the ``parallelize`` path defers it to the
    first action, so a malformed control row surfaces as an executor task
    failure rather than a driver-side TypeError. Accepted for these hot
    metadata paths — the rows are engine-authored tuples, not user input.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    par = spark.sparkContext.defaultParallelism
    if slices is None:
        slices = max(1, min(par, (len(rows) + 4095) // 4096))
    else:
        slices = max(1, min(par, slices, max(len(rows), 1)))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)


def local_path(uri):
    """A scan's file URI column (``input_file_name()``,
    ``_metadata.file_path``: ``file:///…``, percent-encoded) folded back
    to the plain absolute path that log actions and manifest entries
    carry, so scanned rows join against them. A ``+`` is a literal in a
    URI path, not the form-encoded space ``url_decode`` would read."""
    from pyspark.sql import functions as F

    return F.regexp_replace(F.url_decode(F.regexp_replace(uri, r"\+", "%2B")), r"^file:/+", "/")


def tagged_rows(spark: SparkSession, schema, paths):
    """Rows of the given parquet files through Spark's parquet scan, each
    tagged with its file (``_path``, folded by ``local_path`` to the plain
    path that log actions and manifest entries carry) and its parquet row
    index (``_pos``) — the coordinates position deletes address."""
    from pyspark.sql import functions as F

    return spark.read.schema(schema).parquet(*paths).select(
        "*",
        local_path(F.col("_metadata.file_path")).alias("_path"),
        F.col("_metadata.row_index").alias("_pos"),
    )


def get_spark(app_name: str = "onetable_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-conscious defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.warehouse.dir", "/tmp/onetable_spark_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as epoch-nanos long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers unpickle UDFs that reference this package's
        # functions by module: put the package's parent on their path, so a
        # driver started outside the checkout runs them too
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic test table (see TESTDATA.md).

    Parquet TIMESTAMP(NANOS) columns (events.ts) arrive as epoch-nanos
    longs under ``nanosAsLong``; normalize them back to ``timestamp_ntz``
    (micros) so query semantics match engines that read nanos natively.
    """
    from pyspark.sql import functions as F

    if name == "events":
        # events.parquet carries INT64 TIMESTAMP(NANOS), which Spark's
        # parquet schema converter rejects outright. The caller's session
        # may be one we didn't build (the correctness harness constructs a
        # vanilla SparkSession), so set the runtime legacy conf here — it
        # is a runtime SQL conf, verified settable on an active session —
        # rather than relying on get_spark's builder config.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # The epoch unit the long carries (nanos vs micros) has varied by
        # Spark version / read path — normalize by magnitude with exact
        # integer arithmetic (shared with streaming) so either unit yields
        # the same timestamp_ntz.
        from onetable_spark.streaming.events import _epoch_micros

        df = df.withColumn(
            "ts", F.timestamp_micros(_epoch_micros(F.col("ts"))).cast("timestamp_ntz")
        )
    return df


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
