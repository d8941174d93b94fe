"""Table catalog: loaders for the driver-generated parquet tables.

The engine's storage model is columnar parquet scanned by Spark's vectorized
reader (the reference's Postgres B-trees become partition pruning + min/max
skipping — see SURVEY.md §4). At 100 TB, fact tables (lineitem / orders /
events) would be written partitioned by date and bucketed on their join key;
the loaders here read the flat per-table files the test harness provides.

Reference parity: the reference's analytics load tables with
``execute_query`` → pandas (src/analytics/engine.py:262-292); here every
table is a lazy DataFrame and nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: All tables the driver test harness provides.
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

#: Small dimension tables — always broadcast in joins. ``customer`` /
#: ``supplier`` / ``part`` grow with SF so they are *not* listed here even
#: though they broadcast fine at test scale; at 100 TB they shuffle.
BROADCAST_DIMS = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Handles the events table's nanosecond timestamps.

    Spark's parquet reader rejects INT64 TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as a long
    which we floor-divide to microseconds — exactly DuckDB's ns→µs
    truncation, so oracle comparisons stay bit-identical.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→timestamp cast below is instant-preserving only in a UTC
        # session; set it here so the conversion is self-contained rather
        # than relying on the caller having gone through get_session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
            # TIMESTAMP_NTZ; the session runs in UTC, so the cast maps each
            # wall-clock value to the identical instant — exactly how DuckDB
            # (which has no NTZ/TZ split for these files) reads it.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
