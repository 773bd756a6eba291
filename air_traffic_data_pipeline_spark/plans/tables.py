"""Test-lake table loaders (parquet, explicit column pruning left to Catalyst)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.partitioning import fan_out  # noqa: F401  (query bodies import it from here)
from ..session import tune_session

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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _canonical_event_time(df)
    return df


def _canonical_event_time(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to epoch-nanosecond int64.

    The engine's event-time algebra (bucketing, watermark replay oracles,
    sessionization) is integer arithmetic on epoch nanos — the same value
    DuckDB's ``epoch_ns(ts)`` yields — so lakes that store ``ts`` as a
    parquet TIMESTAMP (us, read as TIMESTAMP_NTZ) are normalized at the
    scan boundary. Session timezone is pinned to UTC (session.py), making
    the NTZ->instant conversion exact; a pure column expression, stays in
    whole-stage codegen, no shuffle. Lakes already storing int64 nanos
    pass through untouched.
    """
    field = df.schema["ts"].dataType if "ts" in df.columns else None
    if isinstance(field, (T.TimestampType, T.TimestampNTZType)):
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all lake tables as temp views so plans can use spark.sql."""
    tune_session(spark)
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
