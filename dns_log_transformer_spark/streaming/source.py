"""Streaming sources.

The reference's only entry point is a Firehose HTTP POST
(/root/reference/app/app.py:60-102). Spark streams are pull-based, so the
HTTP hop becomes a landing zone: the receiver appends each request body as
one line of a file under ``landing_dir``; ``readStream.format('text')``
tails the directory. This is the same design Firehose itself uses for its
S3 destination, and it keeps the source replayable (exactly-once file
tracking in the checkpoint) where the reference's in-memory hand-off loses
accepted batches on crash (app/app.py:96-102).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of the driver's ``events`` fixture, declared so the file stream
#: never infers (inference is a full extra scan and can drift per batch).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_firehose_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Tail ``landing_dir`` for Firehose request bodies (1 JSON/line).

    Output: one row per envelope with column ``value`` (raw JSON string) —
    the exact input shape ``transforms.parse_envelope`` expects, so batch
    and streaming share one code path.
    """
    return spark.readStream.format("text").load(landing_dir)


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    schema: T.StructType = EVENTS_SCHEMA,
) -> DataFrame:
    """Stream the events table shape from a directory of JSON files
    (used by the windowed-aggregation operators and their tests)."""
    return spark.readStream.schema(schema).json(events_dir)


def rate_events_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic events stream off the built-in rate source — load-test
    shape without any external dependency. Deterministic columns derived
    from the rate value mirror the fixture's events schema."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 1000).alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("purchase"), F.lit("signup"), F.lit("error")),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 97).cast("double").alias("value"),
        F.to_json(F.struct((F.col("value") % 7).alias("k"))).alias("props"),
    )
