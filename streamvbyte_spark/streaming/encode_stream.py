"""Structured Streaming surface.

The reference library has NO streaming semantics ("Stream VByte" names the
two-stream byte layout, /root/reference/README.md:207-211; SURVEY.md §2.2),
so this module is additive: it lifts the SAME batch operators onto unbounded
input, which is the idiomatic Spark way to run the encoder as a continuous
ingestion job (files land -> encode -> append encoded parquet).

``mapInArrow`` works unchanged on streaming DataFrames, so
``encode_token_stream`` reuses the exact batch kernels — one code path for
batch and streaming (the Kappa shape).  ``windowed_event_counts`` shows the
watermark + tumbling-window pattern for late data over the events schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode import encode_table
from ..sources.tokens import TOKENS_SCHEMA


def encode_token_stream(spark: SparkSession, in_path: str, codec: str = "auto",
                        max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of token parquet -> encoded stream (append mode).

    Writer side (caller picks sink + checkpointLocation):
        encode_token_stream(spark, in_path).writeStream
            .format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).trigger(availableNow=True)
    The streaming checkpoint + the lineage table (operators.lineage) give
    end-to-end exactly-once on the encoded output.
    """
    stream = (spark.readStream.schema(TOKENS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(in_path))
    return encode_table(stream, codec=codec)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts with a watermark for late data (streaming
    aggregation state is bounded by the watermark horizon)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("events"),
                 F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("sum_value_cents"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "events", "sum_value_cents"))


def dedup_event_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state: duplicates
    arriving within the watermark horizon are dropped; state for ids older
    than the watermark is evicted (the standard exactly-once ingest gate)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def decode_token_stream(spark: SparkSession, enc_path: str) -> DataFrame:
    """Streaming inverse of encode_token_stream: readStream over an encoded
    parquet directory (read as the encode path's output schema) -> the
    same whole-batch mapInArrow decode as the batch path (mapInArrow is
    streaming-compatible; state-free, so any trigger works)."""
    from ..operators.encode import ENCODED_SCHEMA, decode_table
    stream = spark.readStream.schema(ENCODED_SCHEMA).parquet(enc_path)
    return decode_table(stream)
