"""Structured Streaming skin over the batch semantics.

The reference is a streaming system (NATS push-subscription, tracker
main.go:386-395), but its analytics are deterministic functions of the
event log — so batch is the primary engine and this module provides the
streaming deployment shape: file-source readStream -> decode -> watermark
(the NATS MaxAge 24h lateness bound, nats/client.go:41) -> session_window
aggregation (the 30s/5m inactivity rule) and tumbling-window rollups.

``session_window`` merges events whose gaps are <= gap — the same session
partitioning the batch lag+cumsum produces (verified in tests by comparing
session counts/bounds)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sbse import GAP_MS_NORTH
from sbse.decode import decode
from sbse.sessionize import states_only
from sbse.tokens import TOKEN_SCHEMA_DDL


def read_token_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(TOKEN_SCHEMA_DDL)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def encode_bus_tokens(tok: DataFrame) -> DataFrame:
    """Inverse of :func:`decode_bus_tokens` — the bus SINK's wire projection
    (the reference's ``PublishSBSMessage`` JSON marshal,
    internal/nats/client.go:55-67): token rows become Kafka-shaped frames
    (``key``: doc_id bytes for stable partition routing, ``value``: binary
    JSON), ready for ``writeStream.format("kafka")``.
    ``decode_bus_tokens(encode_bus_tokens(t))`` round-trips exactly
    (asserted in tests/test_streaming.py)."""
    return tok.select(
        F.col("doc_id").cast("binary").alias("key"),
        F.to_json(F.struct("doc_id", "tokens", "n_tok", "source"))
        .cast("binary").alias("value"),
    )


def decode_bus_tokens(raw: DataFrame) -> DataFrame:
    """Project a message-bus frame (``value: binary`` JSON payloads — the
    Kafka source's wire shape, and the analog of the reference's NATS
    subject messages, internal/nats/client.go:37-84) onto the token schema.
    Malformed payloads surface as all-NULL rows (from_json PERMISSIVE), the
    same poison-message tolerance the reference's handler has. Pure column
    expressions — shared verbatim by the batch equivalence test and the
    streaming reader."""
    return (
        raw.select(
            F.from_json(F.col("value").cast("string"), TOKEN_SCHEMA_DDL)
            .alias("r")
        )
        .select("r.*")
    )


def read_token_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka -> token-schema stream (S4's bus source; the NATS JetStream
    push-subscription re-expressed on Spark's Kafka connector). Composes
    with the same downstream skins as the file source
    (streaming_sessions / streaming_rollup_1m).

    Requires the ``spark-sql-kafka`` connector on the classpath (a separate
    artifact not bundled with pyspark); ``load()`` raises Spark's standard
    "Failed to find data source: kafka" otherwise. The value-decode
    projection is factored into :func:`decode_bus_tokens` so its semantics
    are equivalence-tested against the file source without a broker
    (tests/test_streaming.py); with a broker this reader is drop-in."""
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        r = r.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return decode_bus_tokens(r.load())


def streaming_sessions(token_stream: DataFrame, gap_ms: int = GAP_MS_NORTH,
                       watermark: str = "24 hours") -> DataFrame:
    """Session aggregates via native session_window + watermark."""
    st = states_only(decode(token_stream)).withWatermark("ts", watermark)
    gap = f"{gap_ms // 1000} seconds"
    return st.groupBy(
        "source", "key", F.session_window("ts", gap).alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("started_at"),
        F.max("ts").alias("ended_at"),
        F.max("altitude").alias("max_altitude"),
    ).select(
        "source", "key", "started_at", "ended_at", "n_events", "max_altitude"
    )


def streaming_rollup_1m(token_stream: DataFrame,
                        watermark: str = "24 hours") -> DataFrame:
    st = states_only(decode(token_stream)).withWatermark("ts", watermark)
    return st.groupBy(
        "source", "key", F.window("ts", "1 minute").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_tok").cast("bigint").alias("n_tok_sum"),
    ).select("source", "key", F.col("w.start").alias("bucket_start"),
             "cnt", "n_tok_sum")
