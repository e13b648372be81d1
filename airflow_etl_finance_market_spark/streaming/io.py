"""Streaming sources/sinks for the events feed (SURVEY.md §2.9).

File-based streams are the local stand-in for Kafka: the reader treats
every new file in the directory as new data, so `readStream` over a
parquet dir + `availableNow`/`processAllAvailable` drives a finite
fixture through the full incremental machinery (micro-batches,
watermark advancement, state store) deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: File-stream schema for the events fixture. `ts` is declared LONG so
#: the reader hands back the raw epoch int64 regardless of the parquet
#: logical unit — the fixture has shipped as both TIMESTAMP(NANOS)
#: (Spark's vectorized reader rejects it without the nanosAsLong legacy
#: conf) and TIMESTAMP(MICROS); either way an int64-schema read yields
#: the physical value, and the unit-adaptive expression below rebuilds
#: a proper timestamp.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw epoch int64 (see above)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: Rebuild microsecond timestamps from the raw epoch int64. Event-time
#: watermarks require TIMESTAMP (LTZ) — [EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]
#: on NTZ — so unlike the batch fixture reader this surface is LTZ; the
#: engine session pins spark.sql.session.timeZone=UTC, which keeps window
#: boundaries identical to the NTZ batch tier.
#:
#: Unit detection by magnitude: epoch MICROS stays below 1e17 until the
#: year 5138, while epoch NANOS exceeds 1e17 for any instant after 1973 —
#: so one threshold cleanly separates the two encodings this fixture has
#: shipped with (and a wrong guess would be off by 1000x, never subtle).
_TS_FROM_EPOCH = (
    "timestamp_micros(CASE WHEN abs(ts) > 100000000000000000"
    " THEN ts div 1000 ELSE ts END)"
)


def read_events_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch twin of :func:`read_events_stream` — same schema, same LTZ
    conversion — so streaming results can be differential-tested against
    the identical plan run as a batch query."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return (
        spark.read.schema(EVENTS_STREAM_SCHEMA)
        .parquet(path)
        .withColumn("ts", F.expr(_TS_FROM_EPOCH))
    )


def read_events_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """`readStream` over a directory of events-shaped parquet files.

    ``max_files_per_trigger`` splits a finite fixture into several
    micro-batches — that is what lets a test observe watermark
    advancement (the watermark only moves at batch boundaries).

    Unlike the batch reader, the file-stream source does NOT recurse into
    subdirectories: pass a glob that reaches the parquet files
    (``.../batches/b*``, not ``.../batches``) or the source silently
    lists nothing and every batch is empty.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path).withColumn("ts", F.expr(_TS_FROM_EPOCH))


def run_available_now(
    df: DataFrame, query_name: str, *, output_mode: str = "complete"
) -> DataFrame:
    """Drain a finite stream into the in-memory sink and return the result.

    Synchronous: starts the query, processes everything available
    (including the trailing no-data batch that flushes state after the
    final watermark update), stops, and hands back ``spark.table(name)``.
    Local-test harness only — a production job would `.start()` against
    a durable sink with a checkpoint dir and keep running.
    """
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(query_name)


def run_available_now_to_parquet(
    df: DataFrame, out_path: str, checkpoint: str
) -> None:
    """Drain everything currently available into a parquet sink, then stop.

    The checkpoint directory is the exactly-once contract: offsets + state
    commit there, so re-invoking with the same checkpoint after new files
    arrive processes ONLY the new data, restores stateful operators'
    state, and never duplicates sink rows (the file sink records committed
    batches in its _spark_metadata log). This is the restartable daily-run
    shape — the streaming twin of the reference's idempotent
    TRUNCATE-reload cadence.
    """
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now_upsert(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    keys: list[str],
) -> None:
    """foreachBatch upsert sink: drain the stream, landing each micro-batch
    through :func:`..sources.sinks.append_if_absent` (ON CONFLICT DO
    NOTHING semantics on ``keys``).

    THE production idiom for streaming into a keyed warehouse table when
    the sink format has no native MERGE: the file sink alone is
    append-only, so an at-least-once source (or a checkpoint rolled back
    past a committed batch) would duplicate rows — the per-batch key
    anti-join makes re-delivery idempotent END TO END, not just within
    Spark's own offset tracking. Each batch pays one key-pruned scan of
    the existing table; at warehouse scale the table is partitioned (or
    bucketed on the key) so that scan prunes to the partitions the batch
    touches.

    foreachBatch receives an ORDINARY batch DataFrame, so the full batch
    sink/operator library applies inside — this is the official escape
    hatch for sinks Structured Streaming lacks (Spark docs, foreachBatch).
    """
    from ..sources.sinks import append_if_absent

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_if_absent(batch_df.sparkSession, batch_df, out_path, keys)

    q = (
        df.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
