"""Dead-letter queues — reference D2 (DRQ) / D3 (DMQ) envelope writers.

Envelope parity (kinesis-processing.js:634-647,708-724): version strings
'DR|K|2.0' / 'DM|K|2.0', batch key, the offending record/message, the
deaggregated KPL userRecord when there is one, its tracked state, the
reason, and a discard timestamp. Partition-key fallback
chain: record pk ▷ streamConsumerId ▷ 'LAST_RESORT_KEY', truncated to the
Kinesis 256-char max (kinesis-processing.js:743-746,:41).

Sink here is an append-only parquet queue directory (swap for
`kinesis.put_record` in foreachPartition against real AWS). Failure to
append raises, which fails the batch — exactly the reference's
fail-if-cannot-discard contract (test/kinesis-consumer.test.js:1160,2060).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PARTITION_KEY_LEN = 256
LAST_RESORT_KEY = "LAST_RESORT_KEY"


def _partition_key(stream_consumer_id: str):
    return F.substring(
        F.coalesce(
            F.col("partition_key"), F.lit(stream_consumer_id), F.lit(LAST_RESORT_KEY)
        ),
        1,
        MAX_PARTITION_KEY_LEN,
    )


def _kpl_user_record(data_col: str):
    """The envelope's ``userRecord`` sub-object: the de-aggregated KPL user
    record (its own partition key / explicit hash key / payload /
    subSequenceNumber). Present only for KPL sub-records — the reference
    sets userRecord to undefined when it IS the record
    (kinesis-processing.js:634-647: ``userRecord !== unusableRecord``);
    here the non-null event_sub_seq_no is exactly that signal (only the
    KPL deagg path assigns one, streaming/ingest.py:199)."""
    return F.when(
        F.col("event_sub_seq_no").isNotNull(),
        F.to_json(
            F.struct(
                F.col("partition_key").alias("partitionKey"),
                F.col("explicit_hash_key").alias("explicitHashKey"),
                F.col(data_col).alias("data"),
                F.col("event_sub_seq_no").alias("subSequenceNumber"),
            )
        ),
    )


def dead_record_envelope_cols(
    stream_consumer_id: str, stream_type_tag: str = "K"
) -> list:
    """D2 envelope Column list — config-static, so long-lived callers
    (the engine) build it once instead of per micro-batch."""
    return [
        F.lit(f"DR|{stream_type_tag}|2.0").alias("ver"),
        F.lit(stream_consumer_id).alias("streamConsumerId"),
        F.concat(F.lit("S|"), F.col("shard_id")).alias("shardOrEventID"),
        F.col("event_id").alias("eventID"),
        F.col("record_json").alias("record"),
        _kpl_user_record("data_b64").alias("userRecord"),
        F.col("data_b64").alias("data"),
        F.col("reason_unusable").alias("reasonUnusable"),
        _partition_key(stream_consumer_id).alias("partitionKey"),
        F.col("explicit_hash_key").alias("explicitHashKey"),
        F.current_timestamp().alias("discardedAt"),
    ]


def dead_record_envelopes(
    unusable: DataFrame, stream_consumer_id: str, stream_type_tag: str = "K"
) -> DataFrame:
    """D2: unusable records → 'DR|K|2.0' envelopes."""
    return unusable.select(
        *dead_record_envelope_cols(stream_consumer_id, stream_type_tag)
    )


def dead_message_envelope_cols(
    stream_consumer_id: str, stream_type_tag: str = "K"
) -> list:
    """D3 envelope Column list — config-static, see dead_record_envelope_cols."""
    return [
        F.lit(f"DM|{stream_type_tag}|2.0").alias("ver"),
        F.lit(stream_consumer_id).alias("streamConsumerId"),
        F.concat(F.lit("S|"), F.col("shard_id")).alias("shardOrEventID"),
        F.col("event_id").alias("eventID"),
        F.col("id"),
        F.col("key"),
        F.col("seqNo"),
        F.col("data_str").alias("message"),
        F.col("record_json").alias("record"),
        _kpl_user_record("data_str").alias("userRecord"),
        F.col("tasks_json").alias("state"),
        F.col("reason_rejected").alias("reasonRejected"),
        _partition_key(stream_consumer_id).alias("partitionKey"),
        F.col("explicit_hash_key").alias("explicitHashKey"),
        F.current_timestamp().alias("discardedAt"),
    ]


def append_to_queue(
    envelopes: DataFrame, path: str, n_rows: int | None = None
) -> None:
    """Queue append. ``n_rows`` (when the caller already holds the exact
    envelope count from the batch counters) sizes the write: a micro-batch
    rejecting a few hundred messages writes one file instead of one
    near-empty file per upstream partition. coalesce never widens, so a
    large envelope set keeps its full parallelism — ~5k rows/file."""
    if n_rows is not None:
        envelopes = envelopes.coalesce(max(1, 1 + n_rows // 5000))
    envelopes.write.mode("append").parquet(path)
