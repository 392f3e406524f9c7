"""Pluggable-function settings surface — mirrors the reference's
Settings.getXxxFunction accessor tests (test/settings.test.js:17-45) and
exercises each seam end-to-end through the engine:

- default accessors resolve to the stream-type / kplEncoded-appropriate
  default (extractMessagesFromKinesisRecord vs ...FromKplEncodedRecord,
  kinesis-processing.js:284-299),
- configured overrides are returned verbatim and actually fire,
- a custom wire format (non-JSON payload) flows through a custom
  extract_message_from_record,
- custom load/save_batch_state round-trip state through a user store,
- custom discard functions replace the DRQ/DMQ appends.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.config import EngineConfig, StreamType
from kinesis_stream_consumer_spark.sources import events_as_kinesis_records
from kinesis_stream_consumer_spark.streaming import Engine, TaskDef
import importlib

# the streaming package re-exports ingest() the FUNCTION under the module name
ig = importlib.import_module("kinesis_stream_consumer_spark.streaming.ingest")
from kinesis_stream_consumer_spark.streaming.state import STATE_SCHEMA

from tests.conftest import SF_SMOKE


def _t(spark, sf, name):
    from kinesis_stream_consumer_spark.plans.queries import _t as t

    return t(spark, sf, name)


def noop(message, task):
    return None


_SEQ_CFG = dict(
    sequencing_per_key=True,
    key_property_names=["k1", "k2"],
    id_property_names=["id1"],
    seq_no_property_names=["n1", "n2"],
)


def _engine(spark, tmp_path, cfg, one_defs=(TaskDef("t1", noop),)):
    return Engine(
        spark,
        cfg,
        state_path=str(tmp_path / "state"),
        drq_path=str(tmp_path / "drq"),
        dmq_path=str(tmp_path / "dmq"),
        process_one_defs=list(one_defs),
    )


# --- Accessor surface (settings.test.js:17-45) -------------------------------


def test_default_processing_functions_kinesis():
    fns = EngineConfig(**_SEQ_CFG).processing_functions()
    assert fns["extract_messages_from_record"] is ig.extract_messages_from_kinesis_record
    assert fns["extract_message_from_record"] is ig.extract_json_message_from_record
    assert fns["generate_md5s"] is ig.generate_kinesis_md5s
    # persistence/discard seams default to the engine built-ins (None here)
    for name in (
        "load_batch_state",
        "save_batch_state",
        "discard_unusable_record",
        "discard_rejected_message",
        "resolve_event_id_and_seq_nos",
        "resolve_message_ids_and_seq_nos",
    ):
        assert fns[name] is None


def test_default_processing_functions_kpl_and_dynamodb():
    kpl = EngineConfig(kpl_encoded=True, **_SEQ_CFG).processing_functions()
    assert (
        kpl["extract_messages_from_record"]
        is ig.extract_messages_from_kpl_encoded_record
    )
    ddb = EngineConfig(
        stream_type=StreamType.dynamodb, **_SEQ_CFG
    ).processing_functions()
    assert (
        ddb["extract_messages_from_record"]
        is ig.extract_messages_from_dynamodb_record
    )


def test_configured_processing_functions_returned_verbatim():
    def my_extract(records, config):
        return records

    def my_md5s(cols):
        return cols

    def my_save(states, engine):
        return None

    cfg = EngineConfig(
        extract_messages_from_record=my_extract,
        generate_md5s=my_md5s,
        save_batch_state=my_save,
        **_SEQ_CFG,
    )
    fns = cfg.processing_functions()
    assert fns["extract_messages_from_record"] is my_extract
    assert fns["generate_md5s"] is my_md5s
    assert fns["save_batch_state"] is my_save
    # unconfigured seams still resolve to defaults
    assert fns["extract_message_from_record"] is ig.extract_json_message_from_record


# --- extract_message_from_record: a non-JSON wire format ---------------------


def test_custom_extract_message_from_record(spark, tmp_path):
    """Payloads in 'k=v;k=v' format become messages via a custom
    extractMessageFromRecord Column factory — the seam the reference gives
    users with non-JSON data (kinesis-processing.js:286)."""
    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 8)
    body = F.concat_ws(
        ";",
        F.concat(F.lit("id1="), F.col("event_id")),
        F.concat(F.lit("k1="), F.col("user_id")),
        F.concat(F.lit("k2="), F.col("event_type")),
        F.concat(F.lit("n1="), F.col("event_id")),
    )
    shard = F.concat(
        F.lit("shardId-"), F.lpad((F.col("user_id") % 4).cast("string"), 12, "0")
    )
    seq_no = F.lpad(F.col("event_id").cast("string"), 56, "0")
    records = ev.select(
        F.concat(shard, F.lit(":"), seq_no).alias("eventID"),
        F.lit("1.0").alias("eventVersion"),
        F.lit("aws:kinesis:record").alias("eventName"),
        F.lit("aws:kinesis").alias("eventSource"),
        F.lit("arn:aws:kinesis:us-west-2:1:stream/T").alias("eventSourceARN"),
        F.lit("us-west-2").alias("awsRegion"),
        F.lit(None).cast("string").alias("invokeIdentityArn"),
        F.struct(
            F.lit("1.0").alias("kinesisSchemaVersion"),
            F.col("user_id").cast("string").alias("partitionKey"),
            F.lit(None).cast("string").alias("explicitHashKey"),
            seq_no.alias("sequenceNumber"),
            F.base64(body.cast("binary")).alias("data"),
        ).alias("kinesis"),
    )

    def kv_extract(data_str):
        return F.to_json(F.str_to_map(data_str, F.lit(";"), F.lit("=")))

    cfg = EngineConfig(
        extract_message_from_record=kv_extract,
        sequencing_per_key=True,
        key_property_names=["k1", "k2"],
        id_property_names=["id1"],
        seq_no_property_names=["n1"],
    )
    res = _engine(spark, tmp_path, cfg).process_batch(records, batch_id=1)
    assert res.messages == 8 and res.unusable == 0
    assert res.fully_finalised == 8
    eng = _engine(spark, tmp_path, cfg)
    ids = {r["id"] for r in eng.state.read_all().collect()}
    assert ids == {f"id1:{i}" for i in range(8)}


# --- generate_md5s -----------------------------------------------------------


def test_custom_generate_md5s(spark, tmp_path):
    """A custom generateMD5s (here: fingerprint the reversed payload)
    replaces the digest columns (reference kinesis-identify.js:33-44)."""

    def my_md5s(cols):
        return {
            "msg_md5": F.md5(F.coalesce(cols["msg_json"], F.lit("")).cast("binary")),
            "rec_md5": F.md5(cols["record_json"].cast("binary")),
            "data_md5": F.md5(F.reverse(cols["data_str"]).cast("binary")),
        }

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 4)
    records = events_as_kinesis_records(ev)
    cfg = EngineConfig(generate_md5s=my_md5s, **_SEQ_CFG)
    out = ig.ingest(records, cfg).messages.select("data_str", "data_md5").collect()
    assert out
    import hashlib

    for r in out:
        expected = hashlib.md5(r["data_str"][::-1].encode()).hexdigest()
        assert r["data_md5"] == expected


# --- resolve_message_ids_and_seq_nos ----------------------------------------


def test_custom_resolve_message_ids_and_seq_nos(spark, tmp_path):
    """Overriding id resolution (reference
    resolveKinesisMessageIdsAndSeqNos, kinesis-identify.js:85-133): ids
    come from the record-level event identity instead of the body."""

    def my_resolver(config):
        return {
            "id": F.concat_ws(":", F.lit("evt"), F.col("event_id")),
        }

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 5)
    cfg = EngineConfig(resolve_message_ids_and_seq_nos=my_resolver, **_SEQ_CFG)
    msgs = ig.ingest(events_as_kinesis_records(ev), cfg).messages
    ids = {r["id"] for r in msgs.select("id").collect()}
    assert all(i.startswith("evt:shardId-") for i in ids)
    # key/seqNo keep the default canonical resolution
    keys = {r["key"] for r in msgs.select("key").collect()}
    assert all(k.startswith("k1:") for k in keys)


# --- load/save_batch_state: a user-supplied state store ----------------------


def test_custom_load_save_batch_state_roundtrip(spark, tmp_path):
    """Custom persistence seam (reference loadBatchStateFromDynamoDB /
    saveBatchStateToDynamoDB defaults, swapped in test/settings.test.js):
    state rides a plain in-memory dict, and the D1 replay contract still
    holds — the replayed batch revives from the user store and attempts
    stay at 1."""
    store = {}
    calls = {"load": 0, "save": 0}

    def my_save(states, engine):
        calls["save"] += 1
        for row in states.collect():
            store[(row["shardOrEventID"], row["identity"])] = row.asDict()

    def my_load(engine, shard_keys):
        calls["load"] += 1
        rows = [
            v
            for (shard, _), v in store.items()
            if (shard_keys is None or shard in shard_keys)
            and v["kind"] in ("message", "rejected")
        ]
        return engine.spark.createDataFrame(rows, STATE_SCHEMA)

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 10)
    records = events_as_kinesis_records(ev)
    cfg = EngineConfig(
        load_batch_state=my_load, save_batch_state=my_save, **_SEQ_CFG
    )
    eng = _engine(spark, tmp_path, cfg)
    res1 = eng.process_batch(records, batch_id=1)
    assert res1.fully_finalised == 10
    assert calls["save"] == 1 and calls["load"] == 1
    # nothing hit the default parquet store
    assert eng.state.read_all().count() == 0

    # replay the identical batch: revive via my_load keeps attempts at 1
    res2 = eng.process_batch(records, batch_id=2)
    assert res2.fully_finalised == 10
    assert calls["save"] == 2 and calls["load"] == 2
    for v in store.values():
        tasks = json.loads(v["tasks_json"])
        assert tasks["t1"]["status"] == "Completed"
        assert tasks["t1"]["attempts"] == 1


# --- discard_unusable_record / discard_rejected_message ----------------------


def test_custom_discard_functions(spark, tmp_path):
    """Custom DRQ/DMQ seams (reference discardUnusableRecordToDRQ /
    discardRejectedMessageToDMQ defaults, kinesis-processing.js:296-297)
    replace the parquet appends entirely."""
    captured = {"unusable": 0, "rejected": 0}

    def my_drq(unusable, engine):
        captured["unusable"] += unusable.count()

    def my_dmq(rejected, engine):
        captured["rejected"] += rejected.count()

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 10)
    good = events_as_kinesis_records(ev)
    # one poison record: invalid base64-of-JSON payload ⇒ unusable (S6)
    bad = good.limit(1).withColumn(
        "kinesis",
        F.struct(
            F.col("kinesis.kinesisSchemaVersion").alias("kinesisSchemaVersion"),
            F.lit("999").alias("partitionKey"),
            F.col("kinesis.explicitHashKey").alias("explicitHashKey"),
            F.lit("9" * 56).alias("sequenceNumber"),
            F.base64(F.lit("not json at all").cast("binary")).alias("data"),
        ),
    ).withColumn("eventID", F.lit("shardId-000000000009:" + "9" * 56))

    def rejector(message, task):
        if int(message["id1"]) % 2 == 0:
            task.reject("even ids rejected")

    cfg = EngineConfig(
        discard_unusable_record=my_drq,
        discard_rejected_message=my_dmq,
        max_number_of_attempts=1,
        **_SEQ_CFG,
    )
    eng = _engine(spark, tmp_path, cfg, one_defs=[TaskDef("t1", rejector)])
    res = eng.process_batch(good.unionByName(bad), batch_id=1)
    assert res.unusable == 1 and captured["unusable"] == 1
    assert res.rejected_to_dmq == 5 and captured["rejected"] == 5
    # the default queues were bypassed
    import os

    assert not os.path.exists(str(tmp_path / "drq"))
    assert not os.path.exists(str(tmp_path / "dmq"))


def test_custom_save_batch_state_keeps_default_dmq(spark, tmp_path):
    """A custom save seam replaces only the state write: rejected messages
    still go to the default DMQ parquet, exactly once each."""
    saved = []

    def my_save(states, engine):
        saved.extend(
            r["identity"]
            for r in states.where(F.col("kind") == "rejected").collect()
        )

    def rejector(message, task):
        if int(message["id1"]) % 2 == 0:
            task.reject("even ids rejected")

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 10)
    cfg = EngineConfig(
        save_batch_state=my_save, max_number_of_attempts=1, **_SEQ_CFG
    )
    eng = _engine(spark, tmp_path, cfg, one_defs=[TaskDef("t1", rejector)])
    res = eng.process_batch(events_as_kinesis_records(ev), batch_id=1)
    dmq = spark.read.parquet(str(tmp_path / "dmq"))
    assert res.rejected_to_dmq == dmq.count() == 5
    rejected_ids = [f"id1:{i}" for i in range(0, 10, 2)]
    assert sorted(r["id"] for r in dmq.collect()) == rejected_ids
    assert sorted(saved) == rejected_ids
    # the default state store was bypassed
    assert eng.state.read_all().count() == 0


# --- resolve_event_id_and_seq_nos -------------------------------------------


def test_custom_resolve_event_id_and_seq_nos(spark, tmp_path):
    """Rewriting the event identity columns on the flat envelope
    (reference resolveKinesisEventIdAndSeqNos, kinesis-identify.js:54-68)."""

    def my_event_ids(flat, config):
        return flat.withColumn(
            "event_id", F.concat(F.lit("custom|"), F.col("event_id"))
        )

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 3)
    cfg = EngineConfig(resolve_event_id_and_seq_nos=my_event_ids, **_SEQ_CFG)
    msgs = ig.ingest(events_as_kinesis_records(ev), cfg).messages
    assert all(
        r["event_id"].startswith("custom|shardId-")
        for r in msgs.select("event_id").collect()
    )
