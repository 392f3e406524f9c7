"""Engine scenario tests — the reference's scenario matrix re-expressed
(SURVEY §5: test/kinesis-consumer.test.js:444-3495 driven with generated
events + mocked AWS ⇒ here: generated record DataFrames + parquet state/DLQ
dirs).

Covered scenarios → reference test:
- all-success, per-key + per-shard + unsequenced   (:444-745 × 3 modes)
- replay with prior state keeps attempts at 1      (:746-845, D1)
- unusable records → DRQ envelopes                 (:1047-1271, D2)
- processOne failure ⇒ state saved + BatchReplayError; retry succeeds (:1272-1380, F1)
- max attempts ⇒ Discarded → DMQ, batch completes  (:1386-1491,2530-2759, X4)
- task.reject ⇒ Rejected → DMQ                     (:2290-2529, D3)
- stale task defs revive as Unusable → Abandoned → DMQ (:1955-2289, T2/T3)
- chain blocking: failure blocks chain successors only (Q3/Q4 + :505)
- KPL aggregated records de-aggregate with subSequenceNumbers (S3)
"""

from __future__ import annotations

import base64
import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.config import EngineConfig
from kinesis_stream_consumer_spark.sources import (
    events_as_kinesis_records,
    kpl_aggregate,
    kpl_deaggregate,
)
from kinesis_stream_consumer_spark.streaming import (
    BatchReplayError,
    Engine,
    TaskDef,
)

from tests.conftest import SF_CORRECT, SF_SMOKE


# --- helpers -----------------------------------------------------------------


def records_df(spark, n=20, bad=0):
    """First n events as Kinesis records (+ `bad` garbage-payload records)."""
    from kinesis_stream_consumer_spark.plans.queries import _t

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < n)
    recs = events_as_kinesis_records(ev)
    if bad:
        garbage = recs.limit(bad).withColumn(
            "kinesis",
            F.col("kinesis").withField(
                "data", F.base64(F.lit("this is not json").cast("binary"))
            ),
        ).withColumn("eventID", F.concat(F.lit("bad:"), F.col("eventID")))
        recs = recs.unionByName(garbage)
    return recs


def make_engine(spark, tmp_path, one_defs=(), all_defs=(), **cfg_kw):
    cfg_kw.setdefault("sequencing_per_key", True)
    cfg_kw.setdefault("key_property_names", ["k1", "k2"])
    cfg_kw.setdefault("id_property_names", ["id1"])
    cfg_kw.setdefault("seq_no_property_names", ["n1", "n2"])
    cfg = EngineConfig(**cfg_kw)
    return Engine(
        spark,
        cfg,
        state_path=str(tmp_path / "state"),
        drq_path=str(tmp_path / "drq"),
        dmq_path=str(tmp_path / "dmq"),
        process_one_defs=one_defs,
        process_all_defs=all_defs,
    )


def noop(message, task):
    return None


UNSEQUENCED = {
    "sequencing_required": False,
    "sequencing_per_key": False,
    "key_property_names": [],
    "seq_no_property_names": [],
}


def kpl_records_df(spark, rows):
    """Kinesis records from (eventID, base64 data, partitionKey) rows."""
    return spark.createDataFrame(
        [
            {
                "eventID": eid,
                "eventVersion": "1.0",
                "eventName": "aws:kinesis:record",
                "eventSource": "aws:kinesis",
                "eventSourceARN": "arn:aws:kinesis:us-west-2:1:stream/TestStream",
                "awsRegion": "us-west-2",
                "invokeIdentityArn": "arn",
                "kinesis": {
                    "kinesisSchemaVersion": "1.0",
                    "partitionKey": pk,
                    "explicitHashKey": None,
                    "sequenceNumber": eid.split(":")[1].rjust(56, "0"),
                    "data": data,
                },
            }
            for eid, data, pk in rows
        ],
        schema="eventID string, eventVersion string, eventName string, eventSource string, "
        "eventSourceARN string, awsRegion string, invokeIdentityArn string, "
        "kinesis struct<kinesisSchemaVersion:string, partitionKey:string, "
        "explicitHashKey:string, sequenceNumber:string, data:string>",
    )


def tasks_of(engine, identity=None):
    rows = engine.state.read_all().collect()
    return {
        r["identity"]: json.loads(r["tasks_json"]) if r["tasks_json"] else None
        for r in rows
    }


# --- KPL codec (S3) ----------------------------------------------------------


def test_kpl_roundtrip_and_passthrough():
    urs = [("pk-1", b'{"a":1}'), ("pk-2", b'{"b":2}'), ("pk-1", b'{"c":3}')]
    blob = kpl_aggregate(urs)
    out = kpl_deaggregate(blob)
    assert [u["partitionKey"] for u in out] == ["pk-1", "pk-2", "pk-1"]
    assert [u["data"] for u in out] == [b'{"a":1}', b'{"b":2}', b'{"c":3}']
    assert [u["subSequenceNumber"] for u in out] == [0, 1, 2]
    # non-KPL passthrough (kpl-deagg-async.js:158-185)
    assert kpl_deaggregate(b'{"plain":"json"}') is None
    # corrupted checksum
    with pytest.raises(Exception):
        kpl_deaggregate(blob[:-1] + bytes([blob[-1] ^ 0xFF]))


# --- success scenarios across the three sequencing modes ---------------------


@pytest.mark.parametrize(
    "mode_kw",
    [
        {"sequencing_per_key": True, "key_property_names": ["k1", "k2"]},
        {"sequencing_per_key": False, "key_property_names": []},
        {
            "sequencing_required": False,
            "sequencing_per_key": False,
            "key_property_names": [],
            "seq_no_property_names": [],
        },
    ],
    ids=["per-key", "per-shard", "unsequenced"],
)
def test_all_success(spark, tmp_path, mode_kw):
    eng = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", noop)], **mode_kw
    )
    res = eng.process_batch(records_df(spark, 20), batch_id=1)
    assert res.messages == 20
    assert res.fully_finalised == 20
    assert res.incomplete == 0 and res.unusable == 0
    for t in tasks_of(eng).values():
        assert t["t1"]["status"] == "Completed"
        assert t["t1"]["attempts"] == 1


def test_replay_keeps_attempts_at_one(spark, tmp_path):
    """D1: replayed batch revives Completed tasks and skips them."""
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    eng.process_batch(records_df(spark, 10), batch_id=1)
    eng.process_batch(records_df(spark, 10), batch_id=2)  # full replay
    for t in tasks_of(eng).values():
        assert t["t1"]["status"] == "Completed"
        assert t["t1"]["attempts"] == 1  # not re-executed


def test_mismatched_prior_state_ignored(spark, tmp_path):
    """T2 digest guard: prior state revives ONLY when its msg_md5 matches
    the current message. Same ids but altered content ⇒ the stale state is
    ignored and tasks execute fresh with attempts restarting at 1
    (reference 'COMPLETELY MISMATCHED PRIOR state' scenario,
    test/kinesis-consumer.test.js:847-945)."""

    def failing(message, task):
        raise RuntimeError("always fails")

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", failing)])
    with pytest.raises(BatchReplayError):
        eng.process_batch(records_df(spark, 10), batch_id=1)
    # chain heads Failed (attempts=1); blocked successors stay unstarted
    statuses = [t["t1"] for t in tasks_of(eng).values()]
    assert any(t["status"] == "Failed" and t["attempts"] == 1 for t in statuses)
    assert all(t["status"] != "Completed" for t in statuses)

    # same ids/keys/seqNos, ALTERED message content ⇒ different msg_md5
    from kinesis_stream_consumer_spark.plans.queries import _t

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 10)
    altered = events_as_kinesis_records(ev.withColumn("value", F.col("value") + 1000))

    eng2 = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    res = eng2.process_batch(altered, batch_id=2)
    assert res.fully_finalised == 10
    for t in tasks_of(eng2).values():
        assert t["t1"]["status"] == "Completed"
        # had the stale state revived, the Failed task would re-execute and
        # carry attempts=2; fresh execution restarts at 1
        assert t["t1"]["attempts"] == 1


def test_unusable_records_go_to_drq(spark, tmp_path):
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    res = eng.process_batch(records_df(spark, 10, bad=2), batch_id=1)
    assert res.messages == 10 and res.unusable == 2
    drq = spark.read.parquet(str(tmp_path / "drq"))
    assert drq.count() == 2
    row = drq.first()
    assert row["ver"] == "DR|K|2.0"
    assert row["reasonUnusable"] == "unparseable record data (S6)"
    assert row["streamConsumerId"] == "K|TestStream|consumer:dev"
    # non-KPL: userRecord omitted (null) — it would BE the record
    # (kinesis-processing.js:644 userRecord !== unusableRecord)
    assert "userRecord" in drq.columns
    assert drq.where(F.col("userRecord").isNotNull()).count() == 0
    # unusable state rows persisted alongside message states (T4)
    kinds = {r["kind"] for r in eng.state.read_all().collect()}
    assert kinds == {"message", "unusable"}


def test_failure_replay_then_success(spark, tmp_path):
    """F1: failing task ⇒ BatchReplayError (state saved); flaky task
    succeeds on the replayed batch, attempts == 2."""
    def flaky(message, task):
        if message["id1"] == 3:
            raise RuntimeError("boom on 3")

    def fixed(message, task):
        return None

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", flaky)])
    with pytest.raises(BatchReplayError) as ei:
        eng.process_batch(records_df(spark, 10), batch_id=1)
    assert ei.value.result.incomplete >= 1
    states = tasks_of(eng)
    failed = [t for t in states.values() if t["t1"]["status"] == "Failed"]
    assert len(failed) == 1 and "boom on 3" in failed[0]["t1"]["error"]

    eng2 = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", fixed)])
    res = eng2.process_batch(records_df(spark, 10), batch_id=2)
    assert res.fully_finalised == 10
    t3 = [t for t in tasks_of(eng2).values() if t["t1"]["attempts"] == 2]
    assert len(t3) == 1  # only the previously-failed message re-ran


def test_chain_blocking_within_key(spark, tmp_path):
    """X1: a failed message blocks its chain successors; other chains run."""
    def fail_first(message, task):
        if message["id1"] == 0:
            raise RuntimeError("head of chain fails")

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", fail_first)])
    with pytest.raises(BatchReplayError):
        eng.process_batch(records_df(spark, 12), batch_id=1)
    states = eng.state.read_all().collect()
    by_id = {r["identity"]: (r["key"], json.loads(r["tasks_json"])) for r in states}
    failed_key = by_id["id1:0"][0]
    for ident, (key, t) in by_id.items():
        if ident == "id1:0":
            assert t["t1"]["status"] == "Failed"
        elif key == failed_key:
            assert t["t1"]["status"] == "Unstarted"  # blocked, never ran
        else:
            assert t["t1"]["status"] == "Completed"  # other chains unaffected


def test_max_attempts_discards_to_dmq(spark, tmp_path):
    """X4: attempts reach maxNumberOfAttempts ⇒ Discarded → DMQ; batch then
    completes instead of replaying forever (test :1386-1491)."""
    def always_fails(message, task):
        if message["id1"] == 5:
            raise RuntimeError("poison pill")

    defs = [TaskDef("t1", always_fails)]
    eng = make_engine(spark, tmp_path, one_defs=defs, max_number_of_attempts=3)
    for attempt in (1, 2):
        with pytest.raises(BatchReplayError):
            eng.process_batch(records_df(spark, 10), batch_id=attempt)
    res = eng.process_batch(records_df(spark, 10), batch_id=3)  # 3rd ⇒ discard
    assert res.incomplete == 0
    assert res.rejected_to_dmq == 1
    dmq = spark.read.parquet(str(tmp_path / "dmq"))
    row = dmq.first()
    assert dmq.count() == 1 and row["ver"] == "DM|K|2.0"
    assert "maxNumberOfAttempts=3" in row["reasonRejected"]
    t = tasks_of(eng)["id1:5"]
    assert t["t1"]["status"] == "Discarded" and t["t1"]["attempts"] == 3


def test_reject_goes_to_dmq(spark, tmp_path):
    def rejector(message, task):
        if message["k2"] == "error":
            task.reject("error events are rejected")

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", rejector)])
    res = eng.process_batch(records_df(spark, 30), batch_id=1)
    assert res.incomplete == 0
    from kinesis_stream_consumer_spark.plans.queries import _t

    n_err = (
        _t(spark, SF_SMOKE, "events")
        .where((F.col("event_id") < 30) & (F.col("event_type") == "error"))
        .count()
    )
    assert res.rejected_to_dmq == n_err > 0
    dmq = spark.read.parquet(str(tmp_path / "dmq"))
    assert dmq.count() == n_err
    assert dmq.first()["reasonRejected"] == "error events are rejected"


def test_stale_task_defs_abandoned(spark, tmp_path):
    """T2/T3: prior tasks whose defs no longer exist revive as Unusable and
    are Abandoned so the batch can finalise (test :1955-2289)."""
    def failing(message, task):
        raise RuntimeError("never completes")

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("old_task", failing)])
    with pytest.raises(BatchReplayError):
        eng.process_batch(records_df(spark, 5), batch_id=1)
    # redeploy with a different task set
    eng2 = make_engine(spark, tmp_path, one_defs=[TaskDef("new_task", noop)])
    res = eng2.process_batch(records_df(spark, 5), batch_id=2)
    assert res.incomplete == 0
    for t in tasks_of(eng2).values():
        assert t["new_task"]["status"] == "Completed"
        assert t["old_task"]["status"] == "Abandoned"
    # abandoned ⇒ fully finalised with a terminal status ⇒ DMQ (test :1955)
    assert res.rejected_to_dmq == 5


@pytest.mark.parametrize(
    "mode_kw", [{}, UNSEQUENCED], ids=["per-key", "unsequenced"]
)
def test_process_all_master_slave(spark, tmp_path, mode_kw):
    """X2: processAll master task runs once per batch over incomplete
    messages; its state fans out to per-message slave tasks."""
    seen = {}

    def master(batch_df, engine):
        seen["n"] = batch_df.count()
        return None

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("t1", noop)],
        all_defs=[TaskDef("agg", master)],
        **mode_kw,
    )
    res = eng.process_batch(records_df(spark, 15), batch_id=1)
    assert seen["n"] == 15  # master saw the whole incomplete set once
    assert res.fully_finalised == 15
    for t in tasks_of(eng).values():
        assert t["agg"]["status"] == "Completed" and t["agg"]["attempts"] == 1


def test_process_all_per_message_override(spark, tmp_path):
    """X2 per-message override (README.md:213-218): master can override
    individual slave states."""
    def master(batch_df, engine):
        return {"id1:2": ("Rejected", "singled out by master")}

    eng = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", noop)], all_defs=[TaskDef("agg", master)]
    )
    res = eng.process_batch(records_df(spark, 6), batch_id=1)
    assert res.rejected_to_dmq == 1
    t = tasks_of(eng)["id1:2"]
    assert t["agg"]["status"] == "Rejected"
    assert t["agg"]["reason"] == "singled out by master"


def test_kpl_encoded_pipeline(spark, tmp_path):
    """S3/S5: KPL-aggregated records explode into user records with
    subSequenceNumbers; all process normally."""
    msgs = [
        {"id1": 100 + i, "k1": 1, "k2": "purchase", "n1": f"2024-01-01T00:00:{i:02d}", "n2": 100 + i}
        for i in range(4)
    ]
    blob = kpl_aggregate([("1", json.dumps(m).encode()) for m in msgs])
    plain = {"id1": 999, "k1": 2, "k2": "signup", "n1": "2024-01-02T00:00:00", "n2": 999}
    recs = kpl_records_df(
        spark,
        [
            ("shardId-0:1", base64.b64encode(blob).decode(), "1"),
            ("shardId-0:2", base64.b64encode(json.dumps(plain).encode()).decode(), "2"),
        ],
    )
    eng = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", noop)], kpl_encoded=True
    )
    res = eng.process_batch(recs, batch_id=1)
    assert res.messages == 5  # 4 deaggregated + 1 passthrough
    assert res.fully_finalised == 5
    subseqs = {
        r["event_sub_seq_no"]
        for r in eng.state.read_all().select("event_sub_seq_no").collect()
    }
    assert subseqs == {0, 1, 2, 3, None}

    # rejected KPL sub-records carry the deaggregated userRecord context in
    # their DMQ envelope (kinesis-processing.js:708-724: {message, record,
    # userRecord, state, ...}); the plain passthrough record does not
    def rejector(message, task):
        from kinesis_stream_consumer_spark.streaming.tasks import (
            TaskRejectedError,
        )

        raise TaskRejectedError("all rejected")

    eng2 = make_engine(
        spark,
        tmp_path / "kpl-dmq",
        one_defs=[TaskDef("t1", rejector)],
        kpl_encoded=True,
    )
    res2 = eng2.process_batch(recs, batch_id=1)
    assert res2.rejected_to_dmq == 5
    dmq = spark.read.parquet(str(tmp_path / "kpl-dmq" / "dmq"))
    with_ur = dmq.where(F.col("userRecord").isNotNull())
    assert with_ur.count() == 4  # the 4 deaggregated sub-records
    urs = [json.loads(r["userRecord"]) for r in with_ur.collect()]
    assert {u["subSequenceNumber"] for u in urs} == {0, 1, 2, 3}
    assert all(u["partitionKey"] == "1" for u in urs)
    # the sub-object's payload is the deaggregated user data, not the blob
    assert {json.loads(u["data"])["id1"] for u in urs} == {100, 101, 102, 103}


def test_unsequenced_kpl_siblings_never_block(spark, tmp_path):
    """Q5: in unsequenced mode every message is its own chain. KPL user
    records of one event share their event id, which with no id property
    is also their chain_key, yet a failing sibling must not block the
    others — the exec stage chains on identity, not chain_key."""
    msgs = [
        {"id1": i, "k1": 1, "k2": "boom" if i % 2 else "ok",
         "n1": f"2024-01-01T00:00:{i:02d}", "n2": i}
        for i in range(10)
    ]
    blob = kpl_aggregate([("1", json.dumps(m).encode()) for m in msgs])
    recs = kpl_records_df(
        spark, [("shardId-0:1", base64.b64encode(blob).decode(), "1")]
    )

    def flaky(message, task):
        if message["k2"] == "boom":
            raise RuntimeError("boom")

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("t1", flaky)],
        kpl_encoded=True,
        id_property_names=[],
        **UNSEQUENCED,
    )
    with pytest.raises(BatchReplayError) as ei:
        eng.process_batch(recs, batch_id=1)
    assert ei.value.result.messages == 10
    assert ei.value.result.incomplete == 5
    states = [t["t1"] for t in tasks_of(eng).values()]
    assert all(t["attempts"] == 1 for t in states)  # every sibling ran
    assert Counter(t["status"] for t in states) == {"Completed": 5, "Failed": 5}


def test_timeout_race_marks_timed_out(spark, tmp_path):
    """X5: past the deadline, unfinished tasks become TimedOut; attempts
    reset at finalise (test/kinesis-consumer.test.js:2884-3030,2985-2988);
    state saved; batch fails for replay."""
    import time as _t

    def slowish(message, task):
        _t.sleep(0.05)

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", slowish)])
    with pytest.raises(BatchReplayError):
        # 1ms budget: deadline passes before any task runs
        eng.process_batch(records_df(spark, 10), batch_id=1, remaining_time_ms=1)
    states = tasks_of(eng)
    assert len(states) == 10
    for t in states.values():
        assert t["t1"]["status"] == "TimedOut"
        assert t["t1"]["attempts"] == 0  # X4: TimedOut does not count

    # replay with a real budget: everything completes with attempts == 1
    res = eng.process_batch(records_df(spark, 10), batch_id=2)
    assert res.fully_finalised == 10
    for t in tasks_of(eng).values():
        assert t["t1"]["status"] == "Completed" and t["t1"]["attempts"] == 1


def test_resubmit_incomplete_unsequenced(spark, tmp_path):
    """F2: unsequenced mode + resubmit sink ⇒ incomplete messages are
    resubmitted to the source instead of failing the batch
    (kinesis-consumer.unseq.test.js:1521,2911)."""
    def flaky(message, task):
        if message["id1"] == 3:
            raise RuntimeError("transient")

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("t1", flaky)],
        sequencing_required=False,
        sequencing_per_key=False,
        key_property_names=[],
        seq_no_property_names=[],
    )
    eng.resubmit_path = str(tmp_path / "resubmit")
    res = eng.process_batch(records_df(spark, 10), batch_id=1)  # no raise
    assert res.incomplete == 1
    resub = spark.read.json(str(tmp_path / "resubmit"))
    assert resub.count() == 1
    # the resubmitted record is a well-formed Kinesis record and reprocesses
    from kinesis_stream_consumer_spark.sources.records import KINESIS_RECORD_SCHEMA

    rec2 = spark.read.schema(KINESIS_RECORD_SCHEMA).json(str(tmp_path / "resubmit"))
    eng2 = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("t1", noop)],
        sequencing_required=False,
        sequencing_per_key=False,
        key_property_names=[],
        seq_no_property_names=[],
    )
    res2 = eng2.process_batch(rec2, batch_id=2)
    assert res2.messages == 1 and res2.fully_finalised == 1


def test_hooks_fire(spark, tmp_path):
    """F3: pre/post hooks around the batch (kinesis-processing.js:292-298)."""
    calls = []

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("t1", noop)],
        pre_process_batch=lambda df, e: calls.append("pre_process"),
        pre_finalise_batch=lambda df, e: calls.append("pre_finalise"),
        post_finalise_batch=lambda result, e: calls.append(("post", result.messages)),
    )
    eng.process_batch(records_df(spark, 5), batch_id=1)
    assert calls == ["pre_process", "pre_finalise", ("post", 5)]


def test_pre_process_batch_fires_exactly_once_per_batch(spark, tmp_path):
    """F3 hook cardinality under the stats/plan overlap: _build_phase2 may
    run twice per batch (speculative build + legacy rebuild when the batch
    touches shards outside cache coverage), so a configured
    pre_process_batch gates the overlap OFF — the reference calls
    preProcessBatch exactly once per batch (kinesis-processing.js:292-298)
    and a side-effecting hook must never see a discarded speculative
    plan. Three warm batches ⇒ exactly three invocations."""
    count = {"n": 0}

    def hook(df, e):
        count["n"] += 1
        return None

    eng = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", noop)],
        pre_process_batch=hook,
    )
    for b in (1, 2, 3):
        res = eng.process_batch(records_df(spark, 8), batch_id=b)
        assert res.messages == 8
        assert count["n"] == b


def test_empty_batch(spark, tmp_path):
    """Streaming triggers with no new data deliver empty micro-batches —
    the lifecycle must no-op cleanly (no state write, no DLQ, no raise)."""
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    res = eng.process_batch(records_df(spark, 0), batch_id=1)
    assert res.records == 0 and res.messages == 0 and res.incomplete == 0
    assert not (tmp_path / "state").exists()
    assert not (tmp_path / "dmq").exists()


def test_all_unusable_batch(spark, tmp_path):
    """A batch of only garbage records (reference: batch key resolved from
    the unusable records' shard) still discards to DRQ and checkpoints the
    unusable states, then commits."""
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    garbage = records_df(spark, 5, bad=5).where(
        F.col("eventID").startswith("bad:")
    )
    res = eng.process_batch(garbage, batch_id=1)
    assert res.records == 5 and res.messages == 0 and res.unusable == 5
    assert res.incomplete == 0
    drq = spark.read.parquet(str(tmp_path / "drq"))
    assert drq.count() == 5
    kinds = {r["kind"] for r in eng.state.read_all().collect()}
    assert kinds == {"unusable"}


def test_independent_consumers_share_state_table(spark, tmp_path):
    """C2: N consumers per stream, isolated by streamConsumerId in the
    shared state table (consumerId = function:stage, test/batch.test.js:88).
    One consumer's failure must not disturb the other's checkpoint."""
    def failing(message, task):
        raise RuntimeError("consumer B is broken")

    eng_a = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)],
                        function_name="consumerA")
    eng_b = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", failing)],
                        function_name="consumerB")
    eng_a.process_batch(records_df(spark, 8), batch_id=1)
    with pytest.raises(BatchReplayError):
        eng_b.process_batch(records_df(spark, 8), batch_id=1)
    state = eng_a.state.read_all()
    by_consumer = {
        r["streamConsumerId"]: r["n"]
        for r in state.groupBy("streamConsumerId").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_consumer == {
        "K|TestStream|consumerA:dev": 8,
        "K|TestStream|consumerB:dev": 8,
    }
    # A's tasks all Completed; B's replay sees only B's Failed states
    a_states = json.loads(
        state.where(F.col("streamConsumerId").startswith("K|TestStream|consumerA"))
        .first()["tasks_json"]
    )
    assert a_states["t1"]["status"] == "Completed"
    res_a2 = eng_a.process_batch(records_df(spark, 8), batch_id=2)
    assert res_a2.fully_finalised == 8  # replay skips, untouched by B


def test_subtask_failure_keeps_message_incomplete(spark, tmp_path):
    """X3: sub-task states roll up — a failed sub-task keeps the message
    incomplete even when the parent completed, and the whole task re-runs
    on replay until the sub-task is terminal (README.md:55-60,128-144)."""
    def with_subtask(message, task):
        if message["id1"] == 4:
            task.subtask("persist").fail("downstream store unavailable")
        else:
            task.subtask("persist").complete()

    defs = [TaskDef("t1", with_subtask, sub_task_names=["persist"])]
    eng = make_engine(spark, tmp_path, one_defs=defs)
    with pytest.raises(BatchReplayError) as ei:
        eng.process_batch(records_df(spark, 8), batch_id=1)
    assert ei.value.result.incomplete == 1
    t4 = tasks_of(eng)["id1:4"]["t1"]
    assert t4["status"] == "Completed"           # parent finished
    assert t4["subtasks"]["persist"]["status"] == "Failed"
    ok = tasks_of(eng)["id1:5"]["t1"]
    assert ok["subtasks"]["persist"]["status"] == "Completed"

    # replay with the dependency healthy: whole task re-runs (attempts=2)
    def healthy(message, task):
        task.subtask("persist").complete()

    eng2 = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", healthy, sub_task_names=["persist"])]
    )
    res = eng2.process_batch(records_df(spark, 8), batch_id=2)
    assert res.fully_finalised == 8
    t4b = tasks_of(eng2)["id1:4"]["t1"]
    assert t4b["subtasks"]["persist"]["status"] == "Completed"
    assert t4b["attempts"] == 2
    # untouched messages revived, not re-run
    assert tasks_of(eng2)["id1:5"]["t1"]["attempts"] == 1


def test_failed_discard_fails_batch(spark, tmp_path):
    """D3/F1: failure to discard a rejected message must fail the batch
    (reference test/kinesis-consumer.test.js:1160,2060) — the DMQ append
    error propagates instead of being swallowed."""
    def rejector(message, task):
        task.reject("always rejected")

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", rejector)])
    (tmp_path / "dmq").write_text("not a directory")  # sabotage the sink
    with pytest.raises(Exception) as ei:
        eng.process_batch(records_df(spark, 4), batch_id=1)
    assert not isinstance(ei.value, BatchReplayError)  # a sink error, not F1


@pytest.mark.parametrize(
    "mode_kw",
    [
        {"sequencing_per_key": True, "key_property_names": ["k1", "k2"]},
        {
            "sequencing_required": False,
            "sequencing_per_key": False,
            "key_property_names": [],
            "seq_no_property_names": [],
        },
    ],
    ids=["per-key", "unsequenced"],
)
def test_duplicate_deliveries_within_batch(spark, tmp_path, mode_kw):
    """D1: the same message delivered twice in ONE batch executes once —
    identity dedup on ids/md5s (reference dropDuplicates semantics); state
    holds one row per identity with attempts == 1."""
    calls = []

    def counting(message, task):
        return None

    recs = records_df(spark, 10)
    doubled = recs.unionByName(recs)  # every record delivered twice
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", counting)], **mode_kw)
    res = eng.process_batch(doubled, batch_id=1)
    assert res.records == 20
    assert res.messages == 10  # duplicates collapsed
    assert res.fully_finalised == 10
    states = tasks_of(eng)
    assert len(states) == 10
    for t in states.values():
        assert t["t1"]["attempts"] == 1  # executed once, not twice


def test_giant_single_chain_hot_key(spark, tmp_path):
    """Skew robustness: ONE key owning thousands of messages forms a single
    giant chain. The per-chain executor streams Arrow batches instead of
    materializing the group, so the hot chain completes (serialized, as
    ordering demands) while unrelated keys still parallelize — the engine
    must finish and finalise every message with attempts=1."""
    from tests.conftest import SF_CORRECT

    from kinesis_stream_consumer_spark.plans.queries import _t

    ev = _t(spark, SF_CORRECT, "events").where(F.col("event_id") < 4000)
    # 3000 messages onto one (k1, k2) pair + 1000 spread across real keys
    hot = ev.where(F.col("event_id") < 3000).withColumn(
        "user_id", F.lit(7)
    ).withColumn("event_type", F.lit("click"))
    mixed = hot.unionByName(ev.where(F.col("event_id") >= 3000))
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    res = eng.process_batch(events_as_kinesis_records(mixed), batch_id=1)
    assert res.messages == 4000
    assert res.fully_finalised == 4000
    assert res.incomplete == 0
    state = eng.state.read_all()
    # the hot chain's states share one key (3000 forced + any events that
    # naturally carry user_id=7/click); every task completed exactly once
    natural = (
        ev.where(
            (F.col("event_id") >= 3000)
            & (F.col("user_id") == 7)
            & (F.col("event_type") == "click")
        ).count()
    )
    hot_rows = state.where(F.col("key") == "k1:7|k2:click")
    assert hot_rows.count() == 3000 + natural


def test_multi_batch_chaos_soak(spark, tmp_path):
    """Soak the full lifecycle over 3 DISJOINT batches (the real Kinesis
    shape: committed batches never re-deliver) with a scripted mix of
    transient failures (fail until the 3rd attempt) and permanent
    rejections, driven through the replay loop exactly as foreachBatch
    would. Invariants, checked per batch at drain time (state is
    per-batch-per-shard like the reference's Lambda checkpoint — the next
    committed batch replaces its shard partitions):

    - every batch eventually drains (no incomplete residue),
    - attempts accounting is exact: transients carry attempts == 3
      (2 failures + 1 success), everything else attempts == 1 — replays
      never re-execute completed work (D1),
    - every poison message reaches the DMQ (at-least-once: a replayed run
      re-emits that run's rejected envelopes, so duplicates are bounded
      by the replay count and collapse on the envelope id)."""

    def scripted(message, task):
        mid = message["id1"]
        if mid % 7 == 3:  # permanent poison: reject (→ DMQ, terminal)
            task.reject(f"poison {mid}")
        if mid % 5 == 2 and task.attempts < 3:  # transient: fail twice
            raise RuntimeError(f"transient {mid} attempt {task.attempts}")

    from kinesis_stream_consumer_spark.plans.queries import _t
    from kinesis_stream_consumer_spark.sources import events_as_kinesis_records

    ev = _t(spark, SF_SMOKE, "events")
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("work", scripted)])
    bid = 0
    max_runs = 0
    for lo, hi in ((0, 12), (12, 24), (24, 36)):
        recs = events_as_kinesis_records(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        )
        for runs in range(1, 7):  # replay loop, as foreachBatch would
            bid += 1
            try:
                eng.process_batch(recs, batch_id=bid)
                max_runs = max(max_runs, runs)
                break
            except BatchReplayError:
                continue
        else:
            raise AssertionError(f"batch [{lo},{hi}) never drained")

        states = tasks_of(eng)  # latest saved batch == this one
        batch_ids = {f"id1:{i}" for i in range(lo, hi)}
        assert batch_ids <= set(states)
        for i in range(lo, hi):
            work = states[f"id1:{i}"]["work"]
            st, att = work["status"], work["attempts"]
            if i % 7 == 3:
                assert st == "Rejected" and att == 1, (i, st, att)
            elif i % 5 == 2:
                assert st in ("Completed", "Succeeded") and att == 3, (i, st, att)
            else:
                assert st in ("Completed", "Succeeded") and att == 1, (i, st, att)

    poison_ids = {i for i in range(36) if i % 7 == 3}
    dmq = spark.read.parquet(str(tmp_path / "dmq"))
    per_id = {r["id"]: r["n"] for r in dmq.groupBy("id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_id) == {f"id1:{i}" for i in poison_ids}
    # at-least-once: duplicates bounded by the worst replay count
    assert all(1 <= n <= max_runs for n in per_id.values()), per_id


def test_fused_finalise_equals_two_stage(spark, tmp_path):
    """r4's fused exec+finalise path must be byte-equivalent to the
    two-stage path (exec -> _finalise_fn with no processAll results) on
    the same input: completing, failing, rejecting, duplicate-delivery,
    chain-blocked, and max-attempts-discard messages all produce the same
    tasks_json and flags either way — for sequenced chains, and for the
    unsequenced (Q5) input, where the chain column holds each message's
    own identity."""
    import json as _json

    import pandas as pd

    from kinesis_stream_consumer_spark.streaming import tasks as tk
    from kinesis_stream_consumer_spark.streaming.engine import _PASS_COLS

    def flaky(message, task):
        if message.get("k2") == "boom":
            raise RuntimeError("boom")
        if message.get("k2") == "reject":
            raise tk.TaskRejectedError("nope")
        return None

    eng = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", flaky)], max_number_of_attempts=3
    )

    # prior state one attempt away from the discard threshold
    prior = tk.init_tasks(None, eng.one_defs, [])
    prior["t1"]["status"] = "Failed"
    prior["t1"]["attempts"] = 2
    prior_json = tk.dumps(prior)

    def _stable(tj):
        def scrub(node):
            node.pop("took_ms", None)
            node.pop("began", None)
            for sub in node.get("subtasks", {}).values():
                scrub(sub)

        tasks = _json.loads(tj)
        for st in tasks.values():
            scrub(st)
        return _json.dumps(tasks, sort_keys=True)

    def fused_vs_two_stage(rows, n_out):
        """Run both paths over (chain_key, identity, prior, data) rows,
        assert they agree and emit ``n_out`` rows, return the fused
        output by identity."""
        pdf = pd.DataFrame(
            {c: ["x"] * len(rows) for c in _PASS_COLS}
            | {
                "chain_key": [r[0] for r in rows],
                "identity": [r[1] for r in rows],
                "prior_tasks_json": [r[2] for r in rows],
                "data_str": [r[3] for r in rows],
                "seq_index": list(range(len(rows))),
            }
        )
        fused_out = pd.concat(list(eng._exec_fn(None, fused_finalise=True)([pdf])))
        exec_out = pd.concat(list(eng._exec_fn(None, fused_finalise=False)([pdf])))
        two_stage = pd.concat(
            list(
                eng._finalise_fn([])(
                    [exec_out.drop(columns=["_one_fully_finalised"])]
                )
            )
        )
        assert len(fused_out) == n_out
        assert list(fused_out["identity"]) == list(two_stage["identity"])
        assert list(fused_out["seq_index"]) == list(two_stage["seq_index"])
        assert [_stable(t) for t in fused_out["tasks_json"]] == [
            _stable(t) for t in two_stage["tasks_json"]
        ]
        for col in ["fully_finalised", "rejectedish", "incomplete",
                    "reason_rejected"]:
            assert list(fused_out[col]) == list(two_stage[col]), col
        return {r["identity"]: r for _, r in fused_out.iterrows()}

    by_id = fused_vs_two_stage(
        [
            # chain A: ok, then boom (fails + blocks), then ok (blocked)
            ("A", "a1", None, '{"k2": "ok"}'),
            ("A", "a2", None, '{"k2": "boom"}'),
            ("A", "a3", None, '{"k2": "ok"}'),
            # chain B: duplicate delivery of the same identity
            ("B", "b1", None, '{"k2": "ok"}'),
            ("B", "b1", None, '{"k2": "ok"}'),
            # chain C: rejected; chain D: revived at the discard threshold
            ("C", "c1", None, '{"k2": "reject"}'),
            ("D", "d1", prior_json, '{"k2": "boom"}'),
        ],
        n_out=6,                                           # dup dropped
    )
    # sanity: the scenarios actually exercised distinct outcomes
    assert by_id["a2"]["incomplete"]                       # failed
    assert by_id["a3"]["incomplete"]                       # chain-blocked
    assert by_id["c1"]["rejectedish"]                      # rejected
    assert by_id["d1"]["fully_finalised"]                  # discarded at max
    assert "discarded after 3 attempts" in _json.dumps(
        _json.loads(by_id["d1"]["tasks_json"])
    )
    assert "b1" in by_id

    # unsequenced: identities already deduplicated, each its own chain
    by_id = fused_vs_two_stage(
        [
            (ident, ident, prior, data)
            for ident, prior, data in [
                ("u1", None, '{"k2": "ok"}'),
                ("u2", None, '{"k2": "boom"}'),
                ("u3", None, '{"k2": "ok"}'),
                ("u4", None, '{"k2": "reject"}'),
                ("u5", prior_json, '{"k2": "boom"}'),
            ]
        ],
        n_out=5,                                           # nothing dropped
    )
    assert {r["seq_index"] for r in by_id.values()} == {1}
    assert by_id["u2"]["incomplete"]                       # failed
    assert by_id["u3"]["fully_finalised"]                  # not blocked
    assert by_id["u4"]["rejectedish"]                      # rejected
    assert by_id["u5"]["fully_finalised"]                  # discarded at max
    assert by_id["u5"]["reason_rejected"].startswith("discarded after 3")


def test_fused_save_overwrite_under_read(spark, tmp_path):
    """Pins the committer assumption documented at StateStore.save: the
    fused save+counters job is the action that materializes the lazy exec
    checkpoint, so the revive-join READS the very (consumer, shard)
    partitions the dynamic-overwrite save REPLACES. With a commit-time
    committer (built-in Hadoop FileOutputCommitter) every read of the
    prior files finishes before the swap, and revived attempts stay
    single-counted — a failed task revived once re-runs with attempts
    exactly 2, never 3 (3 would mean a task replayed against its own
    freshly-saved state). Fresh Engine per batch forces the revive to
    read from the parquet on disk (no warm cache, no cold overlap)."""

    def always_fails(message, task):
        raise RuntimeError("keep failing")

    eng1 = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", always_fails)],
        max_number_of_attempts=10,
    )
    with pytest.raises(BatchReplayError):
        eng1.process_batch(records_df(spark, 12), batch_id=1)
    first = tasks_of(eng1)
    # chain heads failed once; successors blocked (attempts 0)
    assert {t["t1"]["attempts"] for t in first.values()} <= {0, 1}
    assert any(t["t1"]["attempts"] == 1 for t in first.values())

    # batch 2: same records, fresh engine ⇒ revive reads the state parquet
    # inside the same job whose save overwrites those partitions
    eng2 = make_engine(
        spark, tmp_path, one_defs=[TaskDef("t1", always_fails)],
        max_number_of_attempts=10,
    )
    assert not eng2.state.is_empty()
    with pytest.raises(BatchReplayError):
        eng2.process_batch(records_df(spark, 12), batch_id=2)
    second = tasks_of(eng2)
    assert set(second) == set(first)
    for ident, t in second.items():
        prev = first[ident]["t1"]["attempts"]
        got = t["t1"]["attempts"]
        # every revived head increments exactly once; never double-counted
        assert got == prev + (1 if prev >= 1 else 0) or (prev == 0 and got <= 1), (
            ident, prev, got,
        )
    assert any(t["t1"]["attempts"] == 2 for t in second.values())
    assert all(t["t1"]["attempts"] <= 2 for t in second.values())


def test_warm_cache_miss_revives_uncovered_shards_from_disk(spark, tmp_path):
    """A warm engine plans phase 2 against its saved-state cache while the
    stats job runs. When the batch also touches shards the cache does not
    cover, that plan cannot see their prior state: it must be dropped and
    phase 2 rebuilt from the disk load. Shard A is the even user ids, shard
    B the odd ones; B's prior state was written by another engine whose
    task failed once, so the failed message re-runs as attempt 2, not 1."""
    from kinesis_stream_consumer_spark.plans.queries import _t

    ev = _t(spark, SF_SMOKE, "events").where(F.col("event_id") < 20)
    in_a = F.col("user_id") % 2 == 0
    recs_a = events_as_kinesis_records(ev.where(in_a), n_shards=2)
    recs_b = events_as_kinesis_records(ev.where(~in_a), n_shards=2)
    target = ev.where(~in_a).agg(F.min("event_id")).first()[0]
    assert target is not None and ev.where(in_a).count() > 0

    def fails_on_target(message, task):
        if message["id1"] == target:
            raise RuntimeError("fails once")

    eng_b = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", fails_on_target)])
    with pytest.raises(BatchReplayError):
        eng_b.process_batch(recs_b, batch_id=1)
    assert tasks_of(eng_b)[f"id1:{target}"]["t1"]["attempts"] == 1

    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("t1", noop)])
    eng.process_batch(recs_a, batch_id=2)
    assert len(eng._saved_state.shards) == 1  # the cache covers A only

    res = eng.process_batch(recs_a.unionByName(recs_b), batch_id=3)
    assert res.messages == 20 and res.fully_finalised == 20
    attempts = {i: t["t1"]["attempts"] for i, t in tasks_of(eng).items()}
    assert len(attempts) == 20
    assert attempts.pop(f"id1:{target}") == 2  # revived from disk
    assert set(attempts.values()) == {1}


def test_deferred_discard_sinks_land_at_next_batch_or_drain(spark, tmp_path):
    """config.deferred_discard_sinks: DRQ/DMQ appends come off the batch
    critical path and are joined at the next process_batch / explicit
    drain — delivery is preserved (same envelopes as the synchronous
    mode), only the durability barrier moves."""
    from kinesis_stream_consumer_spark.streaming.tasks import (
        TaskRejectedError,
    )

    def rejector(message, task):
        raise TaskRejectedError("all rejected")

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("rejector", rejector)],
        deferred_discard_sinks=True,
    )
    res = eng.process_batch(records_df(spark, n=10, bad=2), 0)
    assert res.rejected_to_dmq == 10 and res.unusable == 2
    # appends were submitted, not awaited — drain makes them durable
    eng.drain_discard_sinks()
    dmq = spark.read.parquet(str(tmp_path / "dmq"))
    drq = spark.read.parquet(str(tmp_path / "drq"))
    assert dmq.count() == 10
    assert drq.count() == 2
    # second batch: the in-batch drain joins batch 0's (already drained)
    # futures and batch 1's own appends land after its drain
    eng.process_batch(records_df(spark, n=10, bad=0), 1)
    eng.drain_discard_sinks()
    assert spark.read.parquet(str(tmp_path / "dmq")).count() == 20


def test_deferred_discard_sink_failure_surfaces_on_next_batch(
    spark, tmp_path, monkeypatch
):
    """A deferred append that fails raises at the NEXT batch's entry
    barrier (the documented durability trade of the deferred mode)."""
    from kinesis_stream_consumer_spark.streaming.tasks import (
        TaskRejectedError,
    )
    import kinesis_stream_consumer_spark.streaming.engine as eng_mod

    def rejector(message, task):
        raise TaskRejectedError("all rejected")

    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("rejector", rejector)],
        deferred_discard_sinks=True,
    )

    def boom(*a, **k):
        raise RuntimeError("sink down")

    monkeypatch.setattr(eng_mod, "append_to_queue", boom)
    eng.process_batch(records_df(spark, n=5), 0)  # submit happens, no raise
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="sink down"):
        eng.process_batch(records_df(spark, n=5), 1)


def test_close_drains_sinks_and_joins_pool_threads(spark, tmp_path):
    """Engine.close(): the deferred appends land, then both engine pools
    stop — no thread of theirs outlives the call, and a second close is
    a no-op."""
    import threading

    from kinesis_stream_consumer_spark.streaming.tasks import (
        TaskRejectedError,
    )

    def rejector(message, task):
        raise TaskRejectedError("all rejected")

    def pool_threads():
        return {
            t
            for t in threading.enumerate()
            if t.name.startswith(("ksc-engine_", "ksc-deferred-sink_"))
        }

    before = pool_threads()
    eng = make_engine(
        spark,
        tmp_path,
        one_defs=[TaskDef("rejector", rejector)],
        deferred_discard_sinks=True,
    )
    res = eng.process_batch(records_df(spark, n=10, bad=2), 0)
    assert res.rejected_to_dmq == 10 and res.unusable == 2
    started = pool_threads() - before
    # the stats collect ran on the engine pool, the appends on the
    # deferred-sink pool
    assert {t.name.split("_")[0] for t in started} == {
        "ksc-engine",
        "ksc-deferred-sink",
    }
    eng.close()
    assert not any(t.is_alive() for t in started)
    assert spark.read.parquet(str(tmp_path / "dmq")).count() == 10
    assert spark.read.parquet(str(tmp_path / "drq")).count() == 2
    eng.close()


def test_exec_width_is_the_task_slots(spark, tmp_path):
    """A batch of more than 500 rows per task slot runs its exec stage at
    exactly the slots, defaultParallelism capped by the shuffle width: a
    Python stage wider than the slots pays its per-task launch cost again
    for every extra wave. Holds for the first batch's estimate, for the
    steady-state one (the previous batch's count) and right after a jump
    from a small batch, whose count would size it at 1 task. A small
    batch after a small one runs 1 task: the rows/500 term, which keeps
    a small batch off the slots it cannot use (see
    ``_Ingested.exec_width``). One shard, so each batch's saved state
    covers the next and the speculative plan is a candidate on every
    batch."""
    from kinesis_stream_consumer_spark.plans.queries import _t

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = min(width, spark.sparkContext.defaultParallelism)
    n = 500 * (slots + 1)
    assert n <= 10_000, "sf0.01 holds 10k events"
    events = _t(spark, SF_CORRECT, "events")
    large = events_as_kinesis_records(events.where(F.col("event_id") < n), n_shards=1)
    small = events_as_kinesis_records(events.where(F.col("event_id") < 10), n_shards=1)
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("noop", noop)])
    batches = ((0, large, n), (1, large, n), (2, small, 10), (3, small, 10), (4, large, n))
    for batch_id, recs, size in batches:
        res = eng.process_batch(recs, batch_id)
        assert res.messages == size and res.fully_finalised == size
        if recs is large:
            assert res.exec_partitions == slots, (batch_id, res.exec_partitions, slots)
        elif batch_id == 3:
            assert res.exec_partitions == 1, (batch_id, res.exec_partitions)


def test_unsequenced_exec_partitions_is_the_exec_width(spark, tmp_path, monkeypatch):
    """Unsequenced (Q5) mode: ``BatchResult.exec_partitions`` is the
    number of partitions the exec stage really ran, small batch or large.
    The D1 dedup shuffle is the exec width's repartition, so AQE cannot
    coalesce it below the reported width."""
    from kinesis_stream_consumer_spark.plans.queries import _t

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = min(width, spark.sparkContext.defaultParallelism)
    n = 500 * (slots + 1)
    events = _t(spark, SF_CORRECT, "events")
    large = events_as_kinesis_records(events.where(F.col("event_id") < n))
    small = events_as_kinesis_records(events.where(F.col("event_id") < 10))
    eng = make_engine(spark, tmp_path, one_defs=[TaskDef("noop", noop)], **UNSEQUENCED)
    ran = []
    revive_and_exec = eng._revive_and_exec

    def spy(*args, **kwargs):
        plan, prior = revive_and_exec(*args, **kwargs)
        ran.append(plan.frame.rdd.getNumPartitions())
        return plan, prior

    monkeypatch.setattr(eng, "_revive_and_exec", spy)
    for batch_id, recs, size in ((0, small, 10), (1, large, n), (2, small, 10)):
        res = eng.process_batch(recs, batch_id)
        assert res.messages == size and res.fully_finalised == size
        assert res.exec_partitions == ran[-1], (batch_id, res.exec_partitions, ran)
        if recs is large:
            assert res.exec_partitions == slots, (batch_id, res.exec_partitions, slots)


def test_sample_sketch_register_bounded_and_compaction_immortal(spark, tmp_path):
    """track_sample_sketch: the per-shard reservoir register stays at
    <= n+1 rows no matter how many batches flow through, survives
    retention compaction (cumulative sketch kinds are exempt), and a
    re-delivered batch leaves it bit-identical (min-merge idempotence)."""
    n = 5
    eng = make_engine(
        spark, tmp_path, one_defs=[TaskDef("noop", noop)],
        track_sample_sketch=True, sample_sketch_n=n,
    )
    eng.process_batch(records_df(spark, n=40), 0)
    eng.process_batch(
        records_df(spark, n=80).where(F.col("eventID").isNotNull()), 1
    )

    def regs():
        return sorted(
            (r["shardOrEventID"], r["sketch_bucket"], r["identity"], r["sketch_r"])
            for r in spark.read.parquet(str(tmp_path / "state"))
            .where(F.col("kind") == "rsv")
            .collect()
        )

    before = regs()
    per_shard = {}
    for g, *_ in before:
        per_shard[g] = per_shard.get(g, 0) + 1
    assert per_shard and all(v <= n + 1 for v in per_shard.values())
    # re-delivery under a new batch_id: min-merge must be a no-op
    eng.process_batch(
        records_df(spark, n=40).where(F.col("eventID").isNotNull()), 2
    )
    assert regs() == before
    # compaction reaps finalised messages but never the sample register
    dropped = eng.state.compact(before_batch_id=99)
    assert dropped > 0
    assert regs() == before
