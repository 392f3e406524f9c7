"""The engine workload, and the per-layer probes of a traced run.

engine_large_replay: ``Engine.process_batch`` on batches of 12k records
materialized in setup, per-key sequencing over Zipf keys, two processOne
tasks (one with a sub-task), 30 % of messages in KPL aggregates, and
seeded transient and permanent failures, so each batch commits on its
third pass. It is a closed loop: one pass in flight. Both the fixed cost
of a pass and its per-message work show here, and it is the workload that
reads state back and revives it.
"""

from __future__ import annotations

import base64
import json
import os
import time
from dataclasses import replace

from kinesis_stream_consumer_spark.config import EngineConfig
from kinesis_stream_consumer_spark.sources import read_records
from kinesis_stream_consumer_spark.streaming import (
    BatchReplayError,
    Engine,
    StateStore,
    TaskDef,
    ingest,
    sequence_messages,
)
from kinesis_stream_consumer_spark.streaming import tasks as tk
from kinesis_stream_consumer_spark.streaming.dlq import append_to_queue
from perfbench import checks
from perfbench.common import Outcome, Run, add_counts
from perfbench.records import Spec, generate
from perfbench.tasks import enrich, validate

REPLAY_SPEC = Spec(
    shards=4, keys=4000, zipf_s=1.1, rejected=0.05, unusable=0.01,
    transient=0.01, permanent=0.002, kpl=0.3,
)
REPLAY_RECORDS = 12_000
# The warm-up batch has transient failures only: two passes, the second
# through the revive path.
REPLAY_WARM_SPEC = replace(REPLAY_SPEC, permanent=0.0)
REPLAY_WARM_RECORDS = 1_000
REPLAY_COMMIT_S = 12.0  # nominal commit time: timed commits = seconds / this

PROBE_SAMPLE = 2_000  # messages timed through execute_one_task in-process


class _Recorder(Engine):
    """The engine, keeping ``last_section_times`` of every call."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.sections: list[dict] = []

    def process_batch(self, *args, **kwargs):
        try:
            return super().process_batch(*args, **kwargs)
        finally:
            self.sections.append(dict(getattr(self, "last_section_times", {})))


def _engine(run: Run, cfg: EngineConfig, defs) -> _Recorder:
    return _Recorder(
        run.spark, cfg, run.path("state"), run.path("drq"), run.path("dmq"), defs
    )


def _write_batch(directory: str, batch) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"b{batch.index:03d}.json")
    with open(path, "wb") as f:
        f.write(batch.jsonl())
    return path


def _check(run: Run, eng: _Recorder, state_batch, batches, task_names) -> dict:
    """Problems per batch index over everything the engine wrote; see
    ``checks.engine_problems``."""
    spark = run.spark
    with run.tracer.span("check"):
        state = [
            tuple(r)
            for r in eng.state.read_all()
            .select("kind", "id", "event_id", "tasks_json")
            .collect()
        ]
        dmq = [r[0] for r in spark.read.parquet(eng.dmq_path).select("id").collect()]
        drq = [r[0] for r in spark.read.parquet(eng.drq_path).select("eventID").collect()]
        problems = checks.engine_problems(state_batch, batches, state, dmq, drq, task_names)
    attempts = sum(
        st["attempts"]
        for kind, _, _, tj in state
        if kind != "unusable"
        for st in json.loads(tj).values()
    )
    n_msgs = sum(1 for row in state if row[0] != "unusable")
    run.layer["tasks.executions_per_message"] = attempts / max(1, n_msgs)
    run.layer["dlq.dmq_rows"] = len(dmq)
    run.layer["dlq.drq_rows"] = len(drq)
    for index, texts in sorted(problems.items()):
        print(f"check: batch {index}: {len(texts)} problems, e.g. {texts[0]}")
    return problems


def _engine_layer(run: Run, walls, counts: dict, sections, commits: int) -> None:
    n = max(1, len(walls))
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "spill_bytes"):
        run.layer[f"engine.{key}"] = counts.get(key, 0) / n
    run.layer["engine.driver_only_s"] = (sum(walls) - counts.get("job_busy_s", 0.0)) / n
    run.layer["engine.commits_per_pass"] = commits / n
    for label in {k for s in sections for k in s}:
        run.layer[f"engine.section.{label}_s"] = sum(s.get(label, 0.0) for s in sections) / n


# --- engine_large_replay --------------------------------------------------------


def _commit(eng: Engine, df, batch, on_pass) -> list[str]:
    """Resubmit ``batch`` with the same batch_id until it commits. Returns
    each pass's outcome: 'replay', 'commit' or 'error'."""
    outcomes: list[str] = []
    while len(outcomes) < batch.passes + 2:
        t = time.perf_counter()
        try:
            eng.process_batch(df, batch.index)
            outcome = "commit"
        except BatchReplayError:
            outcome = "replay"
        except Exception as e:  # noqa: BLE001 - an unexpected error fails the pass
            print(f"replay: batch {batch.index} pass {len(outcomes) + 1}: {e!r}"[:2000])
            outcome = "error"
        on_pass(time.perf_counter() - t, outcome)
        outcomes.append(outcome)
        if outcome != "replay":
            break
    return outcomes


def engine_large_replay(run: Run) -> Outcome:
    spark, tr = run.spark, run.tracer
    n_commits = max(1, round(run.seconds / REPLAY_COMMIT_S))
    with tr.span("setup.generate"):
        warm = generate(run.seed, REPLAY_WARM_SPEC, 1, REPLAY_WARM_RECORDS)[0]
        timed = generate(run.seed, REPLAY_SPEC, n_commits, REPLAY_RECORDS, first=1)
    with tr.span("setup.materialize"):
        frames = {
            b.index: read_records(spark, _write_batch(run.path("in"), b)).localCheckpoint(eager=True)
            for b in [warm, *timed]
        }
    cfg = EngineConfig(
        sequencing_per_key=True,
        key_property_names=["k1"],
        id_property_names=["id1"],
        seq_no_property_names=["n1"],
        kpl_encoded=True,
        max_number_of_attempts=2,
    )
    defs = [TaskDef("validate", validate), TaskDef("enrich", enrich, sub_task_names=["persist"])]
    eng = _engine(run, cfg, defs)
    with tr.span("setup.warm", records=REPLAY_WARM_RECORDS):
        if _commit(eng, frames[warm.index], warm, lambda s, o: None)[-1] != "commit":
            raise RuntimeError("warm-up batch did not commit")
    setup_s = time.perf_counter() - run.t0

    cursor = run.cursor()
    n_sections = len(eng.sections)
    op_s: list[float] = []
    pass_failed: list[bool] = []
    counts: dict = {}
    committed = []
    problems: dict = {}
    with tr.span("window", commits=n_commits):
        def on_pass(wall, outcome):
            op_s.append(wall)
            pass_failed.append(outcome == "error")
            if cursor:
                add_counts(counts, cursor.read())

        for b in timed:
            with tr.span("commit", batch=b.index, expected_passes=b.passes) as span:
                outcomes = _commit(eng, frames[b.index], b, on_pass)
                span["outcomes"] = outcomes
            if outcomes[-1] != "commit":
                continue
            committed.append(b)
            # a wrong output, or more or fewer replays than the failures
            # predict, fails the pass that committed the batch
            problems.update(_check(run, eng, b, [warm, *committed], ["validate", "enrich"]))
            if cursor:
                cursor.read()  # the check's jobs belong to no pass
            if len(outcomes) != b.passes:
                print(f"replay: batch {b.index} took {len(outcomes)} passes, expected {b.passes}")
            if b.index in problems or len(outcomes) != b.passes:
                pass_failed[-1] = True
    work_s = sum(op_s)
    if run.trace:
        _engine_layer(run, op_s, counts, eng.sections[n_sections:], len(committed))
        _probes(run, eng, cfg, defs, timed[-1])
    return Outcome(
        setup_s=setup_s,
        work_s=work_s,
        op_s=op_s,
        items=sum(b.messages + len(b.unusable) for b in committed),
        attempted=len(op_s),
        failed=sum(pass_failed),
        correct=not problems and len(committed) == len(timed) and not any(pass_failed),
    )


# --- per-layer probes (traced runs, after the timed window) ---------------------


def _noop_write(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _timed(run: Run, name: str, fn) -> tuple[float, dict]:
    cursor = run.cursor()
    with run.tracer.span(f"probe.{name}"):
        t = time.perf_counter()
        fn()
        wall = time.perf_counter() - t
    return wall, cursor.read()


def _sample_messages(batch, n: int) -> list[dict]:
    out = []
    for line in batch.lines:
        data = base64.b64decode(json.loads(line)["kinesis"]["data"])
        try:
            msg = json.loads(data)
        except ValueError:  # KPL aggregate or unusable record
            continue
        if "fate" in msg:
            out.append(msg)
        if len(out) == n:
            break
    return out


def _probes(run: Run, eng: Engine, cfg: EngineConfig, defs, batch) -> None:
    """Standalone calls into each engine layer on one recorded batch."""
    from pyspark.sql import functions as F

    spark, layer = run.spark, run.layer
    path = os.path.join(run.path("in"), f"b{batch.index:03d}.json")
    layer["sources.read_s"], _ = _timed(
        run, "read", lambda: _noop_write(read_records(spark, path))
    )
    records = read_records(spark, path).localCheckpoint(eager=True)
    layer["sources.input_rows"] = records.count()

    ing = ingest(records, cfg)
    layer["ingest.s"], c = _timed(run, "ingest", lambda: _noop_write(ing.tagged))
    layer["ingest.executor_cpu_s"] = c["executor_cpu_s"]
    split = dict(
        ing.tagged.groupBy(F.col("reason_unusable").isNull()).count().collect()
    )
    layer["ingest.messages_out"] = split.get(True, 0)
    layer["ingest.unusable_rows"] = split.get(False, 0)

    messages = ing.messages.localCheckpoint(eager=True)
    seq = sequence_messages(messages, cfg)
    layer["sequencing.s"], c = _timed(run, "sequencing", lambda: _noop_write(seq))
    layer["sequencing.shuffle_write_bytes"] = c["shuffle_write_bytes"]
    chains = seq.groupBy("chain_key").count().agg(F.count("*"), F.max("count")).first()
    layer["sequencing.chains"], layer["sequencing.max_chain_len"] = chains[0], chains[1]

    sample = _sample_messages(batch, PROBE_SAMPLE)
    with run.tracer.span("probe.tasks", messages=len(sample)):
        t = time.perf_counter()
        for msg in sample:
            tasks = tk.init_tasks(None, defs, [])
            for d in defs:
                tk.execute_one_task(tasks[d.name], d, msg)
        layer["tasks.execute_one_us"] = (time.perf_counter() - t) / max(1, len(sample)) * 1e6

    store = StateStore(spark, eng.state.path)
    loaded = store.load(cfg.stream_consumer_id)
    layer["state.load_s"], _ = _timed(run, "state_load", lambda: _noop_write(loaded))
    loaded = loaded.localCheckpoint(eager=True)
    layer["state.rows"] = loaded.count()
    probe_store = StateStore(spark, run.path("probe_state"))
    layer["state.save_s"], _ = _timed(run, "state_save", lambda: probe_store.save(loaded))
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(eng.state.path)
        for f in fs
        if f.endswith(".parquet")
    ]
    layer["state.files"] = len(files)
    layer["state.bytes"] = sum(os.path.getsize(f) for f in files)

    dmq = spark.read.parquet(eng.dmq_path).localCheckpoint(eager=True)
    n_dmq = dmq.count()
    layer["dlq.append_s"], _ = _timed(
        run, "dlq_append", lambda: append_to_queue(dmq, run.path("probe_dmq"), n_dmq)
    )
