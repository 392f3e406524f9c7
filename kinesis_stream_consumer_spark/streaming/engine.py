"""The stream-consumer engine — reference §3's 3-phase lifecycle on Spark.

    Phase 1 initiateBatch:  ingest (S3–S7, I1–I3, P1) → sequence (Q1–Q5)
                            → batch stats (I4)            [_ingest,
                                                  _stats_and_speculate]
    Phase 2 processBatch:   load state (T1) → revive (T2) → processOne per
                            chain via mapInPandas (X1, X3, D1 idempotent
                            skip) → processAll master/slave (X2) →
                            finalise-merge pass (X4 max-attempts →
                            Discarded, T3 Unusable → Abandoned)
                                          [_revive_and_exec, _process_all]
    Phase 3 finaliseBatch:  counters → DRQ (D2) + save state (T4) → DMQ
                            (D3) → commit or raise-for-replay (F1)
                            [_count_finalised, _save_and_sink,
                             _discard_rejected, _commit_or_replay]

``process_batch`` calls these in order; each takes what the one before it
returned, so none can run before its input exists.

Reference trace: kinesis-consumer.js:197-206 → core 3 phases, names
asserted at test/kinesis-consumer.test.js:369-382.

Scale shape: the only Python in the hot path is (a) the per-chain ordered
task loop — grouped, Arrow-batched, executor-side, exactly as parallel as
the number of chains (per-key mode ⇒ thousands of small groups), and
(b) one mapInPandas finalise-merge pass. Everything else — parse, identify,
sequence windows, joins, DLQ projection, state upsert — is JVM-side
codegen. No driver-side per-message loops anywhere.

Replay contract (F1): `process_batch` raising `BatchReplayError` after the
state save is the Lambda-failure analogue — under `foreachBatch` Spark
retries the micro-batch, the saved state makes the retry idempotent
(completed tasks revive as Completed and are skipped, attempts preserved —
test/kinesis-consumer.test.js:746-845).
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import (
    Callable, Dict, Iterator, List, NamedTuple, Optional, Sequence, Tuple, Union,
)

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_stream_consumer_spark.config import EngineConfig, StreamType
from kinesis_stream_consumer_spark.streaming import tasks as tk
from kinesis_stream_consumer_spark.streaming.dlq import append_to_queue
from kinesis_stream_consumer_spark.streaming.ingest import ingest
from kinesis_stream_consumer_spark.streaming.state import STATE_SCHEMA, StateStore
from kinesis_stream_consumer_spark.streaming.tasks import TaskDef

_PASSTHROUGH = [
    ("identity", T.StringType()),
    ("event_id", T.StringType()),
    ("shard_id", T.StringType()),
    ("event_seq_no", T.StringType()),
    ("event_sub_seq_no", T.LongType()),
    ("partition_key", T.StringType()),
    ("explicit_hash_key", T.StringType()),
    ("record_json", T.StringType()),
    ("data_str", T.StringType()),
    ("id", T.StringType()),
    ("key", T.StringType()),
    ("seqNo", T.StringType()),
    ("msg_md5", T.StringType()),
    ("rec_md5", T.StringType()),
    ("data_md5", T.StringType()),
    ("chain_key", T.StringType()),
    ("seq_index", T.IntegerType()),
]

_EXEC_BASE_FIELDS = [T.StructField(n, t) for n, t in _PASSTHROUGH] + [
    T.StructField("tasks_json", T.StringType())
]

# _one_fully_finalised is computed INSIDE the exec pandas fn (the executor
# already holds the parsed task tree) — the processAll scoping flag costs
# zero extra work there, whereas deriving it afterwards would mean a
# row-wise Python UDF re-parsing tasks_json (a BatchEvalPython node, the
# exact thing the plan-hygiene gate bans in query plans).
_EXEC_SCHEMA = T.StructType(
    _EXEC_BASE_FIELDS + [T.StructField("_one_fully_finalised", T.BooleanType())]
)

_FINAL_SCHEMA = T.StructType(
    _EXEC_BASE_FIELDS
    + [
        T.StructField("fully_finalised", T.BooleanType()),
        T.StructField("rejectedish", T.BooleanType()),
        T.StructField("incomplete", T.BooleanType()),
        T.StructField("reason_rejected", T.StringType()),
    ]
)

_PASS_COLS = [n for n, _ in _PASSTHROUGH]
# per-message output columns: of the exec stage, and of finalise (the
# order of tasks.finalise_outputs' tuple)
_EXEC_COLS = ["tasks_json", "_one_fully_finalised"]
_FINAL_COLS = [
    "tasks_json", "fully_finalised", "rejectedish", "incomplete", "reason_rejected"
]
# a processAll master's outcome: (name, status, error, reason, per-message
# overrides {identity: (status, reason)})
_MasterResult = Tuple[
    str, str, Optional[str], Optional[str], Dict[str, Tuple[str, str]]
]
# batch counters besides the message count: _Counters field → finalise flag
_COUNTED_FLAGS = {
    "rejected": "rejectedish",
    "fully_finalised": "fully_finalised",
    "incomplete": "incomplete",
}


def _assign_rows(out: pd.DataFrame, names: List[str], rows: list) -> None:
    """Set columns ``names`` of ``out`` from one tuple per row."""
    columns = list(zip(*rows)) if rows else [()] * len(names)
    for name, values in zip(names, columns):
        out[name] = list(values)


def _live(states: DataFrame) -> DataFrame:
    """The state rows a message can revive from."""
    return states.where(F.col("kind").isin("message", "rejected"))


def _registers(
    prior_all: DataFrame, kind: str, *cols: Column, batch_id: Optional[int] = None
) -> DataFrame:
    """The prior state's ``kind`` sketch rows as (g = shard key, *cols);
    ``batch_id`` keeps only that batch's rows (an additive delta)."""
    rows = prior_all.where(F.col("kind") == kind)
    if batch_id is not None:
        rows = rows.where(F.col("batch_id") == batch_id)
    return rows.select(F.col("shardOrEventID").alias("g"), *cols)


def _additive_registers(
    delta: DataFrame, prior_all: DataFrame, batch_id: int, kind: str, id_prefix: str
) -> list:
    """Replay-safe maintenance of an ADDITIVE register sketch in the state
    table (shared by the CMS and quantile twins): the cumulative
    registers (``kind``) and this batch's delta (``kind``_delta), as
    ``Engine._with_sketches`` register entries. ``delta`` is this batch's
    registers as (g, idx, cnt).

    Addition is linear but not idempotent, so replay safety comes from
    per-batch delta rows: when the prior slice already carries a delta
    with THIS batch_id (the F1 replay path re-runs a failed micro-batch
    under the same id, and its state save committed before the failure),
    that stale delta is subtracted before the fresh one is folded in —
    new_cum = prior_cum − stale_delta + delta. One union + keyed sum,
    register-bounded rows per shard end to end. Re-delivery under a NEW
    batch_id overcounts by exactly that batch's contribution — the honest
    additive-counter bound, pinned in tests (the distinct sketch is HLL
    max-merge for exactly this reason)."""
    # eager checkpoint of the delta FIRST: it feeds both the merge below
    # and the save rows, and without the checkpoint the row-scaled
    # counting pass would run twice per micro-batch
    delta = delta.localCheckpoint(eager=True)
    idx, cnt = F.col("sketch_bucket").alias("idx"), F.col("sketch_r")
    cum = (
        delta.unionByName(_registers(prior_all, kind, idx, cnt.alias("cnt")))
        .unionByName(
            _registers(
                prior_all, f"{kind}_delta", idx, (-cnt).alias("cnt"), batch_id=batch_id
            )
        )
        .groupBy("g", "idx")
        .agg(F.sum("cnt").alias("cnt"))
        .where(F.col("cnt") > 0)
        .localCheckpoint(eager=True)
    )
    ident = F.concat(F.lit(id_prefix), F.col("idx"))
    return [
        (cum, kind, ident, "idx", "cnt"),
        (delta, f"{kind}_delta", ident, "idx", "cnt"),
    ]


class _SavedState(NamedTuple):
    """Prior state known without a read: the (consumer, shard) partitions
    it holds (``None``: every shard — an empty store), the ``states``
    frame those partitions equal on disk, and its pre-planned revive
    slice."""

    shards: Optional[frozenset]
    states: DataFrame
    revive_slice: DataFrame

    def covers(self, shards: frozenset) -> bool:
        return self.shards is None or shards <= self.shards


class _Ingested(NamedTuple):
    """Phase 1's frames, all over one lazy checkpoint: the usable
    messages (Q5: each its own chain), the unusable records and the
    not-yet-run stats aggregate; plus the session shuffle width and the
    task slots (``defaultParallelism`` capped by that width), the most
    tasks a Python stage may run in one wave."""

    msgs: DataFrame
    unusable: DataFrame
    stats: DataFrame
    width: int
    slots: int

    def exec_width(self, n_records: int) -> int:
        """The exec stage's task count for ``n_records`` rows: one task
        per ~500 rows, never more tasks than slots. A Python task pays a
        fixed 65-160 ms from launch to its first row, so a stage wider
        than the slots pays it once per extra wave; on 4 slots a
        12k-record batch at 500 rows/task ran 25 exec tasks in 6-7
        waves. Capped at the slots, the exec+save stage went from 33
        tasks and 4.3 core-s to 12 tasks and 1.3 core-s per pass (exec
        width 4, 8 and 25: ~1.5, 1.7 and 2.5 s per pass).

        The rows/500 bound keeps a small batch to a few tasks, and it
        pays. Measured on a 4-vCPU host against exec always at the
        slots: steady per-key batches on 2 shards, one noop task, 12
        timed after 4 warm, 3 interleaved runs per arm, median wall per
        batch:

            slots  batch  this rule     at the slots  executor run, rule -> slots
            4      10     0.44-0.46 s   0.48-0.51 s   0.23 -> 0.6 core-s
            4      200    0.50-0.53 s   0.56-0.64 s
            16     10     0.48-0.51 s   0.95-1.00 s   0.7 -> 6.9 core-s
            16     200    0.47-0.58 s   0.95-1.02 s

        (16 slots: a ``local[16]`` session.) Sizing the speculative plan
        at the slots instead of from the previous batch's count made no
        resolved difference on perfbench's ``engine_large_replay`` (seed
        1, 4 interleaved runs per arm: ``items_per_s`` 3230-3379 against
        3237-3370; jobs per pass 9.33 -> 9.00), so the estimate stays
        too."""
        return max(1, min(self.slots, -(-n_records // 500)))


class _Stats(NamedTuple):
    """The stats job's result: the batch's shard keys and counts."""

    shards: frozenset
    n_records: int
    n_unusable: int


class _Exec(NamedTuple):
    """A phase-2 plan: the exec output (on the fused path already the
    finalised batch, as a lazy checkpoint) and the exec width."""

    frame: DataFrame
    n_parts: int


class _Counters(NamedTuple):
    messages: int
    rejected: int
    fully_finalised: int
    incomplete: int

    @classmethod
    def of(cls, row) -> "_Counters":
        """From the aggregate's Row or the Observation's dict alike."""
        return cls(*(int(row[name] or 0) for name in cls._fields))


class _Counted(NamedTuple):
    """The finalised batch and its counters: computed already, or an
    Observation filled by the first action over ``frame`` — the state
    save, which only ``Engine._save_and_sink`` runs."""

    frame: DataFrame
    counters: Union[_Counters, Observation]


class BatchReplayError(RuntimeError):
    """F1: incomplete messages remain — fail the batch so the source replays
    it; state was saved first, so the replay resumes instead of redoing."""

    def __init__(self, result: "BatchResult"):
        super().__init__(
            f"batch incomplete: {result.incomplete} of {result.messages} "
            "messages must be replayed"
        )
        self.result = result


@dataclass
class BatchResult:
    batch_id: int
    records: int
    messages: int
    unusable: int
    fully_finalised: int
    rejected_to_dmq: int
    discarded_to_drq: int
    incomplete: int
    # exec-stage width this batch ran at: min(task slots, ~rows/500),
    # where the slots are defaultParallelism capped by the session
    # shuffle width — a big batch runs at full cluster width, in one wave
    # (see _build_exec's sizing comment)
    exec_partitions: int = 0


class Engine:
    """Engine(config).attach(stream) — reference C1 handler generation
    (kinesis-consumer.js:112-178) re-expressed as an engine factory."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        state_path: str,
        drq_path: str,
        dmq_path: str,
        process_one_defs: Sequence[TaskDef] = (),
        process_all_defs: Sequence[TaskDef] = (),
        resubmit_path: Optional[str] = None,
        compact_every_n_batches: Optional[int] = None,
        compact_retention_batches: int = 100,
    ):
        from kinesis_stream_consumer_spark.session import ensure_package_on_workers

        ensure_package_on_workers(spark)
        self.spark = spark
        self.config = config
        self.state = StateStore(spark, state_path)
        self.drq_path = drq_path
        self.dmq_path = dmq_path
        self.one_defs = list(process_one_defs)
        self.all_defs = list(process_all_defs)
        self.resubmit_path = resubmit_path
        # Opt-in state-table maintenance: every N successful batches, reap
        # fully-finalised rows older than the retention window (see
        # StateStore.compact — incomplete rows survive at any age). The
        # reference gets this for free from Kinesis/DynamoDB retention;
        # a parquet state table needs the explicit reaper.
        self.compact_every_n_batches = compact_every_n_batches
        self.compact_retention_batches = compact_retention_batches
        # Saved-state reuse: after a successful DEFAULT save, the written
        # (consumer, shard) partitions on disk are byte-equivalent to the
        # `states` frame just computed (dynamic partition overwrite replaces
        # whole partitions), so the next batch's T1 load can serve from it
        # instead of re-reading parquet — valid only while the requested
        # shard set is covered and nothing else rewrites those partitions
        # (custom save seams, zero-row saves and compaction reset it to
        # None). The frame is lazy over already-checkpointed inputs, so
        # caching costs no job.
        # The revive slice rides in the same tuple (r8: the stats job
        # always finishes BEFORE the speculative phase-2 build, so every
        # ms of Catalyst analysis inside the build is critical-path driver
        # time). The revive join
        # needs only (shardOrEventID, identity, msg_md5, tasks_json) of
        # live message/rejected rows; at set time that slim projection is
        # wrapped in a lazy localCheckpoint, so planning happens ONCE per
        # batch and the next batch's build analyzes a single LogicalRDD
        # leaf instead of the whole states union tree. Computation still
        # runs inside the next batch's first action over already-
        # checkpointed inputs — no extra job, and no parquet read the save
        # could overwrite. One attribute, so the slice can never outlive
        # the states it was cut from.
        self._saved_state: Optional[_SavedState] = None
        # Stats/plan overlap (see _stats_and_speculate): the previous
        # batch's message-count seeds the next batch's exec task sizing so
        # the whole phase-2 plan can be built while the stats job runs.
        self._last_n_records: Optional[int] = None
        # The engine's concurrent jobs: the stats collect during that
        # overlap, then the DRQ append beside the state save. Threads
        # start on first use; close() joins them.
        self._pool = ThreadPoolExecutor(2, thread_name_prefix="ksc-engine")
        # Deferred discard sinks (config.deferred_discard_sinks): single
        # worker so appends to one queue path keep batch order; futures
        # are drained at the next process_batch (failures surface there)
        # or via drain_discard_sinks() / close().
        self._deferred_sink_pool = ThreadPoolExecutor(
            1, thread_name_prefix="ksc-deferred-sink"
        )
        self._pending_sink_futures: list = []
        # Per-engine ingest Column-forest cache (see ingest()'s col_cache):
        # batch 2+ replays the cached projection levels instead of paying
        # ~0.2 s of py4j expression construction per micro-batch.
        self._ingest_col_cache: dict = {}
        # Per-batch driver overhead: Column trees are stateless and config-
        # determined, so build them ONCE — re-constructing them every
        # micro-batch is pure py4j round-trip cost (~0.2-0.3 s/batch
        # measured r6 at 5k rows). chain/sort columns are additionally
        # MATERIALIZED into the phase-1 checkpoint so the big sort-key
        # encode forest never appears in the per-batch exec plan Catalyst
        # has to re-optimize (see sequencing.chain_columns).
        from kinesis_stream_consumer_spark.streaming.sequencing import (
            chain_columns,
        )

        self._shard_or_event_col = (
            F.concat(F.lit("E|"), F.col("event_id"))
            if config.batch_keyed_on_event_id
            else F.concat(F.lit("S|"), F.col("shard_id"))
        )
        identity_col = F.coalesce(
            F.nullif(F.col("id"), F.lit("")),
            F.concat_ws(
                "|",
                F.col("event_id"),
                F.col("data_md5"),
                F.coalesce(F.col("event_sub_seq_no").cast("string"), F.lit("")),
            ),
        )
        # identity (I1-I3 resolution output) and shardOrEventID are pure
        # row functions of phase-1 columns — materialize them in the same
        # checkpoint so the exec plan consumes them as data.
        self._phase1_cols = [c.alias(n) for n, c in chain_columns(config)] + [
            identity_col.alias("identity"),
            self._shard_or_event_col.alias("shardOrEventID"),
        ]
        # T4 state-row and D2/D3 envelope Column lists are config-static
        # too (only the per-batch batch_id literal varies — spliced in at
        # use). Same rationale as _phase1_cols: constructing these ~50
        # columns per micro-batch is pure py4j round-trip cost.
        from kinesis_stream_consumer_spark.streaming.dlq import (
            dead_message_envelope_cols,
            dead_record_envelope_cols,
        )

        cfg = config
        self._t4_tag = "K" if cfg.stream_type == StreamType.kinesis else "D"
        _passthrough = [
            "identity",
            "id",
            "key",
            "seqNo",
            "event_id",
            "event_seq_no",
            "event_sub_seq_no",
            "msg_md5",
            "rec_md5",
            "data_md5",
        ]
        nul_long = F.lit(None).cast("long")
        self._t4_msg_head = [
            F.lit(cfg.stream_consumer_id).alias("streamConsumerId"),
            self._shard_or_event_col.alias("shardOrEventID"),
            F.when(F.col("rejectedish"), "rejected")
            .otherwise("message")
            .alias("kind"),
            *_passthrough,
            F.col("tasks_json").alias("tasks_json"),
            F.col("reason_rejected").alias("reason"),
        ]
        self._t4_unusable_head = [
            F.lit(cfg.stream_consumer_id).alias("streamConsumerId"),
            F.concat(F.lit("S|"), F.col("shard_id")).alias("shardOrEventID"),
            F.lit("unusable").alias("kind"),
            F.concat_ws("|", F.col("event_id"), F.col("data_md5")).alias(
                "identity"
            ),
            *_passthrough[1:],
            F.lit(None).cast("string").alias("tasks_json"),
            F.col("reason_unusable").alias("reason"),
        ]
        self._t4_tail = [
            nul_long.alias("sketch_bucket"),
            nul_long.alias("sketch_r"),
        ]
        self._dmq_cols = dead_message_envelope_cols(
            cfg.stream_consumer_id, self._t4_tag
        )
        self._drq_cols = dead_record_envelope_cols(
            cfg.stream_consumer_id, self._t4_tag
        )

    # --- phase 2a: processOne via per-chain ordered mapInPandas ------------

    def _exec_fn(
        self,
        deadline_epoch: Optional[float] = None,
        fused_finalise: bool = False,
        chain_col: str = "chain_key",
    ) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
        """Ordered per-chain execution as a STREAMING mapInPandas over
        partitions hash-partitioned by ``chain_col`` and sorted by
        (chain_col, *sequencing.chain_order_columns()) — seq_index does
        NOT exist on the input; this fn assigns it as a per-chain running
        counter while walking the sorted chain (r7: the per-batch
        sequencing window is gone). Unlike groupBy().applyInPandas — which
        materializes each chain as one pandas DataFrame — this processes
        Arrow batches incrementally, so a giant chain (per-shard mode, the
        reference's own serialization hazard) streams through bounded
        memory instead of OOMing. Chain-blocking state is a per-chain
        boolean carried across batch boundaries.

        ``chain_col`` is ``identity`` in Q5 unsequenced mode: the input is
        already deduplicated on identity, so every message is a chain of
        one — seq_index 1, no duplicate drops, no blocking.

        ``fused_finalise``: with no processAll defs nothing between
        execution and the finalise-merge needs whole-batch scope, so the
        finalise rules run here on the still-parsed task tree and the
        batch crosses Arrow ONCE (emitting _FINAL_SCHEMA) instead of
        serializing, re-parsing, and re-crossing in a second Python
        stage."""
        one_defs, all_defs = self.one_defs, self.all_defs
        one_names = [d.name for d in one_defs]
        max_attempts = self.config.max_number_of_attempts
        out_cols = _FINAL_COLS if fused_finalise else _EXEC_COLS
        dropped_row = (
            ("", False, False, False, None) if fused_finalise else ("", False)
        )

        def execute_message(prior_json, data_str, blocked):
            """X1/X5/D1 per-message execution: (task tree, whether a
            processOne task is left incomplete)."""
            tasks = tk.init_tasks(prior_json, one_defs, all_defs)
            # X5 timeout race: past the deadline, unfinished tasks become
            # TimedOut (attempts reset at finalise), state still saved,
            # batch fails ⇒ replay (test/kinesis-consumer.test.js:2884-3030)
            if deadline_epoch is not None and time.time() >= deadline_epoch:
                for d in one_defs:
                    if not tk.task_finalised(tasks[d.name]):
                        tasks[d.name]["status"] = tk.TIMED_OUT
            elif not blocked:
                try:
                    message = json.loads(data_str)
                except Exception:
                    message = {}
                for d in one_defs:
                    tk.execute_one_task(tasks[d.name], d, message)
            one_part = {n: tasks[n] for n in one_names if n in tasks}
            return tasks, tk.is_incomplete(one_part)

        def run_sorted_partition(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            blocked: Dict[str, bool] = {}
            last_identity: Dict[str, str] = {}
            # seq_index: per-chain running position in the sorted chain —
            # exactly the row_number the r6 sequencing window assigned
            # (duplicate deliveries are numbered before being dropped,
            # matching window numbering over all rows). Carried across
            # Arrow batches like `blocked`; chains never span partitions
            # (the exec shuffle hash-partitions on the chain column).
            seq_no: Dict[str, int] = {}
            for pdf in batches:
                out_seq: List[int] = []
                rows: list = []
                keep: List[bool] = []
                # zip over plain lists, not iterrows — per-row Series
                # construction dominates at 10^5+ messages per partition
                for chain, ident, prior_json, data_str in zip(
                    pdf[chain_col].tolist(),
                    pdf["identity"].tolist(),
                    pdf["prior_tasks_json"].tolist(),
                    pdf["data_str"].tolist(),
                ):
                    nxt = seq_no.get(chain, 0) + 1
                    seq_no[chain] = nxt
                    out_seq.append(nxt)
                    # D1 within-batch dedup: duplicate deliveries share an
                    # identity and sort adjacently in their chain (same sort
                    # key) — process the first, drop the rest. Zero extra
                    # shuffle (reference: dropDuplicates on ids/md5s).
                    if last_identity.get(chain) == ident:
                        keep.append(False)
                        rows.append(dropped_row)
                        continue
                    last_identity[chain] = ident
                    keep.append(True)
                    tasks, one_incomplete = execute_message(
                        prior_json, data_str, blocked.get(chain, False)
                    )
                    # X1 chain blocking: an incomplete message blocks its
                    # chain successors (implied by Q3/Q4 +
                    # firstMessagesToProcess, test/kinesis-consumer.test.js:505)
                    # — decided on the PRE-finalise state on both paths (a
                    # message whose tasks the rules then discard still
                    # blocked its chain successors this batch)
                    if one_incomplete:
                        blocked[chain] = True
                    rows.append(
                        tk.finalise_outputs(tasks, max_attempts)
                        if fused_finalise
                        else (tk.dumps(tasks), tk.is_fully_finalised(tasks))
                    )
                out = pdf[[c for c in _PASS_COLS if c != "seq_index"]].copy()
                out["seq_index"] = pd.array(out_seq, dtype="int32")
                _assign_rows(out, out_cols, rows)
                yield out[pd.Series(keep, index=out.index)]

        return run_sorted_partition

    # --- phase 2b/2c: processAll master + finalise-merge -------------------

    def _process_all(self, executed: DataFrame) -> DataFrame:
        """X2: execute each processAll master task once over the batch's
        incomplete messages, then fan its state out to the per-message
        slave tasks in the finalise-merge pass (README.md:183-224).
        Returns the finalised batch as a lazy checkpoint."""
        # processAll needs the materialized post-processOne batch as its
        # scope (incompleteMessages, X2) — one extra checkpoint + agg
        executed = executed.localCheckpoint(eager=False)
        n_scope = (
            executed.agg(
                F.sum(F.when(~F.col("_one_fully_finalised"), 1).otherwise(0))
            ).first()[0]
            or 0
        )
        results: List[_MasterResult] = []
        if n_scope:
            scope = executed.where(~F.col("_one_fully_finalised"))
            for d in self.all_defs:
                try:
                    overrides = d.execute(scope, self) or {}
                    results.append(
                        (d.name, tk.COMPLETED, None, None, dict(overrides))
                    )
                except tk.TaskRejectedError as e:
                    results.append((d.name, tk.REJECTED, None, e.reason, {}))
                except Exception as e:  # noqa: BLE001
                    results.append(
                        (d.name, tk.FAILED, f"{type(e).__name__}: {e}", None, {})
                    )
        return (
            executed.drop("_one_fully_finalised")
            .mapInPandas(self._finalise_fn(results), schema=_FINAL_SCHEMA)
            .localCheckpoint(eager=False)
        )

    def _finalise_fn(
        self, all_results: List[_MasterResult]
    ) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
        max_attempts = self.config.max_number_of_attempts

        def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for tasks_json, ident in zip(
                    pdf["tasks_json"].tolist(), pdf["identity"].tolist()
                ):
                    tasks = json.loads(tasks_json)
                    # X2 scope: incompleteMessages = not fully finalised
                    # before processAll fan-out (replayed fully-done
                    # messages are skipped — D1)
                    msg_in_scope = not tk.is_fully_finalised(tasks)
                    for name, status, error, reason, overrides in all_results:
                        slave = tasks.get(name)
                        if slave is None or not msg_in_scope:
                            continue  # only incompleteMessages are in scope (X2)
                        if tk.task_finalised(slave):
                            continue  # idempotent resume (D1)
                        slave["attempts"] += 1
                        ov = overrides.get(ident)
                        if ov is not None:
                            slave["status"], slave["reason"] = ov[0], ov[1]
                        else:
                            slave["status"] = status
                            slave["error"] = error
                            slave["reason"] = reason
                    rows.append(tk.finalise_outputs(tasks, max_attempts))
                out = pdf[_PASS_COLS].copy()
                _assign_rows(out, _FINAL_COLS, rows)
                yield out

        return merge

    # --- T4 sketch registers -----------------------------------------------

    def _with_sketches(
        self,
        states: DataFrame,
        msgs: DataFrame,
        finalised: DataFrame,
        prior_all: DataFrame,
        batch_id: int,
    ) -> DataFrame:
        """``states`` plus the configured per-shard sketch registers, each
        merged with its prior register from ``prior_all``. The save
        REPLACES the touched shard partitions, so every merge happens
        before it, and each merge that reads ``prior_all`` is eagerly
        checkpointed: that parquet is what the save overwrites (the hazard
        the finalised checkpoint exists for). The frames are
        register-sized, so each checkpoint is a tiny job."""
        cfg = self.config
        from kinesis_stream_consumer_spark.operators import sketches

        # (register frame keyed by shard column g, kind, identity column,
        # bucket column name, register column name)
        regs: list = []
        if cfg.track_distinct_sketch:
            # Per-shard HLL distinct-MESSAGE sketch over the checkpointed
            # identities. Register max-merge is idempotent — replaying a
            # failed batch re-merges the same maxima, so the sketch stays
            # exact-composable under at-least-once delivery, unlike any
            # additive counter.
            hll = (
                sketches.hll_registers(
                    msgs.select("shardOrEventID", "identity"),
                    "shardOrEventID",
                    F.col("identity"),
                )
                .unionByName(
                    _registers(
                        prior_all,
                        "sketch",
                        F.col("sketch_bucket").alias("bucket"),
                        F.col("sketch_r").alias("r"),
                    )
                )
                .groupBy("g", "bucket")
                .agg(F.max("r").alias("r"))
                .localCheckpoint(eager=True)
            )
            regs.append(
                (hll, "sketch", F.concat(F.lit("HLL|"), F.col("bucket")), "bucket", "r")
            )
        # Additive sketches count PROCESSED messages — the delta sources
        # from the checkpointed post-exec `finalised` frame, which the D1
        # within-batch dedup has already filtered, so a record delivered
        # twice INSIDE one batch counts once (only cross-batch re-delivery
        # under a NEW batch_id overcounts — the pinned additive bound).
        if cfg.track_frequency_sketch:
            # Per-shard Count-Min KEY-frequency sketch. Non-keyed configs
            # canonicalise key to NULL for every message — hashing NULL
            # would save one meaningless NULL-bucket register per batch
            # that merges additively forever (mirror the qsketch isNotNull
            # guard).
            keys = finalised.select(
                self._shard_or_event_col.alias("shardOrEventID"), "key"
            ).where(F.col("key").isNotNull())
            regs += _additive_registers(
                sketches.cms_counters(keys, "shardOrEventID", F.col("key")),
                prior_all,
                batch_id,
                "cms",
                "CMS|",
            )
        if cfg.track_quantile_sketch:
            # Per-shard log-linear QUANTILE sketch over the numeric tail of
            # the event sequence number (the per-shard seqNo-spread /
            # hot-range signal): same additive-register replay contract as
            # the CMS twin, ≤63·K+1 registers per shard regardless of
            # volume.
            qs_src = finalised.select(
                self._shard_or_event_col.alias("shardOrEventID"),
                F.expr(
                    "CAST(substring(event_seq_no,"
                    " greatest(length(event_seq_no) - 14, 1), 15)"
                    " AS BIGINT)"
                ).alias("v"),
            ).where(F.col("v").isNotNull())
            regs += _additive_registers(
                sketches.qsketch_buckets(qs_src, "shardOrEventID", F.col("v")).select(
                    "g", F.col("qid").alias("idx"), "cnt"
                ),
                prior_all,
                batch_id,
                "qsk",
                "QSK|",
            )
        if cfg.track_sample_sketch:
            # Per-shard uniform message sample (kind='rsv'): the n+1
            # smallest md5-priority identities — the engine-native
            # reservoir sketch (operators/sketches reservoir_*, w=1).
            # Union prior register + this batch's keys, re-take the n+1
            # smallest: a MIN-merge like the HLL registers — idempotent,
            # so replayed batches leave the sample EXACTLY the single-pass
            # sample (no delta bookkeeping).
            from kinesis_stream_consumer_spark.operators.dedup import md5_u56_le

            one = F.lit(1).cast("long").alias("w")
            keys = finalised.select(
                self._shard_or_event_col.alias("g"),
                F.col("identity").alias("id"),
                one,
                # uniform draw: pri = u div 1 = the 56-bit md5 integer
                md5_u56_le(F.col("identity")).alias("pri"),
            ).unionByName(
                _registers(
                    prior_all,
                    "rsv",
                    F.expr("substring(identity, 5)").alias("id"),
                    one,
                    F.col("sketch_r").alias("pri"),
                )
            )
            rsv = sketches.reservoir_merge(keys, cfg.sample_sketch_n)
            regs.append(
                (
                    rsv.localCheckpoint(eager=True),
                    "rsv",
                    F.concat(F.lit("RSV|"), F.col("id")),
                    "rank",
                    "pri",
                )
            )
        # STATE_SCHEMA rows: every message column NULL, the register in
        # (sketch_bucket, sketch_r)
        for frame, kind, identity, bucket, register in regs:
            given = {
                "streamConsumerId": F.lit(cfg.stream_consumer_id),
                "shardOrEventID": F.col("g"),
                "kind": F.lit(kind),
                "identity": identity,
                "batch_id": F.lit(batch_id).cast("long"),
                "sketch_bucket": F.col(bucket).cast("long"),
                "sketch_r": F.col(register).cast("long"),
            }
            states = states.unionByName(
                frame.select(
                    *[
                        given.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
                        for f in STATE_SCHEMA.fields
                    ]
                )
            )
        return states

    # --- the 3-phase batch lifecycle ---------------------------------------

    def drain_discard_sinks(self) -> None:
        """Join any deferred DRQ/DMQ appends and re-raise the first
        failure. Called automatically at the start of every
        process_batch; call explicitly after the LAST batch (or before
        stopping the session) when deferred_discard_sinks is on."""
        pending, self._pending_sink_futures = self._pending_sink_futures, []
        for f in pending:
            f.result()

    def close(self) -> None:
        """Drain the deferred sinks, then stop the engine's thread pools
        (joining their threads). Safe to call twice; the engine runs no
        batch afterwards."""
        try:
            self.drain_discard_sinks()
        finally:
            self._pool.shutdown()
            self._deferred_sink_pool.shutdown()

    def _mark(self, label: str) -> None:
        """Close the section that began at the previous mark: a handful
        of perf_counter calls per batch, exposed as last_section_times."""
        now = time.perf_counter()
        self._sections[label] = now - self._section_start
        self._section_start = now

    def process_batch(
        self,
        records: DataFrame,
        batch_id: int = 0,
        remaining_time_ms: Optional[float] = None,
    ) -> BatchResult:
        """Run the 3-phase lifecycle on one batch of records. Each phase
        method takes what the one before it returned, so none can run
        before its input exists:

        1. initiate: ``_ingest`` → ``_stats_and_speculate`` (the stats job,
           overlapped with a speculative phase-2 plan);
        2. process: ``_revive_and_exec`` (T1 load, T2 revive, processOne
           exec), then ``_process_all`` when there are processAll defs;
        3. finalise: ``_count_finalised`` → ``_save_and_sink`` (DRQ and
           the state save; returns the counters) → ``_discard_rejected``
           (the DMQ) → ``_commit_or_replay``.

        ``remaining_time_ms`` is the X5 analogue of Lambda's
        getRemainingTimeInMillis: the processing phase gets
        ``timeout_at_percentage_of_remaining_time`` × that budget; past the
        deadline, unfinished tasks become TimedOut (attempts reset), state
        is still saved, and the batch fails for replay.

        Per-section wall times land in ``self.last_section_times``.
        """
        cfg = self.config
        self._sections, self._section_start = {}, time.perf_counter()
        # Deferred-sink barrier: appends launched by the PREVIOUS batch
        # must land (and their failures surface) before this batch does
        # any work — by now they have had the whole inter-batch gap to
        # finish, so this join is ~free in steady state.
        self.drain_discard_sinks()
        deadline = (
            time.time()
            + cfg.timeout_at_percentage_of_remaining_time * remaining_time_ms / 1000.0
            if remaining_time_ms is not None
            else None
        )
        ing = self._ingest(records)
        saved = self._reusable_state()
        stats, speculative = self._stats_and_speculate(ing, saved, deadline)
        plan, prior_all = self._revive_and_exec(
            ing, stats, saved, speculative, deadline
        )
        # With no processAll defs the exec stage already emitted the
        # finalised batch (see _exec_fn's fused_finalise)
        finalised = self._process_all(plan.frame) if self.all_defs else plan.frame
        self._mark("exec_finalise_plan")
        # F3 hook: preFinaliseBatch
        if cfg.pre_finalise_batch is not None:
            cfg.pre_finalise_batch(finalised, self)
        counted = self._count_finalised(
            finalised,
            observe=cfg.save_batch_state is None
            and bool(stats.n_records or stats.n_unusable),
        )
        self._mark("exec_finalise_and_counters")
        counters = self._save_and_sink(counted, ing, stats, prior_all, batch_id)
        self._discard_rejected(counted.frame, counters)
        self._mark("dlq_and_state_save")
        self.last_section_times = self._sections
        return self._commit_or_replay(
            BatchResult(
                batch_id=batch_id,
                records=stats.n_records,
                messages=counters.messages,
                unusable=stats.n_unusable,
                fully_finalised=counters.fully_finalised,
                rejected_to_dmq=counters.rejected,
                discarded_to_drq=stats.n_unusable,
                incomplete=counters.incomplete,
                exec_partitions=plan.n_parts,
            ),
            counted.frame,
        )

    # ---- Phase 1: initiate -------------------------------------------------

    def _ingest(self, records: DataFrame) -> _Ingested:
        """Ingest, the phase-1 checkpoint and the batch's message frame;
        the stats aggregate is planned here and run by the next phase."""
        cfg = self.config
        # A micro-batch from a 1-file trigger arrives as ONE partition, and
        # ingest (base64 + JSON parse + 3×md5) is CPU-bound and narrow — it
        # would fuse onto that single task. Fan the raw records out first;
        # the records are small (the shuffle moves the undecoded strings
        # once) and a source that already delivers wide input skips this.
        # Fan out to the task slots, no wider: a Python task waits 65-160
        # ms from launch to its first row even on a reused worker, so
        # every wave past the first pays that again (12k-record batches
        # on 4 slots: the ingest stage went from 8 tasks and 1.6-1.9
        # core-s to 4 tasks and 1.1 core-s).
        width = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        slots = min(self.spark.sparkContext.defaultParallelism, width)
        if records.rdd.getNumPartitions() < slots:
            records = records.repartition(slots)
        self._mark("fan_probe")
        ing = ingest(records, cfg, col_cache=self._ingest_col_cache)
        # Materialize the UNSPLIT ingest output ONCE, before anything
        # branches off it: the usable/unusable split, the stats job, the
        # exec shuffle, and the DRQ path would each otherwise recompute
        # the whole decode→identify pipeline — and filtering the lazy
        # split plans lets PushDownPredicate inline the unbase64/JSON-parse
        # work into each side's filter a second time. Splitting AFTER the
        # checkpoint reads reason_unusable as materialized data. msg_json
        # is dropped first — it is an ingest-surface column (custom-format
        # resolution); the engine only needs the digests downstream, and
        # dropping it keeps a full message copy out of the checkpoint and
        # the chain shuffle.
        # eager=False: the stats aggregate is the first action and
        # computes every partition, so Spark materializes the checkpoint
        # inside that same job (doCheckpoint runs before the action
        # returns) — ingest-materialize + batch-stats cost ONE job instead
        # of two. The checkpoint is still complete before anything
        # downstream (exec, sinks, state save) touches the frame.
        # chain_key/sort_key materialize HERE (inside the checkpoint): the
        # sort-key encode forest is the most expensive expression in the
        # lifecycle and this keeps it out of the per-batch exec plan —
        # Catalyst replans that tree every micro-batch, and the encode work
        # itself fuses onto the already-CPU-bound decode stage.
        self._mark("ingest_plan")
        tagged = (
            ing.tagged.drop("msg_json", "parsed_ok")
            .select("*", *self._phase1_cols)
            .localCheckpoint(eager=False)
        )
        self._mark("phase1_ckpt_call")
        # Q3/Q4 sequencing WITHOUT a whole-batch window: ordering is
        # established in-partition at the exec shuffle (repartition on
        # chain_key + sortWithinPartitions on the same comparator keys
        # the sequencing window orders by), and seq_index materializes
        # INSIDE the exec stage — a per-chain running counter on the same
        # pass that executes the chain. (sequence_messages itself remains
        # the query-surface operator — stream-parity queries and fixture
        # tests pin it.) sort_key rides only as far as the in-partition
        # sort (dropped before the Arrow transfer).
        msgs = tagged.where(F.col("reason_unusable").isNull()).drop(
            "reason_unusable"
        )
        if not cfg.sequencing_required:
            # Q5: every message is its own chain of one
            msgs = msgs.select("*", F.lit(1).alias("seq_index")).drop("sort_key")
        # ONE stats job for batch-key resolution (I4) + batch counters — a
        # slim scan of the checkpointed batch, not a recompute of ingest.
        # Per shard key it returns (record deliveries, unusable rows), so
        # the shard set for the partition-pruned state load, n_records and
        # n_unusable all come from this single aggregate.
        # Delivery counting: every record lands in tagged as either rows
        # with event_sub_seq_no NULL (non-KPL, failed-deagg, unusable) or
        # an exploded run starting at sub-seq 0 (KPL, kpl.py:174), so
        # "NULL or 0" counts each delivery exactly once — duplicate
        # deliveries stay distinct (the reference counts Records entries,
        # not unique records; dedup happens at execution, D1).
        unusable = F.col("reason_unusable").isNotNull()
        stats_key = F.when(
            unusable, F.concat(F.lit("S|"), F.col("shard_id"))
        ).otherwise(F.col("shardOrEventID"))
        is_delivery_head = (
            F.col("event_sub_seq_no").isNull() | (F.col("event_sub_seq_no") == 0)
        )
        stats = tagged.groupBy(stats_key.alias("shardOrEventID")).agg(
            F.sum(F.when(is_delivery_head, 1).otherwise(0)).alias("n_rec"),
            F.sum(F.when(unusable, 1).otherwise(0)).alias("n_unus"),
        )
        self._mark("phase1_plan")
        return _Ingested(msgs, tagged.where(unusable), stats, width, slots)

    def _reusable_state(self) -> Optional[_SavedState]:
        """The prior state known before the stats job, with the default
        load seam: the last default save's cache, or — when the store
        holds nothing — an empty slice, which covers every shard."""
        if self.config.load_batch_state is not None:
            return None
        if self._saved_state is not None or not self.state.is_empty():
            return self._saved_state
        empty = self.spark.createDataFrame([], STATE_SCHEMA)
        return _SavedState(None, empty, _live(empty))

    def _stats_and_speculate(
        self,
        ing: _Ingested,
        saved: Optional[_SavedState],
        deadline: Optional[float],
    ) -> Tuple[_Stats, Optional[_Exec]]:
        """Run the stats job. Stats/plan OVERLAP: with a prior slice known
        before the job (``saved``), the entire fused phase-2 plan —
        revive join, exec plan, and the Catalyst planning forced by the
        lazy checkpoint (~0.3-0.4 s/batch of pure driver work) — is built
        on this thread WHILE the engine pool runs the stats job. The
        build is optimistic against the unfiltered slice (the revive join
        matches on identity, so rows from uninvolved shards never match);
        task sizing seeds from the last batch's count (steady
        micro-batches are same-sized; a mis-estimate only re-sizes tasks,
        never changes results), or from full cluster width before the
        first batch. ``_revive_and_exec`` keeps the plan only if the slice
        covers the batch's shards and the plan is at least as wide as the
        batch's real count calls for.

        Restricted to the fused path: the processAll variant runs an
        aggregate action during plan construction, which must not race
        the stats job for the phase-1 checkpoint materialization. And
        pre_process_batch gates it OFF: the build invokes the hook, and a
        discarded build would fire a side-effecting hook twice per batch
        where the reference calls preProcessBatch exactly once
        (kinesis-processing.js:292-298).

        A discarded plan is not free: planning its lazy checkpoint has
        already run its AQE stages, so an uncovered warm batch runs more
        jobs than a covered one. Two ways round that were measured on
        perfbench's ``engine_large_replay`` (seed 1, interleaved runs)
        and stay unbuilt:

        - deciding keep or discard before those AQE stages run (the only
          cheap way to stop an uncovered batch paying for its discarded
          plan) made ``op_p50_s`` worse in 4 of 4 pairs, 1.43-1.65 s
          against 1.40-1.46 s;
        - letting AQE size the exec shuffle (``repartition("chain_key")``,
          3-4 tasks per 12k-record pass) made ``op_p50_s`` worse in 5 of
          6 pairs, median ``items_per_s`` 3127 against 3239."""
        speculative = None
        if (
            saved is not None
            and not self.all_defs
            and self.config.pre_process_batch is None
        ):
            rows_fut = self._pool.submit(ing.stats.collect)
            est = self._last_n_records
            if est is None:  # first batch: full cluster width
                est = ing.slots * 500
            speculative = self._build_exec(ing, saved.revive_slice, est, deadline)
            rows = rows_fut.result()
        else:
            rows = ing.stats.collect()
        # how long the stats job ran past the speculative build: only the
        # longer of the two is critical path
        self._mark("overlap_stats_wait")
        stats = _Stats(
            frozenset(r["shardOrEventID"] for r in rows),
            int(sum(r["n_rec"] for r in rows)),
            int(sum(r["n_unus"] for r in rows)),
        )
        self._last_n_records = stats.n_records
        return stats, speculative

    # ---- Phase 2: process --------------------------------------------------

    def _revive_and_exec(
        self,
        ing: _Ingested,
        stats: _Stats,
        saved: Optional[_SavedState],
        speculative: Optional[_Exec],
        deadline: Optional[float],
    ) -> Tuple[_Exec, Optional[DataFrame]]:
        """T1 load + T2 revive + the exec plan. Returns the plan and the
        prior state of the batch's shards (``None`` under a custom load
        seam) for the sketch merges.

        T1 is one partition-pruned scan per batch, like the reference's
        single DynamoDB get, unless ``saved`` covers the batch's shards.
        loadBatchState is pluggable (reference
        persisting.loadBatchStateFromDynamoDB default,
        kinesis-processing.js:291): a custom fn returns the prior slice
        (already filtered to live message/rejected states). The
        speculative plan is kept iff its slice covers the batch's shards
        and its exec width is at least ``ing.exec_width(n_records)``;
        otherwise it is discarded and phase 2 is rebuilt — correctness
        never rides the estimate, and neither does the width after a
        batch-size jump (a 12k-record batch after a 1k one would
        otherwise run 2 exec tasks on 4 slots)."""
        cfg = self.config
        covered = saved is not None and saved.covers(stats.shards)
        if cfg.load_batch_state is not None:
            prior_all, prior = None, cfg.load_batch_state(self, stats.shards or None)
        else:
            prior_all = (
                saved.states.where(F.col("shardOrEventID").isin(list(stats.shards)))
                if covered
                else self.state.load(cfg.stream_consumer_id, stats.shards)
            )
            prior = _live(prior_all)
        self._mark("revive_plan")
        if (
            speculative is not None
            and covered
            and speculative.n_parts >= ing.exec_width(stats.n_records)
        ):
            return speculative, prior_all
        return self._build_exec(ing, prior, stats.n_records, deadline), prior_all

    def _build_exec(
        self,
        ing: _Ingested,
        prior: DataFrame,
        n_rec_est: int,
        deadline: Optional[float],
    ) -> _Exec:
        """T2 revive + the exec plan (incl. the Catalyst planning the
        lazy checkpoint forces) for a given prior-state revive slice
        and a task-sizing row estimate. Driver-side plan construction
        PLUS the AQE stage materialization the lazy checkpoint's
        toRdd triggers (the revive-slice broadcast and the exec
        shuffle's map side — see the p2_ckpt_plan note below): the
        speculative build runs it WHILE the cluster executes the
        stats job, so those stages pipeline ahead of the fused save.

        Mismatched-prior-state tolerance: prior state only revives
        when its content digest matches the current message — same id
        but different content means the state is stale and the message
        executes fresh (reference "COMPLETELY MISMATCHED PRIOR state"
        ⇒ attempts restart at 1, test/kinesis-consumer.test.js:
        847-945). A prior row with no recorded digest (custom stores)
        still revives.
        """
        cfg = self.config
        fused = not self.all_defs
        revived = ing.msgs.join(
            F.broadcast(
                prior.select(
                    F.col("identity").alias("_pid"),
                    F.col("msg_md5").alias("_pmd5"),
                    F.col("tasks_json").alias("prior_tasks_json"),
                )
            ),
            (F.col("identity") == F.col("_pid"))
            & (F.col("_pmd5").isNull() | (F.col("_pmd5") == F.col("msg_md5"))),
            "left",
        ).drop("_pid", "_pmd5")
        # F3 hook: preProcessBatch (kinesis-processing.js:292-298).
        # Column contract (changed r7 with the window removal):
        # `revived` carries the phase-1 message columns + chain_key +
        # sort_key + prior_tasks_json — NO seq_index/prev/next/
        # is_first (those were window products the engine no longer
        # computes; seq_index is assigned inside the exec stage). A
        # hook that projects must PRESERVE sort_key/event_seq_no/
        # event_sub_seq_no — the exec stage's within-chain sort orders
        # by them.
        if cfg.pre_process_batch is not None:
            maybe = cfg.pre_process_batch(revived, self)
            if maybe is not None:
                revived = maybe
        self._mark("p2_revive_build")
        # Size the chain shuffle to the task slots and the batch (see
        # _Ingested.exec_width). The processAll finalise and the next
        # batch's revive slice inherit this partitioning.
        n_parts = ing.exec_width(n_rec_est)
        if cfg.sequencing_required:
            # co-locate each chain, order within partition by THE
            # shared comparator (sequencing.chain_order_columns — the
            # same list the sequencing window orders by, one
            # definition so the two can't drift), stream batches; the
            # exec fn assigns seq_index as it walks the sorted chain
            from kinesis_stream_consumer_spark.streaming.sequencing import (
                chain_order_columns,
            )

            ordered = (
                revived.repartition(n_parts, "chain_key")
                .sortWithinPartitions("chain_key", *chain_order_columns())
                .drop("sort_key")
            )
            chain_col = "chain_key"
        else:
            # Q5: no ordering; D1 within-batch dedup needs one shuffle
            # here (no chain sort to make duplicate identities adjacent),
            # after which each identity is its own chain. The explicit
            # repartition is that shuffle: the dedup aggregate's
            # distribution is already satisfied, so there is no second
            # exchange, and the width is n_parts as on the sequenced path
            # (left to AQE, the dedup shuffle coalesces below n_parts and
            # the batch would report a width it did not run).
            ordered = revived.repartition(n_parts, "identity").dropDuplicates(
                ["identity"]
            )
            chain_col = "identity"
        # _one_fully_finalised (processAll scoping, X2) is emitted by the
        # exec fn itself — the executor already holds the parsed task
        # tree, so the flag is free and the plan stays UDF-less (no
        # BatchEvalPython; the engine obeys the same plan-hygiene bar as
        # the query registry).
        executed = ordered.mapInPandas(
            self._exec_fn(deadline, fused, chain_col),
            schema=_FINAL_SCHEMA if fused else _EXEC_SCHEMA,
        )
        self._mark("p2_exec_build")
        # localCheckpoint severs lineage: the state save overwrites the
        # parquet this plan's revive-join reads, so any later
        # recomputation would replay tasks against their own
        # freshly-saved state (double attempts). eager=False: the first
        # phase-3 action (the fused save+counters job, or the counters
        # aggregate) computes every partition, so the checkpoint
        # materializes inside that job — before the dynamic-overwrite
        # commit replaces any prior-state file the revive join reads.
        # p2_ckpt_plan is NOT driver waste (r9 measurement): Catalyst
        # itself is ~40 ms here; the rest of the mark is AQE stage
        # materialization inside toRdd — 2-3 REAL jobs (the revive-slice
        # broadcast and the exec shuffle's map side, racing the stats job
        # for the phase-1 first touch, which is safe: ingest is
        # deterministic and side-effect-free; user task fns only run in
        # the final stage, which is NOT materialized here). By the time
        # the fused save+counters action runs, only the exec reduce side
        # and the write remain.
        if fused:
            executed = executed.localCheckpoint(eager=False)
        self._mark("p2_ckpt_plan")
        return _Exec(executed, n_parts)

    # ---- Phase 3: finalise -------------------------------------------------

    def _count_finalised(self, finalised: DataFrame, observe: bool) -> _Counted:
        """The batch counters over the finalised frame. ``observe`` (the
        default state save is about to run on a non-empty batch): the
        counters ride that very write job as observed metrics
        (CollectMetrics via Observation) instead of a separate aggregate
        job — the save's action materializes the lazy exec checkpoint AND
        reports the counts, so exec stage + counters + state write cost
        ONE job per micro-batch. Overwrite-under-read stays safe:
        dynamic-overwrite commit (delete + swap of the replaced
        partitions) only runs after every task — including the ones
        computing the checkpoint through the revive join's prior-state
        scan — has finished. Otherwise a separate aggregate runs now, and
        it is the checkpoint's materializing action."""
        exprs = [F.count(F.lit(1)).alias("messages")] + [
            F.sum(F.when(F.col(flag), 1).otherwise(0)).alias(name)
            for name, flag in _COUNTED_FLAGS.items()
        ]
        if observe:
            obs = Observation()
            return _Counted(finalised.observe(obs, *exprs), obs)
        return _Counted(finalised, _Counters.of(finalised.agg(*exprs).first()))

    def _save_and_sink(
        self,
        counted: _Counted,
        ing: _Ingested,
        stats: _Stats,
        prior_all: Optional[DataFrame],
        batch_id: int,
    ) -> _Counters:
        """D2 DRQ append + T4 state save (message, rejected and unusable
        states, plus the sketch registers, in one parquet upsert). Both
        default sinks write disjoint paths from checkpointed frames —
        independent Spark jobs, so they run concurrently on the engine
        pool (driver-side job submission is thread-safe). Custom seams
        run serially: user hooks are not assumed thread-safe.

        Returns the batch counters. On the observed path the save's
        action is what computes them, so they exist only once it ran."""
        cfg = self.config
        known = counted.counters if isinstance(counted.counters, _Counters) else None
        sink_jobs: List[Callable[[], None]] = []
        if stats.n_unusable:
            # D2 seam: discardUnusableRecord (default DRQ append,
            # kinesis-processing.js:296 discardUnusableRecordToDRQ). It
            # reads only the phase-1 checkpoint the stats job already
            # materialized — safe to run any time, even during the save.
            drq = self._discard(
                cfg.discard_unusable_record,
                ing.unusable,
                self._drq_cols,
                self.drq_path,
                stats.n_unusable,
            )
            if drq is not None:
                sink_jobs.append(drq)
        default_saved = False
        if known is None or known.messages or stats.n_unusable:
            # T4 seam: saveBatchState (default parquet MERGE upsert,
            # kinesis-processing.js:295 saveBatchStateToDynamoDB). Column
            # lists are precomputed in __init__ (config-static); only the
            # batch_id literal is per-batch.
            batch_id_col = F.lit(batch_id).cast("long").alias("batch_id")
            states = counted.frame.select(
                *self._t4_msg_head, batch_id_col, *self._t4_tail
            ).unionByName(
                ing.unusable.select(
                    *self._t4_unusable_head, batch_id_col, *self._t4_tail
                )
            )
            # sketches need both default seams: a custom load leaves no
            # prior registers to merge, and the partition-replacing save
            # would then drop the accumulated ones
            if cfg.save_batch_state is None and prior_all is not None:
                states = self._with_sketches(
                    states, ing.msgs, counted.frame, prior_all, batch_id
                )
            if cfg.save_batch_state is not None:
                cfg.save_batch_state(states, self)
                self._saved_state = None  # unknown destination
            else:
                n_save = max(1, min(len(stats.shards), ing.width))
                sink_jobs.append(
                    lambda: self.state.save(states, n_partitions=n_save)
                )
                default_saved = True
        self._mark("t4_plan_build")
        # (r7 A/B: scoping AQE OFF around the save — its shuffles are all
        # explicitly sized, so AQE only adds sub-job cadence — measured as
        # pure noise across interleaved trials; keeping session AQE
        # untouched.)
        if len(sink_jobs) == 1:
            sink_jobs[0]()
        else:
            for fut in [self._pool.submit(job) for job in sink_jobs]:
                fut.result()  # propagate the first failure
        self._mark("t4_save_write")
        if default_saved:
            # the written partitions now equal `states` exactly — serve the
            # next batch's T1 load from it (lazy over checkpointed inputs),
            # and pre-plan its revive slice HERE (see __init__): the lazy
            # localCheckpoint runs Catalyst once over the slim 4-column
            # projection and hands the next speculative build a checkpoint
            # leaf. No job runs — computation happens inside the next
            # batch's first action over checkpointed inputs.
            self._saved_state = _SavedState(
                stats.shards,
                states,
                _live(states)
                .select("shardOrEventID", "identity", "msg_md5", "tasks_json")
                .localCheckpoint(eager=False),
            )
        self._mark("revive_slice_plan")
        # the listener delivers observed metrics moments after the action
        # that computed them returns
        counters = known if known is not None else _Counters.of(counted.counters.get)
        if default_saved and not (counters.messages or stats.n_unusable):
            # zero rows were written: the cache would claim these shards
            # hold nothing while disk still has their old rows
            self._saved_state = None
        self._mark("obs_counters")
        return counters

    def _discard(
        self,
        seam: Optional[Callable],
        frame: DataFrame,
        cols: List[Column],
        path: str,
        n_rows: int,
    ) -> Optional[Callable[[], None]]:
        """One D2/D3 discard of ``frame``: a custom seam runs now; the
        default queue append goes to the ONE-worker deferred pool
        (config.deferred_discard_sinks — appends to one queue path keep
        batch order, and the job reads only an already-materialized
        checkpoint, so it cannot double-execute task fns), or is returned
        for the caller to run."""
        if seam is not None:
            seam(frame, self)
            return None
        job = partial(append_to_queue, frame.select(*cols), path, n_rows=n_rows)
        if not self.config.deferred_discard_sinks:
            return job
        self._pending_sink_futures.append(self._deferred_sink_pool.submit(job))
        return None

    def _discard_rejected(self, finalised: DataFrame, counters: _Counters) -> None:
        """D3 seam: discardRejectedMessage (default DMQ append,
        kinesis-processing.js:297 discardRejectedMessageToDMQ) — the
        batch's one DMQ step. It needs the counters, so it runs after the
        action that materialized the finalised checkpoint it reads; the
        only serialization cost is the (small) envelope write itself."""
        if counters.rejected:
            dmq = self._discard(
                self.config.discard_rejected_message,
                finalised.where(F.col("rejectedish")),
                self._dmq_cols,
                self.dmq_path,
                counters.rejected,
            )
            if dmq is not None:
                dmq()

    def _commit_or_replay(
        self, result: BatchResult, finalised: DataFrame
    ) -> BatchResult:
        """postFinaliseBatch, opt-in compaction, then F1/F2: commit, or
        resubmit / raise so the incomplete messages are replayed."""
        cfg = self.config
        # F3 hook: postFinaliseBatch
        if cfg.post_finalise_batch is not None:
            cfg.post_finalise_batch(result, self)
        if not result.incomplete:
            every = self.compact_every_n_batches
            if every and result.batch_id > 0 and result.batch_id % every == 0:
                self.state.compact(result.batch_id - self.compact_retention_batches)
                self._saved_state = None  # disk rewritten under the cache
            return result
        # F2: in unsequenced mode with a resubmit sink configured,
        # incomplete messages are resubmitted to the source instead of
        # failing the whole batch (test titles
        # kinesis-consumer.unseq.test.js:1521,1867,2911,3063) — ordering
        # doesn't matter there, so replaying only stragglers is safe.
        if not cfg.sequencing_required and self.resubmit_path is not None:
            from kinesis_stream_consumer_spark.sources.records import (
                KINESIS_RECORD_SCHEMA,
            )

            (
                finalised.where(F.col("incomplete"))
                .select(F.from_json("record_json", KINESIS_RECORD_SCHEMA).alias("r"))
                .select("r.*")
                .write.mode("append")
                .json(self.resubmit_path)
            )
            return result
        raise BatchReplayError(result)  # F1: fail ⇒ source replays batch

    # --- S1: streaming attachment ------------------------------------------

    def attach(
        self,
        record_stream: DataFrame,
        checkpoint_dir: str,
        swallow_replay_errors: bool = False,
    ):
        """writeStream.foreachBatch(process_batch): each micro-batch plays
        one reference "stream event"; raising inside foreachBatch makes
        Spark retry the micro-batch = the Kinesis replay contract (F1)."""

        def run(df: DataFrame, bid: int):
            try:
                self.process_batch(df, bid)
            except BatchReplayError:
                if not swallow_replay_errors:
                    raise

        return (
            record_stream.writeStream.foreachBatch(run)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        )
