"""Marks-based steady-batch engine instrument (VERDICT r8 #2).

End-to-end msg/s over an 8-second window sits inside this host's drift
envelope (r8 recorded within-arm spreads up to 2.4x), so the end-to-end
`--ab` mode could not resolve even a real ~1.17x engine win. The signal
that DID resolve it — interleaved steady-batch section-mark totals —
is what this script measures: one engine, one state dir, N consecutive
distinct 5k-message batches driven straight through `process_batch`,
each batch's mark-total taken from `engine.last_section_times` (the sum
of the per-section walls process_batch records). Batches
after the first two are "steady" (state populated, Python workers warm,
plans compiled); their totals are the adjudication unit.

Prints one JSON line:
    {"batch_totals": [...], "steady_totals": [...],
     "steady_median": s, "steady_range": [lo, hi], ...}

Run via tests/bench_engine_only.py --ab (interleaved NEW/OLD arms), or
standalone for profiling. Batch count/size via
SPARK_GRAFT_MARKS_BATCHES / SPARK_GRAFT_MARKS_BATCH_SIZE.
"""

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BATCHES = int(os.environ.get("SPARK_GRAFT_MARKS_BATCHES", "8"))
BATCH_SIZE = int(os.environ.get("SPARK_GRAFT_MARKS_BATCH_SIZE", "5000"))
WARM_BATCHES = 2  # first = cold workers + codegen, second = first revive


def run_marks(
    spark,
    sf_dir: str = SF_DIR,
    n_batches: int = N_BATCHES,
    batch_size: int = BATCH_SIZE,
) -> dict:
    """Drive N distinct steady batches through one engine on an existing
    session and return the marks record (no quiet-box gate, no
    spark.stop — the caller owns session lifecycle). Also callable from
    bench.py so the official per-round record carries the drift-immune
    steady-batch median next to msg/s (VERDICT r10 #2)."""
    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.config import EngineConfig
    from kinesis_stream_consumer_spark.plans.queries import _t
    from kinesis_stream_consumer_spark.sources import events_as_kinesis_records
    from kinesis_stream_consumer_spark.streaming import Engine, TaskDef
    from kinesis_stream_consumer_spark.streaming.tasks import TaskRejectedError

    def validate(message, task):
        if message["k2"] == "error":
            raise TaskRejectedError("error events rejected")

    cfg = EngineConfig(
        sequencing_per_key=True,
        key_property_names=["k1", "k2"],
        id_property_names=["id1"],
        seq_no_property_names=["n1", "n2"],
    )
    # N consecutive DISTINCT batches sliced by event_id range, each
    # checkpointed up front so batch construction never rides the clock.
    ev = _t(spark, sf_dir, "events", rebalance=True).where(
        F.col("event_id") < batch_size * n_batches
    )
    recs_all = events_as_kinesis_records(ev).localCheckpoint(eager=True)
    batches = []
    for i in range(n_batches):
        ev_i = ev.where(
            (F.col("event_id") >= i * batch_size)
            & (F.col("event_id") < (i + 1) * batch_size)
        )
        batches.append(
            events_as_kinesis_records(ev_i).localCheckpoint(eager=True)
        )
    del recs_all

    tmp = tempfile.mkdtemp(prefix="ksc-marks-")
    eng = Engine(
        spark, cfg, f"{tmp}/state", f"{tmp}/drq", f"{tmp}/dmq",
        [TaskDef("validate", validate)],
    )
    batch_totals: list[float] = []
    wall_totals: list[float] = []
    section_rows: list[dict] = []
    for i, recs in enumerate(batches):
        t0 = time.perf_counter()
        eng.process_batch(recs, i)
        wall_totals.append(round(time.perf_counter() - t0, 3))
        batch_totals.append(
            round(sum(eng.last_section_times.values()), 3)
        )
        section_rows.append(dict(eng.last_section_times))
    steady = batch_totals[WARM_BATCHES:]
    # per-section medians over the steady batches — the attribution the
    # marks adjudication is judged on (which section moved, not just the
    # total); sections absent in a tree version read as missing keys
    steady_sections = {
        k: round(
            statistics.median(r.get(k, 0.0) for r in section_rows[WARM_BATCHES:]),
            3,
        )
        for k in section_rows[-1]
    }
    return {
        "batch_totals": batch_totals,
        "wall_totals": wall_totals,
        "steady_totals": steady,
        "steady_median": round(statistics.median(steady), 3),
        "steady_range": [min(steady), max(steady)],
        "steady_sections": steady_sections,
        "batches": n_batches,
        "batch_size": batch_size,
    }


def main() -> None:
    from bench import wait_for_quiet_box

    loadavg_pre, load_contaminated = wait_for_quiet_box()

    from kinesis_stream_consumer_spark.session import get_spark

    spark = get_spark("bench-engine-marks")
    spark.sparkContext.setLogLevel("ERROR")
    out = run_marks(spark)
    out["loadavg_pre"] = round(loadavg_pre, 2)
    out["load_contaminated"] = load_contaminated
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
