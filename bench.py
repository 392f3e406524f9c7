#!/usr/bin/env python
"""The three end-to-end numbers at $SPARK_GRAFT_SF_DIR (default sf0.1):
the headline query total, engine msg/s and sustained streaming msg/s.

Prints TWO JSON lines — the fully-attributed record first, then a compact
summary LAST so a bounded tail capture always ends with a parseable
record: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf, "engine_msgs_per_sec": ...,
"streaming_msgs_per_sec": ..., ...}. The full detail is also written
to BENCH_DETAIL.json. Each query is fully materialized (count) so lazy
plans can't cheat. These are wall-clock numbers of one session; a
performance A/B is decided on perfbench's interleaved runs
(``python3 perfbench/run.py``, see perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The headline is capped at the 29 entries below and `value` sums exactly
# them. A new marquee entry may only rotate IN by replacing a cheap
# certified entry, so the count stays 29. `value` is a same-session
# number: wall clock is never compared across sessions, and every A/B
# is decided on perfbench's interleaved runs (perfbench/README.md).
#
# Representative spread: scan-agg, broadcast join, window, stream parity,
# dedup (hash + LSH), text, similarity.
HEADLINE = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q3_top_orders",
    "window_topk_per_group",
    "sequencing_chains_per_key",
    "dedup_replayed_batch",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "llm_prep_pipeline",  # text, with the quality-scoring stage
    "sim_topk_bruteforce",
    "sim_kmeans_cells",
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
    "dedup_semantic",
    "curation_contamination",
    "streaming_session_window",
    "agg_reservoir_sample",
    "curation_contamination_embedding",
    "agg_kmv_set_ops",
    "dedup_setsim_prefix",
    "graph_triangle_counts",
    "agg_topk_misra_gries",
    "graph_label_propagation",
    "graph_personalized_pagerank",
    "text_jsd_source_divergence",
    "events_sequence_patterns",
    "events_survival_km",
    "events_survival_logrank_stratified",
]


def wait_for_quiet_box(threshold: float = 1.0, cap_sec: float = 120.0) -> tuple[float, bool]:
    """Block until 1-min loadavg < threshold, or cap_sec elapses.

    Back-to-back runs after pytest/another bench inflate timings up to 50%
    (r5: recorded 958 msg/s streaming vs 2108 on a quiet box — the official
    record inverted the round's real result). The gate lives HERE so any
    invoker records reality. Returns (loadavg_at_start_of_timing,
    load_contaminated) for stamping into the JSON.
    """
    deadline = time.monotonic() + cap_sec
    load = os.getloadavg()[0]
    while load >= threshold and time.monotonic() < deadline:
        print(f"bench: waiting for load < {threshold} (now {load:.2f})", file=sys.stderr)
        time.sleep(5.0)
        load = os.getloadavg()[0]
    return load, load >= threshold


def measure(loadavg: float, load_contaminated: bool) -> dict:
    """One full measurement pass: fresh SparkSession in, session stopped
    on exit so a retry starts from a cold JVM."""
    from kinesis_stream_consumer_spark.plans import QUERIES
    from kinesis_stream_consumer_spark.session import get_spark

    spark = get_spark("ksc-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen path once so per-query numbers measure the
    # engine, not session startup
    QUERIES["q1_pricing_summary"].fn(spark, SF_DIR).count()

    # Trained-index entries: the first invocation trains the model (Lloyd
    # iterations) and the session model cache keeps it; a second invocation
    # is the pure serving path. Reported as {train, query} so the headline
    # measures both one-off index build and steady-state query cost
    # (VERDICT r3 #6). Note sim_ivfpq_topk reuses the coarse+PQ models
    # trained by the two entries before it, so its "train" is ~0 by design.
    INDEX_QUERIES = {
        "sim_kmeans_cells",
        "sim_pq_adc_topk",
        "sim_ivfpq_topk",
        "dedup_semantic",
    }
    timings: dict[str, float] = {}
    index_timing: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        spec = QUERIES[name]
        t0 = time.perf_counter()
        df = spec.fn(spark, SF_DIR)
        n = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        del n
        if name in INDEX_QUERIES:
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).count()
            q_sec = time.perf_counter() - t0
            index_timing[name] = {
                "train": round(max(timings[name] - q_sec, 0.0), 3),
                "query": round(q_sec, 3),
            }

    # train = first invocation − second invocation, so it also holds the
    # first run's one-off plan compilation (~0.5-1.5 s for a new plan
    # shape). Every model-cache MISS in the plans layer stamps its wall
    # time into BUILD_MARKS (Lloyd train, fused encode+pack, model-row
    # collects, IVF-PQ index build); the earlier entries build the models
    # first, so each mark is the marginal cost of its own phase, and
    # train minus an entry's marks is plan compilation, not model work.
    from kinesis_stream_consumer_spark.plans.llm_pipeline import BUILD_MARKS

    model_build_marks = dict(BUILD_MARKS)

    # engine throughput: full consumer lifecycle (ingest→sequence→tasks→
    # state→DLQ) over the first 20k events, per-key sequencing
    import tempfile

    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.config import EngineConfig
    from kinesis_stream_consumer_spark.plans.queries import _t
    from kinesis_stream_consumer_spark.sources import events_as_kinesis_records
    from kinesis_stream_consumer_spark.streaming import Engine, TaskDef
    from kinesis_stream_consumer_spark.streaming.tasks import TaskRejectedError

    def validate(message, task):
        if message["k2"] == "error":
            raise TaskRejectedError("error events rejected")

    def engine(cfg: EngineConfig, root: str) -> Engine:
        return Engine(
            spark, cfg, f"{root}/state", f"{root}/drq", f"{root}/dmq",
            [TaskDef("validate", validate)],
        )

    # rebalance: ingest (base64+JSON parse+md5) is CPU-bound and fuses onto
    # the scan; the engine path measures faster with the fan-out.
    ev = _t(spark, SF_DIR, "events", rebalance=True).where(F.col("event_id") < 20000)
    recs = events_as_kinesis_records(ev).localCheckpoint(eager=True)
    n_msgs = recs.count()
    cfg = EngineConfig(
        sequencing_per_key=True,
        key_property_names=["k1", "k2"],
        id_property_names=["id1"],
        seq_no_property_names=["n1", "n2"],
    )
    # warm the engine path too (codegen + Arrow/task-runner spin-up) with
    # a throwaway batch into its own state dir, then time the real one.
    # The warm batch is FULL-SIZE: a small one spins up only a few Python
    # workers, and the timed batch would pay the rest of the cold worker
    # forks + pandas imports (~2-4 s, measured r5).
    engine(cfg, tempfile.mkdtemp(prefix="ksc-bench-warm-")).process_batch(recs, 0)
    eng = engine(cfg, tempfile.mkdtemp(prefix="ksc-bench-"))
    t0 = time.perf_counter()
    eng.process_batch(recs, 1)
    engine_sec = round(time.perf_counter() - t0, 3)

    # sustained STREAMING throughput: the same lifecycle attached via
    # writeStream.foreachBatch, 4 micro-batches of 5k messages each
    # (availableNow) through a fresh checkpoint — the steady micro-batch
    # cadence including Spark's streaming machinery
    from kinesis_stream_consumer_spark.sources import stream_records

    sdir = tempfile.mkdtemp(prefix="ksc-bench-stream-")
    for i in range(4):
        recs.where(
            (F.col("eventID").isNotNull())
            & (F.crc32(F.col("eventID").cast("binary")) % 4 == i)
        ).coalesce(1).write.mode("append").json(f"{sdir}/in")
    # Split the ~3 MB micro-batch JSON files into ~12 scan partitions so
    # the CPU-bound ingest fuses straight onto the scan at fan width (the
    # engine skips its fan-out repartition): the standard small-file
    # split tuning a real deployment sets for its source. Only the
    # streaming sections read after this.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    # Deferred discard sinks for the SUSTAINED sections only: the DRQ/DMQ
    # appends ride the inter-batch gap and are drained after the stream
    # terminates. The single-batch number above stays synchronous: with
    # no next batch to overlap, deferral would merely move a real write
    # outside the stopwatch.
    import dataclasses

    stream_cfg = dataclasses.replace(cfg, deferred_discard_sinks=True)
    # warm the streaming machinery (sink planning, checkpoint log, first
    # state write) with a throwaway stream of one full-size (5k)
    # micro-batch, for the same reason as the engine warm-up
    wdir = tempfile.mkdtemp(prefix="ksc-bench-stream-warm-")
    recs.limit(5000).coalesce(1).write.mode("append").json(f"{wdir}/in")
    weng = engine(stream_cfg, wdir)
    weng.attach(stream_records(spark, f"{wdir}/in"), f"{wdir}/ckpt").start().awaitTermination(120)
    weng.drain_discard_sinks()

    seng = engine(stream_cfg, sdir)
    t0 = time.perf_counter()
    q = seng.attach(stream_records(spark, f"{sdir}/in"), f"{sdir}/ckpt").start()
    q.awaitTermination(600)
    seng.drain_discard_sinks()  # timed: durable envelopes, not in-flight
    stream_sec = round(time.perf_counter() - t0, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings[k] for k in HEADLINE), 3),
        "unit": "sec",
        "queries": timings,
        "index_timing": index_timing,
        "model_build_marks": model_build_marks,
        "sf": sf_val,
        "loadavg": round(loadavg, 2),
        "load_contaminated": load_contaminated,
        "engine": {
            "messages": n_msgs,
            "sec": engine_sec,
            "msgs_per_sec": round(n_msgs / engine_sec, 1),
        },
        "streaming": {
            "messages": n_msgs,
            "micro_batches": 4,
            "sec": stream_sec,
            "msgs_per_sec": round(n_msgs / stream_sec, 1),
        },
    }
    spark.stop()
    return out


def main() -> None:
    # Retry the whole wait-and-measure cycle (fresh JVM each attempt, the
    # quiet gate BEFORE the JVM starts) and ship the FIRST uncontaminated
    # record; if every attempt is contaminated, ship the fastest one,
    # flagged load_contaminated with the attempt count.
    max_attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))
    attempts: list[dict] = []
    for i in range(max_attempts):
        loadavg, load_contaminated = wait_for_quiet_box()
        rec = measure(loadavg, load_contaminated)
        rec["attempt"] = i + 1
        attempts.append(rec)
        if not load_contaminated:
            break
        print(
            f"bench: attempt {i + 1} load-contaminated (loadavg {loadavg:.2f})"
            + ("; retrying after cool-down" if i + 1 < max_attempts else ""),
            file=sys.stderr,
        )
    if not attempts[-1]["load_contaminated"]:
        out = attempts[-1]
    else:
        out = min(attempts, key=lambda o: o["value"])
    out["attempts"] = len(attempts)

    # Three artifacts: the full record in the BENCH_DETAIL.json sidecar
    # (always complete), the full record on stdout (may be cut by a
    # bounded tail capture), and LAST a compact line without the
    # attribution payloads, so a tail capture always ends parseable.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout lines still carry everything
    print(json.dumps(out))
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "loadavg",
            "load_contaminated",
        )
    }
    compact["engine_msgs_per_sec"] = out["engine"]["msgs_per_sec"]
    compact["streaming_msgs_per_sec"] = out["streaming"]["msgs_per_sec"]
    compact["attempts"] = out.get("attempts", 1)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
