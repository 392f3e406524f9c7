"""Opt-in scale soak (VERDICT r5 #7): one 200k-row batch through
process_batch, pinning the claims the engine makes about cluster-width
behavior at a size where they would actually break.

Run with:  SPARK_GRAFT_SOAK=1 python -m pytest tests/test_scale_soak.py -q
(skipped by default — ~2-3 min of deliberate heavy lifting).

Asserts:
- the exec stage runs at FULL cluster width for a big batch (engine.py
  phase-2 sizing comment): exec_partitions == the task slots,
  min(shuffle width, defaultParallelism);
- every message is processed exactly once (messages == distinct ids);
- per-section times scale sub-quadratically from 50k → 200k (4× rows
  must stay under a generous 10× per section — catches an accidental
  driver-side loop or all-pairs step that linear scaling hides at 5k);
- no driver-side memory accumulation across repeated big batches
  (python + JVM RSS growth bounded — catches leaked checkpoint frames
  or per-batch caches that would OOM a long-running driver).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.config import EngineConfig
from kinesis_stream_consumer_spark.sources import events_as_kinesis_records
from kinesis_stream_consumer_spark.streaming import Engine, TaskDef

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SOAK") != "1",
    reason="opt-in scale soak: set SPARK_GRAFT_SOAK=1",
)

SF_BENCH = "/root/testdata/sf0.1"


def _live_heap_mb(spark) -> float:
    """Live JVM heap (driver + executors share the JVM in local mode) —
    the signal for retained frames. OS RSS is the wrong meter here:
    pooled Python workers keep their high-water allocation and the JVM
    doesn't uncommit heap pages, so RSS ratchets up without any live
    object growing. `totalMemory - freeMemory` after a System.gc() hint
    is ALSO the wrong meter: G1 leaves floating garbage behind a hinted
    collection, and the engine's stats/plan-overlap thread allocates
    concurrently enough that the slack alone read as a phantom ~1 GB
    "leak" (r7: live histogram identical before/after while the
    occupancy delta claimed +1380 MB). jcmd GC.class_histogram forces a
    real full GC and reports exactly the live bytes."""
    import re
    import subprocess

    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out = subprocess.run(
        ["jcmd", str(pid), "GC.class_histogram"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    m = re.search(r"^Total\s+\d+\s+(\d+)", out, re.MULTILINE)
    assert m, f"unparseable jcmd histogram tail: {out[-500:]!r}"
    return int(m.group(1)) / 1024 / 1024


def _mk_engine(spark, tmp_path):
    def noop(message, task):
        return None

    return Engine(
        spark,
        EngineConfig(
            sequencing_per_key=True,
            key_property_names=["k1", "k2"],
            id_property_names=["id1"],
            seq_no_property_names=["n1", "n2"],
        ),
        state_path=str(tmp_path / "state"),
        drq_path=str(tmp_path / "drq"),
        dmq_path=str(tmp_path / "dmq"),
        process_one_defs=[TaskDef("noop", noop)],
    )


def _big_records(spark, n_rows: int):
    """n_rows synthetic messages: the 100k sf0.1 events table unioned with
    id-shifted copies (distinct event_ids, same shape)."""
    from kinesis_stream_consumer_spark.plans.queries import _t

    ev = _t(spark, SF_BENCH, "events", rebalance=True)
    n_copies = -(-n_rows // 100_000)
    df = ev.withColumn("event_id", F.col("event_id"))
    for i in range(1, n_copies):
        df = df.unionByName(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * 1_000_000))
        )
    df = df.limit(n_rows)
    return events_as_kinesis_records(df).localCheckpoint(eager=True)


def test_200k_batch_full_width_linear_sections(spark, tmp_path):
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = min(width, spark.sparkContext.defaultParallelism)
    recs_small = _big_records(spark, 50_000)
    recs_big = _big_records(spark, 200_000)

    eng = _mk_engine(spark, tmp_path / "warm")
    eng.process_batch(recs_small, 0)  # warm workers/codegen
    t_small = dict(eng.last_section_times)

    eng_big = _mk_engine(spark, tmp_path / "big")
    res = eng_big.process_batch(recs_big, 0)
    t_big = dict(eng_big.last_section_times)

    # full cluster width for a big batch — the ~500 rows/task bound only
    # bites micro-batches
    assert res.exec_partitions == slots, (res.exec_partitions, slots)
    assert res.messages == 200_000
    assert res.fully_finalised == 200_000

    # 4x rows: every section must stay under 10x (generous for this box's
    # +-40% noise; quadratic would be ~16x and a driver loop far worse)
    for section, small in t_small.items():
        big = t_big[section]
        assert big < max(10 * small, 2.0), (
            f"{section} scaled {small:.2f}s -> {big:.2f}s at 4x rows"
        )


def _gc_all(spark):
    """Drop python refs, let ContextCleaner unpersist dead checkpoints,
    then compact the JVM heap so RSS reflects live data, not GC laziness."""
    import gc
    import time

    gc.collect()
    time.sleep(2)  # ContextCleaner drains its reference queue async
    spark.sparkContext._jvm.System.gc()
    time.sleep(1)


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_no_driver_memory_growth_across_big_batches(spark, tmp_path):
    recs = _big_records(spark, 200_000)
    eng = _mk_engine(spark, tmp_path)
    eng.process_batch(recs, 0)  # warm + first state save
    _gc_all(spark)
    base_rdds = _n_persistent_rdds(spark)
    base_heap = _live_heap_mb(spark)
    for i in range(1, 4):
        eng.process_batch(recs, i)
    _gc_all(spark)
    # localCheckpoints are persistent RDDs: if batches leaked theirs, this
    # count grows ~3+/batch. The engine legitimately retains ONE batch's
    # frames (the saved-state cache serves the next T1 load from them).
    grown = _n_persistent_rdds(spark) - base_rdds
    assert grown <= 4, f"persistent RDDs grew by {grown} over 3 batches"
    growth_mb = _live_heap_mb(spark) - base_heap
    # post-GC live-heap growth across three further 200k batches; one
    # leaked batch's checkpoint blocks alone hold ~100MB+
    assert growth_mb < 500, f"live JVM heap grew {growth_mb:.0f} MB post-GC"


def test_200k_batch_sketches_stay_register_bounded(spark, tmp_path):
    """All three engine sketches on, one 200k-row batch: the state table's
    sketch footprint must stay REGISTER-bounded — HLL ≤ m rows/shard, CMS
    ≤ d·w rows/shard, quantile ≤ 63·K+1 rows/shard — and the sketch
    maintenance must not change message accounting. This is the claim
    the sketch docstrings make about 100 TB ('registers per shard
    regardless of volume') exercised at a size where a rows-scaled leak
    (e.g. accidentally saving per-message sketch rows) would be obvious."""
    from kinesis_stream_consumer_spark.operators import sketches as SK

    def noop(message, task):
        return None

    eng = Engine(
        spark,
        EngineConfig(
            sequencing_per_key=True,
            key_property_names=["k1", "k2"],
            id_property_names=["id1"],
            seq_no_property_names=["n1", "n2"],
            track_distinct_sketch=True,
            track_frequency_sketch=True,
            track_quantile_sketch=True,
            track_sample_sketch=True,
        ),
        state_path=str(tmp_path / "state"),
        drq_path=str(tmp_path / "drq"),
        dmq_path=str(tmp_path / "dmq"),
        process_one_defs=[TaskDef("noop", noop)],
    )
    recs = _big_records(spark, 200_000)
    res = eng.process_batch(recs, 0)
    assert res.messages == 200_000
    state = eng.state.read_all()
    n_shards = 4  # events_as_kinesis_records shards on user_id % 4
    counts = {
        r["kind"]: r["n"]
        for r in state.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["sketch"] <= SK.HLL_M * n_shards
    for kind in ("cms", "cms_delta"):
        assert counts[kind] <= SK.CMS_D * SK.CMS_W * n_shards
    for kind in ("qsk", "qsk_delta"):
        assert counts[kind] <= (63 * SK.QSK_K + 1) * n_shards
    # reservoir register: n+1 sampled identities per shard, volume-free
    assert counts["rsv"] <= (8 + 1) * n_shards
