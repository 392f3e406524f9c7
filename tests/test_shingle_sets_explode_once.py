"""Structural pin for the lazy shingle-set checkpoint fusion.

The three shingle pipelines (``minhash_lsh_candidate_pairs``,
``minhash_lsh_incremental_pairs``, ``prefix_filter_jaccard_pairs``) hold a
LAZY ``localCheckpoint`` on the shared shingle sets; the single EAGER
band/prefix checkpoint immediately downstream is, by construction, the
FIRST action touching them, so tokenization runs fused in that one build
action. The invariant this pins, per operator: **the build tokenizes and
explodes the input's shingle sets exactly once.**

Measured as the rows every ``explode(shingles)`` Generate node emitted
across all SQL executions started by the build
(``functions.metrics.session_generated_rows``), against one pass over the
input — the total shingle-set size. An edit that runs another action
over the input first re-tokenizes, and reads two passes here. The count
of Spark jobs is NOT the invariant: under AQE each shuffle stage of the
one build action is its own job, so it varies with the plan's exchanges.
(Nor does a lazy band/prefix checkpoint move the pass count: under AQE,
creating its RDD already runs the map stages that explode the sets.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.functions.metrics import (
    last_execution_id,
    session_generated_rows,
)
from kinesis_stream_consumer_spark.operators.dedup import (
    minhash_lsh_candidate_pairs,
    minhash_lsh_incremental_pairs,
    prefix_filter_jaccard_pairs,
    shingle_sets,
)


def _docs_frame(spark):
    rows = []
    words = [f"w{i}" for i in range(30)]
    for d in range(10):
        rows.append((f"d{d:02d}", " ".join(words[d * 2 : d * 2 + 12])))
    return spark.createDataFrame(rows, "doc_id string, body string")


def _shingle_passes(spark, df, build):
    """Run the build; return (result, shingle-explode passes it made)."""
    one_pass = shingle_sets(df, "body", "doc_id").select(
        F.sum(F.size("shingles"))
    ).first()[0]
    assert one_pass > 0
    before = last_execution_id(spark)
    out = build()
    rows = session_generated_rows(spark, before, "explode(shingles")
    return out, rows / one_pass


def test_candidate_pairs_build_tokenizes_once(spark):
    df = _docs_frame(spark)
    pairs, passes = _shingle_passes(
        spark, df, lambda: minhash_lsh_candidate_pairs(df, "body", "doc_id")
    )
    assert passes == 1, (
        f"build made {passes} shingle passes, expected exactly 1: the eager "
        "band checkpoint must be the sole build action and must materialize "
        "the lazy shingle sets as its side effect"
    )
    # the returned frame is consumable (sets really did materialize)
    assert pairs.count() >= 0


def test_incremental_pairs_build_tokenizes_once(spark):
    df = _docs_frame(spark).withColumn(
        "is_new", F.col("doc_id") >= F.lit("d05")
    )
    pairs, passes = _shingle_passes(
        spark,
        df,
        lambda: minhash_lsh_incremental_pairs(df, "body", "doc_id", "is_new"),
    )
    assert passes == 1, (
        f"build made {passes} shingle passes, expected exactly 1 (fused "
        "band+flags checkpoint materializing the lazy shingle sets)"
    )
    assert pairs.count() >= 0


def test_prefix_filter_build_tokenizes_once(spark):
    df = _docs_frame(spark)
    pairs, passes = _shingle_passes(
        spark, df, lambda: prefix_filter_jaccard_pairs(df, "body", "doc_id")
    )
    assert passes == 1, (
        f"build made {passes} shingle passes, expected exactly 1 (eager "
        "prefix checkpoint materializing the lazy shingle sets)"
    )
    assert pairs.count() >= 0
