"""Source-format coverage: CSV/JSONL lossless roundtrip with explicit
schemas, and partition pruning on Hive-partitioned parquet (the scan must
carry PartitionFilters and skip non-matching directories)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.sources import formats as FMT
from tests.conftest import SF_CORRECT


def _events_flat(spark):
    from kinesis_stream_consumer_spark.plans.queries import _t

    return _t(spark, SF_CORRECT, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def test_csv_jsonl_roundtrip_lossless(spark, tmp_path):
    flat = _events_flat(spark)
    flat.write.option("header", "true").csv(str(tmp_path / "csv"))
    flat.write.json(str(tmp_path / "jsonl"))
    csv = FMT.read_csv(spark, str(tmp_path / "csv"), FMT.EVENTS_FLAT_SCHEMA)
    jsl = FMT.read_jsonl(spark, str(tmp_path / "jsonl"), FMT.EVENTS_FLAT_SCHEMA)
    # every row identical across all three representations, doubles included
    assert csv.exceptAll(flat).count() == 0 and flat.exceptAll(csv).count() == 0
    assert jsl.exceptAll(flat).count() == 0 and flat.exceptAll(jsl).count() == 0


def test_partitioned_parquet_scan_prunes(spark, tmp_path):
    flat = _events_flat(spark)
    FMT.write_partitioned_parquet(flat, str(tmp_path / "part"), ["event_type"])
    scan = spark.read.parquet(str(tmp_path / "part")).where(
        F.col("event_type") == "click"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert scan.count() == flat.where(F.col("event_type") == "click").count()


def test_rebalance_scan_conditions(spark):
    """_rebalance_scan fires only for big single-row-group files: tiny dims
    keep their scan partitioning (and stay broadcast-able), big flat files
    fan out to defaultParallelism, and filters/pruning still reach the scan
    through the added Exchange."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from kinesis_stream_consumer_spark.plans.queries import _t

    cores = spark.sparkContext.defaultParallelism
    li = _t(spark, SF_CORRECT, "lineitem", rebalance=True)  # 60k rows, 1 row group
    assert li.rdd.getNumPartitions() == cores
    region = _t(spark, SF_CORRECT, "region", rebalance=True)  # 5 rows: untouched
    assert region.rdd.getNumPartitions() == 1
    # default (scan-bound call sites): no repartition is injected at all
    li_cheap = _t(spark, SF_CORRECT, "lineitem")
    assert li_cheap.rdd.getNumPartitions() == 1

    buf = io.StringIO()
    with redirect_stdout(buf):
        li.where(F.col("l_quantity") > 49).select("l_orderkey").explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49" in plan
    assert "l_extendedprice" not in plan  # pruning intact through Exchange


def test_write_corpus_shards_layout(spark, tmp_path):
    """Shard writer: hive-style partition dirs, bounded shard sizes, and a
    lossless round-trip."""
    import glob

    import pyarrow.parquet as pq

    from kinesis_stream_consumer_spark.operators.curation import (
        train_val_test_split,
    )
    from kinesis_stream_consumer_spark.plans.queries import _t
    from kinesis_stream_consumer_spark.sources.formats import write_corpus_shards

    docs = train_val_test_split(_t(spark, SF_CORRECT, "documents"), "doc_id")
    out = str(tmp_path / "corpus")
    write_corpus_shards(
        docs,
        out,
        partition_cols=["split", "lang"],
        max_records_per_file=50,
        sort_within=["doc_id"],
    )
    files = glob.glob(f"{out}/split=*/lang=*/*.parquet")
    assert files, "expected hive-partitioned shard files"
    assert all(pq.read_metadata(f).num_rows <= 50 for f in files)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # partition pruning reaches the directory layout
    assert back.where("split = 'train'").count() < back.count()


def test_kinesis_stream_seam_reports_missing_connector(spark):
    """Without the connector jar the seam must fail loud and actionable,
    not with a bare ClassNotFound."""
    import pytest

    from kinesis_stream_consumer_spark.sources.records import kinesis_stream

    with pytest.raises(RuntimeError, match="Kinesis connector not on the classpath"):
        kinesis_stream(spark, "my-stream", "us-west-2")


def test_dynamodb_stream_seam_reports_missing_connector(spark):
    import pytest

    from kinesis_stream_consumer_spark.sources.records import dynamodb_stream

    with pytest.raises(RuntimeError, match="DynamoDB Streams connector not on"):
        dynamodb_stream(spark, "my-table", "us-west-2")


def test_partitioned_scan_prunes_directories(spark):
    """scan_partitioned_prune: the partition-column predicate reaches the
    scan as PartitionFilters and the pruned scan selects only the two
    matching partition directories of five — the plan never touches the
    other event types; row parity with the flat table proves the
    partitioned write/read loses nothing."""
    from tests.conftest import SF_SMOKE
    from kinesis_stream_consumer_spark.plans import QUERIES
    from kinesis_stream_consumer_spark.plans.relational import (
        _PART_LAYOUT_CACHE,
    )

    df = QUERIES["scan_partitioned_prune"].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "event_type" in plan

    path = _PART_LAYOUT_CACHE[(spark.sparkContext.applicationId, SF_SMOKE)]
    pruned = spark.read.parquet(path).where(
        F.col("event_type").isin("purchase", "signup")
    )
    # the executed scan's selected-partition count: 2 of 5 directories
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "purchase" in scan and "signup" in scan
    for other in ("click", "view", "error"):
        assert f"event_type={other}" not in scan
    flat = spark.read.parquet(f"{SF_SMOKE}/events.parquet").where(
        F.col("event_type").isin("purchase", "signup")
    )
    assert pruned.count() == flat.count()


def test_json_schema_evolution_unifies_and_nulls_v1(spark):
    """scan_json_schema_evolution: the unified JSONL read carries BOTH
    schema versions' columns, v1 rows surface NULL for the v2-only `day`
    column, and no rows are lost across the two writes."""
    from kinesis_stream_consumer_spark.plans.queries import QUERIES, _t
    from kinesis_stream_consumer_spark.plans.relational import _JSON_EVO_CACHE

    QUERIES["scan_json_schema_evolution"].fn(spark, SF_CORRECT).collect()
    path = _JSON_EVO_CACHE[(spark.sparkContext.applicationId, SF_CORRECT)]
    back = spark.read.json(path)
    assert {"event_id", "event_type", "cents", "day"} <= set(back.columns)
    n_total = _t(spark, SF_CORRECT, "events").count()
    assert back.count() == n_total
    n_v1 = back.where(F.col("day").isNull()).count()
    n_even = _t(spark, SF_CORRECT, "events").where(
        F.col("event_id") % 2 == 0
    ).count()
    assert n_v1 == n_even  # every v1 (even-id) row, and only those, is NULL
