"""Shared co-purchase graph construction (edge frame + oracle CTE).

A helper-only module: plans/relational.py and plans/graph.py both build
on it, and neither has to import the other's queries to get it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_consumer_spark.plans.queries import _t


_COEDGES_SQL = """li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""


# Same session-scoped cache discipline as llm_pipeline's trained-model
# cache: the co-purchase edge build (order-pair join + support filter,
# ~2.4 s warm at sf0.1) is shared by four graph queries; the cached value
# is the checkpointed slim edge frame, bit-identical to a rebuild.
_EDGE_CACHE: dict = {}


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _EDGE_CACHE.get(key)
    if hit is None:
        # ONE shuffle keyed on orderkey does BOTH the (orderkey, partkey)
        # dedup (collect_set) and the per-order grouping that the old
        # distinct + self-join shape paid two full-data exchanges for
        # (r14: 4 Exchanges -> 2, plans/r14/co_edges_build_*.txt; edge
        # set verified row-identical at sf0.1 and sf0.01). Pair
        # generation explodes the per-order part ARRAY — order sizes are
        # bounded (≤7 lineitems in TPC-H at any SF), so the O(s²) pair
        # array is tiny and the support count per (u, v) is unchanged:
        # number of orders containing both parts.
        orders = (
            _t(spark, sf_dir, "lineitem")
            .groupBy(F.col("l_orderkey").alias("ok"))
            .agg(F.collect_set("l_partkey").alias("ps"))
        )
        pairs = orders.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> transform("
                    "filter(ps, y -> y > x), y -> struct(x as u, y as v))))"
                )
            ).alias("e")
        )
        hit = (
            pairs.select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        _EDGE_CACHE[key] = hit
    return hit


_LPA_ROUNDS = 3


def _lpa_round_sql(i: int) -> str:
    prev = f"l{i - 1}" if i > 1 else "l0"
    return f"""
    c{i} AS (
      SELECT b.d AS node, p.label, COUNT(*) AS c
      FROM bidir b JOIN {prev} p ON p.node = b.s
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM c{i}) WHERE rn = 1
    )"""
