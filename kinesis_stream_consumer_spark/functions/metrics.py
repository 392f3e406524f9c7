"""Executed-plan SQL-metric inspection: the proof layer for scale claims.

"The shuffle only carries (doc, 8 hashes)" is a design claim; these helpers
turn it into an assertable fact by walking the EXECUTED physical plan
(through the AQE wrapper and query-stage nodes) and collecting each node's
SQLMetrics. Tests assert bounds on shuffle records/bytes — a regression
that breaks map-side combine or starts shuffling payload columns fails CI
instead of surfacing as a 100× slowdown at 100 TB.
"""

from __future__ import annotations

import re
from typing import Iterator

from pyspark.sql import DataFrame


def _walk(node, depth: int = 0) -> Iterator[tuple[int, object]]:
    yield depth, node
    name = node.nodeName()
    # AQE wrappers don't expose their executed subtree via children()
    if name == "AdaptiveSparkPlan":
        yield from _walk(node.executedPlan(), depth + 1)
        return
    if "QueryStage" in name:
        yield from _walk(node.plan(), depth + 1)
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), depth + 1)


def executed_metrics(df: DataFrame) -> list[tuple[str, dict]]:
    """(nodeName, {metric: value}) for every node of df's EXECUTED plan.

    The DataFrame must have been materialized via an action that runs its
    own queryExecution (``collect()``/``toPandas()`` — NOT ``count()``,
    which plans a separate aggregate and leaves this one unexecuted)."""
    out = []
    for _, node in _walk(df._jdf.queryExecution().executedPlan()):
        m = node.metrics()
        it = m.iterator()
        mm = {}
        while it.hasNext():
            kv = it.next()
            mm[kv._1()] = kv._2().value()
        out.append((node.nodeName(), mm))
    return out


def shuffle_stats(df: DataFrame) -> dict:
    """Aggregate shuffle/generate stats of an executed DataFrame:
    records+bytes written across all Exchanges, rows fanned out by
    Generate (explode) nodes, and the Exchange count."""
    stats = {
        "exchanges": 0,
        "shuffle_records": 0,
        "shuffle_bytes": 0,
        "generated_rows": 0,
    }
    for name, m in executed_metrics(df):
        if name == "Exchange":
            stats["exchanges"] += 1
            stats["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            stats["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name == "Generate":
            stats["generated_rows"] += m.get("numOutputRows", 0)
    return stats


def _count_value(value, caller: str) -> int:
    """A sum-typed SQL metric ('shuffle records written', 'number of
    output rows'), rendered as a plain (comma-separated) integer. The
    sweeps feed exact and UPPER-bound gates, so a lenient parse fails in
    the PERMISSIVE direction: treating an unrecognized format as 0 or
    truncating "2.0 KiB" to 2 would let a real regression pass
    vacuously. Parse strictly and raise loudly on anything that is not a
    leading integer — a format change should break the gate, not silence
    it."""
    raw = str(value).strip()
    if re.fullmatch(r"\d[\d,]*", raw) is None:
        raise ValueError(
            f"{caller}: unparseable metric value {raw!r} — update the parser"
        )
    return int(raw.replace(",", ""))


def last_execution_id(spark) -> int:
    """Most recent SQL execution id in this session (-1 if none) — the
    'before' cursor for :func:`session_shuffle_records`."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return lst.apply(lst.size() - 1).executionId() if lst.size() else -1


def session_shuffle_records(spark, before_execution_id: int) -> int:
    """Total 'shuffle records written' across ALL SQL executions with id
    greater than ``before_execution_id``.

    :func:`shuffle_stats` walks ONE DataFrame's executed plan — blind to
    queries that run extra executions internally (driver-literal scalar
    pulls, eager localCheckpoints) and then return a literal frame with
    no exchanges at all. This sweep reads the session status store
    instead, so a gate can bound EVERYTHING a query put on the wire:

        before = last_execution_id(spark)
        QUERIES[name].fn(spark, sf).collect()
        total = session_shuffle_records(spark, before)

    Values come back UI-formatted (thousands separators, sometimes a
    'total (min, med, max)' suffix) — parse the leading integer. The
    metric descriptor list repeats a node's accumulators once per AQE
    re-plan, so dedupe by accumulator id or the sweep overcounts ~6-8x.
    """
    return _sweep(spark, before_execution_id, "shuffle records written")


def session_generated_rows(spark, before_execution_id: int, generator: str) -> int:
    """Rows emitted by every Generate node whose description contains
    ``generator`` (e.g. ``"explode(shingles"``), summed over ALL SQL
    executions with id greater than ``before_execution_id``.

    A pass counter that job and stage counts cannot give: however many
    AQE stage jobs an operator's build splits into, exploding its input
    once emits exactly one pass's rows here, and a second pass doubles
    them.
    """
    return _sweep(
        spark,
        before_execution_id,
        "number of output rows",
        lambda node: node.name() == "Generate" and generator in node.desc(),
    )


def _sweep(spark, before_execution_id: int, metric_name: str, node_filter=None) -> int:
    """Sum ``metric_name`` over the SQL executions after the cursor,
    deduped by accumulator id within each execution. With ``node_filter``
    only the metrics of matching plan-graph nodes count."""
    # the status store is fed asynchronously by the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    total = 0
    for i in range(lst.size()):
        e = lst.apply(i)
        eid = e.executionId()
        if eid <= before_execution_id:
            continue
        if node_filter is None:
            mets = [e.metrics()]
        else:
            nodes = store.planGraph(eid).allNodes()
            mets = [
                n.metrics()
                for n in (nodes.apply(j) for j in range(nodes.size()))
                if node_filter(n)
            ]
        vals = store.executionMetrics(eid)
        seen = set()
        for seq in mets:
            it = seq.iterator()
            while it.hasNext():
                m = it.next()
                acc = m.accumulatorId()
                if m.name() == metric_name and acc not in seen:
                    seen.add(acc)
                    v = vals.get(acc)
                    if not v.isEmpty():
                        total += _count_value(v.get(), metric_name)
    return total
