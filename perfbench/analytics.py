"""The analytics_queries workload: registered queries over seeded tables.

One or two queries per operator family, over tables of sf 0.005 made by
``tables.py``. Two warm passes (model training, first plan compilation,
and the slide that follows it) belong to setup; the timed window then
runs every query once per pass, in an order the seed shuffles anew each
pass. Each execution collects the full result and hashes it (a
``count()`` would let column pruning skip projected work). An execution
fails on an exception or on a hash that differs from the first warm
pass's; after the window, each query's result is compared with its
DuckDB oracle and a mismatch fails all its executions.

This is the only workload that runs ``plans/`` and ``operators/``; it
never touches the engine.
"""

from __future__ import annotations

import random
import time

from kinesis_stream_consumer_spark.plans import QUERIES
from kinesis_stream_consumer_spark.session import TABLES
from perfbench import checks
from perfbench.common import Outcome, Run, add_counts, median, planning_s
from perfbench.tables import write_tables

SF = 0.005
QUERY_LIST = [
    "q1_pricing_summary",  # scan + hash aggregate
    "q5_region_revenue",  # six-way join
    "streaming_session_window",  # session window
    "dedup_minhash_lsh",  # near-duplicate detection
    "text_jsd_source_divergence",  # text statistics
    "graph_triangle_counts",  # graph
    "agg_topk_misra_gries",  # sketch
    "events_survival_km",  # events / survival
    "sim_pq_adc_topk",  # vector search over a trained codebook
]
WARM_PASSES = 2
PASS_S = 6.5  # nominal timed pass: passes = seconds / this


def _execute(spark, name: str, sf_dir: str):
    """One execution: (seconds, rows, columns, executed DataFrame)."""
    t = time.perf_counter()
    df = QUERIES[name].fn(spark, sf_dir)
    rows = df.collect()
    return time.perf_counter() - t, rows, df.columns, df


def _oracle_mismatches(sf_dir: str, results: dict) -> set[str]:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = set()
    for name, (rows, cols) in results.items():
        oracle = QUERIES[name].oracle
        if oracle is None:
            continue
        res = con.execute(oracle)
        ocols = [d[0] for d in res.description]
        if not checks.same_result(rows, cols, res.fetchall(), ocols):
            print(f"check: {name} differs from its oracle")
            bad.add(name)
    con.close()
    return bad


def analytics_queries(run: Run) -> Outcome:
    spark, tr = run.spark, run.tracer
    sf_dir = run.path("tables")
    n_passes = max(2, round(run.seconds / PASS_S))
    order = random.Random(run.seed)
    with tr.span("setup.generate", sf=SF):
        write_tables(sf_dir, run.seed, SF)
    reference: dict[str, str] = {}
    with tr.span("setup.warm", passes=WARM_PASSES):
        for _ in range(WARM_PASSES):
            for name in order.sample(QUERY_LIST, len(QUERY_LIST)):
                _, rows, cols, _ = _execute(spark, name, sf_dir)
                reference.setdefault(name, checks.result_hash(rows, cols))
    setup_s = time.perf_counter() - run.t0

    op_s: list[float] = []
    per_query: dict[str, list[int]] = {n: [] for n in QUERY_LIST}  # op positions
    failed_ops: set[int] = set()
    last: dict[str, tuple] = {}
    counts: dict[str, dict] = {n: {} for n in QUERY_LIST}
    plan_s = 0.0
    with tr.span("window", passes=n_passes):
        for p in range(n_passes):
            for name in order.sample(QUERY_LIST, len(QUERY_LIST)):
                pos = len(op_s)
                per_query[name].append(pos)
                cursor = run.cursor()
                with tr.span("query", name=name, pass_no=p) as span:
                    try:
                        wall, rows, cols, df = _execute(spark, name, sf_dir)
                    except Exception as e:  # noqa: BLE001 - an error fails the op
                        print(f"query {name}: {e!r}"[:2000])
                        op_s.append(0.0)
                        failed_ops.add(pos)
                        continue
                    op_s.append(wall)
                    if checks.result_hash(rows, cols) != reference[name]:
                        print(f"check: {name} pass {p} result differs from the first warm pass")
                        failed_ops.add(pos)
                    last[name] = (rows, cols)
                    if cursor:
                        c = cursor.read()
                        c["planning_s"] = planning_s(df)
                        span.update(c)
                        add_counts(counts[name], c)
                        plan_s += c["planning_s"]
    work_s = sum(op_s)

    with tr.span("check"):
        for name in _oracle_mismatches(sf_dir, last):
            failed_ops.update(per_query[name])
    if run.trace:
        for name in QUERY_LIST:
            runs = len(per_query[name])
            run.layer[f"query.{name}.s"] = median([op_s[i] for i in per_query[name]])
            run.layer[f"query.{name}.jobs"] = counts[name].get("jobs", 0) / runs
            run.layer[f"query.{name}.shuffle_bytes"] = (
                counts[name].get("shuffle_write_bytes", 0) / runs
            )
        run.layer["plans.planning_s"] = plan_s / len(op_s)
        run.layer["plans.executor_cpu_s"] = (
            sum(c.get("executor_cpu_s", 0.0) for c in counts.values()) / len(op_s)
        )
    return Outcome(
        setup_s=setup_s,
        work_s=work_s,
        op_s=[s for s in op_s if s > 0],  # an execution that raised has no time
        items=len(op_s) - len(failed_ops),
        attempted=len(op_s),
        failed=len(failed_ops),
        correct=not failed_ops and len(last) == len(QUERY_LIST),
    )
