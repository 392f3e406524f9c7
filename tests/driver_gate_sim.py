"""Driver-gate simulation: run EVERY queries() entry on a VANILLA
SparkSession (plain builder, no tuned session, no test PYTHONPATH) against
its oracle_sql() on DuckDB at sf0.01 — exactly what the driver's
correctness gate does. Run with:

    env -u PYTHONPATH python tests/driver_gate_sim.py [name ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as e  # noqa: E402

SF = "/root/testdata/sf0.01"


def norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(round(v, 9))
        return str(v)

    return sorted(tuple(render(r[i]) for i in order) for r in rows)


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("driver-gate-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    qs = e.queries()
    oracles = e.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name}: rows_only rows={len(srows)}")
                continue
            res = con.execute(oracles[name])
            dcols = [d[0].lower() for d in res.description]
            drows = res.fetchall()
            ok_cols = sorted(scols) == sorted(dcols)
            ok_rows = len(srows) == len(drows)
            ok_vals = norm(scols, srows) == norm(dcols, drows)
            status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
            print(
                f"{name}: {status} cols={ok_cols} rows={len(srows)}/{len(drows)} "
                f"vals={ok_vals}"
            )
            if status == "FAIL":
                failures.append(name)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}")
    # The driver's CORRECTNESS file records only the first 50 registered
    # queries, the ones plans.DRIVER_WINDOW lists — surface the cut.
    from kinesis_stream_consumer_spark.plans import DRIVER_WINDOW

    names = list(qs)
    w = len(DRIVER_WINDOW)
    print(f"driver window (first {w} of {len(names)}): last in = {names[w - 1]!r}")
    if len(names) > w:
        print(f"outside window ({len(names) - w}): {names[w:]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
