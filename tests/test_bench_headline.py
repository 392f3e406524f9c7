"""bench.py's headline list, checked without a SparkSession: a stale or
duplicate name would otherwise surface only minutes into a ``bench.py``
or ``tests/gen_plans.py`` run."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO


def test_headline_is_29_unique_registered_queries():
    from bench import HEADLINE
    from kinesis_stream_consumer_spark.plans import QUERIES

    assert len(HEADLINE) == 29 and len(set(HEADLINE)) == 29, HEADLINE
    assert not set(HEADLINE) - set(QUERIES), set(HEADLINE) - set(QUERIES)


def test_importing_bench_starts_no_spark_session():
    # a fresh interpreter: the test session's own SparkSession would
    # otherwise be the active one
    probe = (
        "import json, bench\n"
        "import kinesis_stream_consumer_spark.plans\n"
        "from pyspark import SparkContext\n"
        "print(json.dumps(SparkContext._active_spark_context is None\n"
        "                 and SparkContext._gateway is None))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    assert json.loads(out.stdout.splitlines()[-1]) is True, out.stderr[-2000:]
