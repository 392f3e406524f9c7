"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings are the ones we would ship
to a 1000-executor cluster: AQE on (runtime re-plan, skew-join splitting),
shuffle partitions sized for the data scale, Arrow enabled for the
Pandas-UDF surface.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kinesis-stream-consumer-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate duplicates the whole generator expression
        # into a pre-filter; for explode(expensive-array-expr) (shingling,
        # n-gram fingerprints) the inferred size()>0 filter re-evaluates the
        # array build per row — measured 8× slowdown. The filter saves
        # nothing here (our generators never produce empty arrays).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Committer cost on the state-store save path (engine t4, guide §6):
        # v2 moves task output at task commit instead of a second sequential
        # driver-side rename pass at job commit, and the _SUCCESS marker is
        # one more create per job nothing here reads. Both are documented
        # Hadoop settings that cut fixed FS ops per write job at ANY scale
        # (HDFS included; an S3 deployment replaces the committer wholesale
        # anyway). The engine's overwrite-under-read contract is unaffected:
        # dynamic partition overwrite stages under .spark-staging-* and
        # deletes replaced partitions only at Spark's commitJob in either
        # algorithm version. Interleaved steady-batch marks (r15):
        # t4_save_write median 0.708 -> 0.634 s.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
            "false",
        )
    )
    return builder.getOrCreate()


_SHIPPED: set = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Engine task fns and the executor-side task helpers are cloudpickled by
    reference to this package, so workers must be able to import it — true
    on a real cluster via --py-files, but not guaranteed for a local driver
    that only put the repo on its own sys.path. Idempotent per context.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    import shutil

    from kinesis_stream_consumer_spark.util import mkdtemp

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_base = os.path.join(mkdtemp(prefix="ksc-pyfiles-"), "ksc_spark_pkg")
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=root, base_dir="kinesis_stream_consumer_spark"
    )
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
