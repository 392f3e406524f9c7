from kinesis_stream_consumer_spark.plans.queries import DRIVER_WINDOW, QUERIES, QuerySpec

__all__ = ["DRIVER_WINDOW", "QUERIES", "QuerySpec"]
