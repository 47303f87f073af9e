"""Per-partition lineage + fetch metrics (A2/A3, north_rule).

The reference's only 'metrics' are a success count (main.py:129) and a
Streamlit summary table (web_interface.py:393-409).  The engine records, per
round and per physical partition, what was fetched/failed and how many bytes
moved — computed distributively with ``spark_partition_id()`` (one narrow
aggregation, no collect of row data)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def round_metrics(fetched: DataFrame, round_no: int) -> DataFrame:
    """Aggregate the round's fetch results by (partition, host)."""
    return (
        fetched.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id", "host")
        .agg(
            F.sum(F.when(F.col("fetch_status") == "fetched", 1).otherwise(0)).alias("fetched"),
            F.sum(F.when(F.col("fetch_status") == "failed", 1).otherwise(0)).alias("failed"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes"),
        )
        .select(
            F.lit(round_no).alias("round"),
            "partition_id",
            "host",
            "fetched",
            "failed",
            F.col("bytes").cast("long"),
        )
    )
