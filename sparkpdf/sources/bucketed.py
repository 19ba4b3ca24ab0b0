"""Bucketed table sink/source — co-located joins without a shuffle.

At 10^12 documents the expensive repeated pattern is joining the spans
table against per-doc side tables (metadata, quality, dedup labels) on
doc_id. Writing both sides bucketed by the join key pins co-partitioned
layouts on disk, so every later equi-join on that key runs with ZERO
Exchange (verified by plan assertion in tests): Spark reads matching
buckets pairwise instead of shuffling either side.

Bucketed tables require the session catalog (`saveAsTable`); the
warehouse dir defaults to spark.sql.warehouse.dir. This is the plain
open-source Spark bucketing feature — on a lakehouse the same role is
played by the table format's clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 64,
    key: str = "doc_id",
) -> None:
    """Persist `df` bucketed+sorted by `key` into the session catalog.
    Matching n_buckets/key across tables is what makes later joins
    exchange-free — keep one corpus-wide convention."""
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str = "doc_id"
) -> DataFrame:
    """Equi-join two co-bucketed tables on their bucket key."""
    return spark.table(left_table).join(spark.table(right_table), key)
