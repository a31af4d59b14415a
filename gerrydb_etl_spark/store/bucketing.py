"""Bucketed tables: co-located storage for shuffle-free joins.

The single biggest cost of fact-fact joins at 100 TB is the shuffle
of both sides on the join key. Bucketing pre-partitions the stored
table by hash(key) into a fixed bucket count, so a join between two
tables bucketed on the same key with the same count needs ZERO
exchanges — Catalyst plans a SortMergeJoin directly over matching
buckets (verified by plan assertion in tests/test_bucketing.py).

This is the storage-level answer to the brief's 'pre-partitioning /
bucketing for co-located joins'; the write costs one shuffle once,
amortized over every subsequent join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gerrydb_etl_spark.sources.registry import load_table
from gerrydb_etl_spark.store.staging import Fixture


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist df as a bucketed (and bucket-sorted) managed table.
    Sorting within buckets lets SortMergeJoin skip its sort step."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


# orders/lineitem bucketed on their join key: bucketing's whole
# economics is write-once-join-many, so the one key-shuffle is paid at
# staging time (outside any benched query body) and every later join
# on the key is exchange-free. A plain re-layout of two source tables:
# no derivation code, so the name carries only the source fingerprint.
BUCKETED_FACTS = Fixture(
    "bq_{frame}_{fp}", ("orders", "lineitem"), (),
    lambda spark, sf_dir: tuple(
        load_table(spark, sf_dir, t).write.bucketBy(16, key).sortBy(key)
        for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
    ),
    frames=("orders", "lineitem"),
)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (plan-shape
    assertion helper)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")
