"""Driver-visible demonstrations of the two storage/shuffle scale
techniques that otherwise live only in plan-shape tests: bucketed
co-located joins (tests/test_bucketing.py) and salted two-phase
holistic aggregation (tests/test_skew.py). Each is registered as an
oracle-paired query so the round driver externally verifies that the
scale spelling produces byte-identical results to the naive one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.numeric import dec, dsum
from gerrydb_etl_spark.operators.skew import salted_collect_list
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources.registry import load_table
from gerrydb_etl_spark.store.bucketing import BUCKETED_FACTS, read_bucketed
from gerrydb_etl_spark.store.staging import register

_BUCKETED = register("bucketed_facts", BUCKETED_FACTS.at())


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED storage: both tables are written
    bucketed on the join key (16 buckets, bucket-sorted), so the
    SortMergeJoin consumes matching buckets directly — ZERO exchanges
    on the join (the single shuffle in the plan is the final
    aggregation; tests/test_plan_shapes.py pins it). The merge hint
    keeps the plan on SMJ so the co-location is what's demonstrated,
    not a small-side broadcast that local scale would allow.

    100 TB: bucketing pays one shuffle at write time, amortized over
    every subsequent join on that key — the canonical answer to the
    biggest cost of fact-fact joins. Staging is session-scoped
    (a registered fixture: first use writes, later uses are a
    catalog lookup; bench.py stages it with the other session warmup
    costs), so what this query measures is the JOIN, not the write —
    a real deployment writes once and joins many times.
    """
    o_name, li_name = _BUCKETED.ensure(spark, sf_dir)
    li = read_bucketed(spark, li_name)
    o = read_bucketed(spark, o_name)
    return (
        li.hint("merge")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            dsum(dec("l_extendedprice")).alias("revenue"),
        )
    )


@query(
    "salted_holistic_collect",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_values,
           MIN(o_custkey) AS first_v,
           MAX(o_custkey) AS last_v
    FROM orders GROUP BY o_orderpriority
    """,
)
def salted_holistic_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holistic aggregation (collect_list) through the salted
    two-phase path: phase 1 collects per (key, salt) so a hot key
    spreads over 16 tasks instead of funnelling its entire value set
    through one aggregation buffer; phase 2 flattens and sorts. The
    5 order priorities × ~30k orders each at sf0.1 are exactly the
    shape AQE's skew handling can't fix (skew inside an aggregation
    state, not a join). Output is reduced to (count, first, last) of
    the sorted list — equal to COUNT/MIN/MAX, which is what makes the
    salted path's result externally checkable against plain SQL while
    the full list still materializes distributed.
    """
    lists = salted_collect_list(
        load_table(spark, sf_dir, "orders"), ["o_orderpriority"], "o_custkey"
    )
    return lists.select(
        "o_orderpriority",
        F.size("values").alias("n_values"),
        F.element_at("values", 1).alias("first_v"),
        F.element_at("values", -1).alias("last_v"),
    )


@query(
    "skew_replicated_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_replicated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join through the replicated-salt path
    (operators/skew.py): the skewed side carries a deterministic
    hash salt spreading each hot key over 4 shuffle partitions, and
    the other side replicates each row 4x, joining on (key, salt) —
    the manual spelling for skew AQE can't fix (a hot key against a
    non-broadcastable build side). Aggregated to per-priority
    count + quantity so plain join SQL verifies the salted result
    exactly; tests/test_skew.py pins the mechanics on a synthetic
    hot key.
    """
    from gerrydb_etl_spark.operators.skew import replicated_skew_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    return (
        replicated_skew_join(li, orders, "okey", salts=4)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dsum(dec("l_quantity")).alias("total_qty"),
        )
    )


@query(
    "dense_id_assignment",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
               AS row_id
    FROM orders
    """,
)
def dense_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based sequential IDs ordered by a unique key WITHOUT a
    global single-reducer sort: range-partition + sort within
    partitions, prefix-sum the per-partition counts (#partitions rows
    to the driver), then a narrow Arrow pass adds offset + position
    (operators/ids.py). The oracle is the naive single-reducer
    row_number() — same answer, scalable plan."""
    from gerrydb_etl_spark.operators.ids import assign_dense_ids

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return assign_dense_ids(orders, ["o_orderkey"])


@query(
    "partition_pruned_read",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory pruning over a hive-partitioned layout: orders is
    written partitioned by o_orderpriority (one dir per value), and
    the segment-filtered read never lists the other directories —
    the filter lands in the scan's PartitionFilters (pinned by
    tests/test_plan_shapes.py), removing I/O at planning time rather
    than filtering rows after the read. The write runs inside the
    query to stay self-contained (same convention as
    bucketed_colocated_join); a real deployment writes once and
    prunes forever (store/partitioned.py)."""
    from gerrydb_etl_spark.store.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = write_partitioned(orders, "part_orders", ["o_orderpriority"])
    pruned = read_partitioned(spark, path).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        dsum(dec("o_totalprice")).alias("revenue"),
    )


ZORDER_ORACLE = """
    WITH dims AS (
        SELECT ((o_custkey % 256) + 256) % 256 AS x,
               ((datediff('day', DATE '1995-01-01', o_orderdate) % 256)
                + 256) % 256 AS y
        FROM orders
    ),
    zed AS (SELECT x, y, (((CAST(x AS BIGINT) >> 0) & 1) << 0) + (((CAST(y AS BIGINT) >> 0) & 1) << 1) + (((CAST(x AS BIGINT) >> 1) & 1) << 2) + (((CAST(y AS BIGINT) >> 1) & 1) << 3) + (((CAST(x AS BIGINT) >> 2) & 1) << 4) + (((CAST(y AS BIGINT) >> 2) & 1) << 5) + (((CAST(x AS BIGINT) >> 3) & 1) << 6) + (((CAST(y AS BIGINT) >> 3) & 1) << 7) + (((CAST(x AS BIGINT) >> 4) & 1) << 8) + (((CAST(y AS BIGINT) >> 4) & 1) << 9) + (((CAST(x AS BIGINT) >> 5) & 1) << 10) + (((CAST(y AS BIGINT) >> 5) & 1) << 11) + (((CAST(x AS BIGINT) >> 6) & 1) << 12) + (((CAST(y AS BIGINT) >> 6) & 1) << 13) + (((CAST(x AS BIGINT) >> 7) & 1) << 14) + (((CAST(y AS BIGINT) >> 7) & 1) << 15) AS z FROM dims)
    SELECT CAST(z >> 12 AS BIGINT) AS tile,
           COUNT(*) AS n,
           MIN(x) AS x_lo, MAX(x) AS x_hi,
           MIN(y) AS y_lo, MAX(y) AS y_hi,
           (MAX(x) - MIN(x) <= 63 AND MAX(y) - MIN(y) <= 63) AS is_tight_tile
    FROM zed
    GROUP BY 1
"""


@query("zorder_layout", oracle=ZORDER_ORACLE)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering demonstration (operators/zorder.py): Morton-
    interleave (customer mod 256, order-day mod 256), then group by
    the top-4 z-bits. Each of the 16 z-tiles must cover AT MOST a
    64x64 rectangle in (x, y) space — the locality property that
    makes parquet row-group min/max stats selective on BOTH columns
    after a z-sorted write (repartitionByRange(z) + write; the write
    side of the story is partition_pruned_read / bucketed's). The
    interleave is pure codegen'd bit arithmetic, reproduced term-for-
    term in the SQL oracle. Both inputs go through pmod, honoring
    z_value's callers-pre-mask contract even if a testdata generation
    ships order dates before the 1995-01-01 epoch (a plain % would
    hand z_value a negative y and break the tile-locality property)."""
    from gerrydb_etl_spark.operators.zorder import z_value

    orders = load_table(spark, sf_dir, "orders")
    dims = orders.select(
        F.pmod(F.col("o_custkey"), F.lit(256)).alias("x"),
        F.pmod(
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
            ),
            F.lit(256),
        ).alias("y"),
    )
    zed = dims.select("x", "y", z_value(F.col("x"), F.col("y"), 8).alias("z"))
    tile_w = F.max("x") - F.min("x")
    tile_h = F.max("y") - F.min("y")
    return zed.groupBy(
        F.shiftright(F.col("z"), 12).cast("long").alias("tile")
    ).agg(
        F.count("*").alias("n"),
        F.min("x").alias("x_lo"),
        F.max("x").alias("x_hi"),
        F.min("y").alias("y_lo"),
        F.max("y").alias("y_hi"),
        ((tile_w <= 63) & (tile_h <= 63)).alias("is_tight_tile"),
    )


@query(
    "dpp_runtime_pruned_join",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT o_orderpriority AS priority,
               CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS urgency_rank
        FROM orders
    )
    SELECT f.o_orderpriority AS priority, f.o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders f JOIN dim d ON f.o_orderpriority = d.priority
    WHERE d.urgency_rank <= 2
    GROUP BY 1, 2
    """,
)
def dpp_runtime_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime sibling of
    partition_pruned_read: the fact table is hive-partitioned on the
    join key, and the selective filter sits on the DIM side
    (urgency_rank, an attribute the fact's directory layout knows
    nothing about), so static pruning cannot apply. Catalyst inserts
    a dynamicpruning subquery that reuses the dim's broadcast to
    compute the surviving partition values AT RUNTIME and drops the
    other directories before scheduling any fact I/O (pinned by
    tests/test_plan_shapes.py::test_dpp_prunes_fact_scan_at_runtime).
    At 100 TB this is the difference between scanning 2/5 of a fact
    table and all of it whenever the predicate lives in a dimension
    — the star-schema scan-efficiency pattern AQE/DPP exist for.
    The write runs inside the query to stay self-contained (same
    convention as partition_pruned_read)."""
    from gerrydb_etl_spark.store.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = write_partitioned(orders, "part_orders_dpp", ["o_orderpriority"])
    fact = read_partitioned(spark, path)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("priority"))
        .distinct()
        .withColumn(
            "urgency_rank", F.substring("priority", 1, 1).cast("int")
        )
        .where(F.col("urgency_rank") <= 2)
    )
    joined = fact.join(
        F.broadcast(dim), fact["o_orderpriority"] == dim["priority"]
    )
    return joined.groupBy(
        F.col("o_orderpriority").alias("priority"), "o_orderstatus"
    ).agg(
        F.count("*").alias("n"),
        dsum(dec("o_totalprice")).alias("revenue"),
    )
