"""Distributed global ranking — exact row_number / ntile with no
single-task sort.

``Window.orderBy`` without a partition key collapses the whole input to
one task (``Exchange SinglePartition``): fine for a 150-row report,
fatal at 100 TB. The scale shape used here is the classic two-level
rank:

  1. ``repartitionByRange`` on the sort key — a distributed range
     shuffle; partition *i* holds keys strictly below partition *i+1*.
  2. Per-partition ``row_number`` over ``Window.partitionBy(pid)`` —
     each task sorts only its own range.
  3. Per-partition row counts → cumulative offsets. The offset table is
     ONE ROW PER PARTITION, so the unpartitioned window that computes
     the running offset is over a few hundred rows regardless of input
     size, and joining it back is a broadcast by construction.

CORRECTNESS REQUIRES MATERIALIZING STEP 1 ONCE. The ranked table feeds
two plan branches (the per-partition window and the counts aggregate);
without a lineage cut each branch re-executes ``repartitionByRange``,
whose boundaries come from a SAMPLE of the input — and two executions
may sample different boundaries, leaving the offsets describing a
different partitioning than the one the window ranked (observed at
sf0.1: ranks were not even a permutation; round-4 fix). The eager
``materialize`` pins one physical partitioning that both branches
read — the same two-pass posture as TeraSort's sampled range sort; the
cut mode (executor-local vs reliable checkpoint) is a
runtime switch, see ``operators/materialize.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odl_etl_spark.operators.materialize import materialize


def _range_partitioned(df: DataFrame, order_by: list[str], parts: int) -> DataFrame:
    """Step 1 of the two-level rank, pre-materialization: distributed
    range shuffle + captured physical partition id. Factored out so plan
    tests can pin the range shuffle, which the ``materialize`` in the
    callers hides from the final explain output."""
    return df.repartitionByRange(parts, *order_by).withColumn(
        "_pid", F.spark_partition_id()
    )


def global_row_number(
    df: DataFrame,
    order_by: list[str],
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row number under a total order, distributed.

    ``order_by`` must be a total order (include a unique tie-break key)
    or ranks within ties are boundary-dependent. Adds ``rn_col`` plus a
    ``_total`` column (the global row count, needed by ntile).
    """
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # Materialized ONCE — see the module docstring: the window branch and
    # the counts branch must observe the same sampled range boundaries.
    ranged = materialize(_range_partitioned(df, order_by, parts))
    local = ranged.withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_by))
    )
    counts = local.groupBy("_pid").agg(F.count("*").alias("_c"))
    # One row per shuffle partition: the unpartitioned windows below are
    # over O(parts) rows, not O(input) — safe at any data scale.
    wcum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_c").over(wcum), F.lit(0)).alias("_off"),
        F.sum("_c").over(wall).alias("_total"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rn_col, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )


def ntile_exact(
    df: DataFrame,
    order_by: list[str],
    n_tiles: int,
    tile_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL NTILE(n) semantics over a global order, distributed.

    With N rows and k tiles: base = N div k, rem = N mod k; the first
    ``rem`` tiles get ``base+1`` rows. Pure arithmetic over the global
    row number — bitwise-identical to ``NTILE(n) OVER (ORDER BY ...)``.
    """
    ranked = global_row_number(df, order_by, rn_col="_grn", num_partitions=num_partitions)
    base = F.floor(F.col("_total") / n_tiles)
    rem = F.col("_total") % n_tiles
    big = base + 1  # size of the first `rem` tiles
    cut = rem * big  # rows covered by the bigger tiles
    rn = F.col("_grn")
    tile = (
        F.when(rn <= cut, F.floor((rn - 1) / big) + 1)
        .otherwise(rem + F.floor((rn - cut - 1) / base) + 1)
        .cast("int")
    )
    return ranked.withColumn(tile_col, tile).drop("_grn", "_total")


def global_cumsum(
    df: DataFrame,
    order_by: list[str],
    value_col: str | list[str],
    cum_col: str | list[str] = "cum_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive global prefix sum of ``value_col`` under a total order,
    distributed with the same two-level shape as ``global_row_number``:
    range shuffle → per-partition running sum → O(parts)-row offset
    table broadcast back. ``cum_col`` = sum of all values strictly
    before the row (0 for the first row) — the primitive behind greedy
    sequence packing, byte budgeting, and contiguous bucketing.

    ``value_col``/``cum_col`` accept lists (same length, paired by
    position): N prefix sums under ONE total order share one range
    shuffle, one materialize, one per-partition window pass, and one
    offset broadcast — N× cheaper than N calls, and every column
    observes the same sampled range boundaries by construction.
    """
    cols = [value_col] if isinstance(value_col, str) else list(value_col)
    cums = [cum_col] if isinstance(cum_col, str) else list(cum_col)
    if len(cols) != len(cums):
        raise ValueError(
            f"global_cumsum: {len(cols)} value_col(s) but {len(cums)} cum_col(s)"
        )
    if len(set(cols)) != len(cols) or len(set(cums)) != len(cums):
        raise ValueError(
            "global_cumsum: duplicate entries in value_col/cum_col "
            f"(value_col={cols!r}, cum_col={cums!r})"
        )
    parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # Materialized ONCE — same boundary-consistency requirement as
    # global_row_number (module docstring).
    ranged = materialize(_range_partitioned(df, order_by, parts))
    wlocal = (
        Window.partitionBy("_pid").orderBy(*order_by).rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    # Temp columns are POSITIONAL (ADVICE r17 #1): names derived from the
    # user's column names would collide on dots/backticks or on a
    # pre-existing column matching the derived name.
    local = ranged
    for i, vc in enumerate(cols):
        local = local.withColumn(
            f"_lcum_{i}", F.coalesce(F.sum(vc).over(wlocal), F.lit(0))
        )
    totals = local.groupBy("_pid").agg(
        *[F.sum(vc).alias(f"_c_{i}") for i, vc in enumerate(cols)]
    )
    wcum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_c_{i}").over(wcum), F.lit(0)).alias(f"_off_{i}")
            for i in range(len(cols))
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for i, cc in enumerate(cums):
        out = out.withColumn(cc, F.col(f"_off_{i}") + F.col(f"_lcum_{i}"))
    return out.drop(
        "_pid",
        *[f"_lcum_{i}" for i in range(len(cols))],
        *[f"_off_{i}" for i in range(len(cols))],
    )
