"""Explicit skew handling for hot cells (north_rule requirement).

Dense urban footprints concentrate on a few cell ids; a plain equi-join
on `cell` then puts one reducer on the hot key. Two engine-level levers
(SURVEY.md §4 custom rule 1) on top of AQE's runtime skew-join backstop:

  * salted_join — salt the large (points/tiles) side S ways
    (`pmod(hash(row), S)`), replicate the small (footprints) side S ways
    with a built-in explode, join on (cell, salt). Deterministic result,
    S× small-side duplication, hot reducer split S ways.
  * range_repartition_tiles — range-partition tile writes by
    (cell-prefix, level) so output files stay balanced and reads
    partition-prune on cell prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Parallelize a small-file scan before heavy downstream compute
    (guide §2.2/§6: split sizing bounds scan parallelism, and a
    one-file/one-rowgroup parquet table is ONE task no matter the split
    config). The driver tables are exactly that shape, so explodes,
    window sorts and Arrow stages downstream of a bare scan serialize on
    one core. A keyless round-robin repartition of the (column-pruned)
    input costs one tiny shuffle and unlocks every core; it no-ops when
    the scan already has >= defaultParallelism splits — the 100 TB case,
    where adding a shuffle of the base table would be the bug instead.

    Runs no job. `df.rdd.getNumPartitions()` executes the query stages
    of a plan that AQE wraps (one with an exchange or a subquery), and
    such a plan's width is AQE's run-time choice anyway, so a wrapped
    plan is spread without asking.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if aqe_wrapped(df) or df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


def aqe_wrapped(df: DataFrame) -> bool:
    """True when AQE wraps df's plan (it has an exchange or a subquery).
    Then `df.rdd.getNumPartitions()` is not free: it executes the plan's
    query stages, and the width it reports is AQE's run-time choice."""
    root = df._jdf.queryExecution().executedPlan().getClass().getSimpleName()
    return root == "AdaptiveSparkPlanExec"


def adaptive_parallelism(df: DataFrame, floor: int = 8) -> int:
    """Partition count for an explicit keyed repartition ahead of a
    CPU-bound Python kernel (applyInPandas): AQE's SIZE-based coalescing
    is wrong for those stages (Python cost scales with rows, not bytes —
    a few MB of tiles coalesce to 1-2 tasks and serialize the kernel,
    measured 19 s -> 2 s on a 4k-tile overview reduce), but a CONSTANT
    2x-cores fan-out is wrong in the other direction for near-empty
    inputs (64 Python tasks over 6 rows, measured ~0.2 s a stage in the
    sieve bench). That cost was not scheduling: on Python < 3.12 each
    Python task re-read pyspark.zip's directory a dozen times or more
    until godal_spark.worker_daemon; an empty Python task now holds a
    slot ~0.05 s, against ~0.22 s before (no-op mapInArrow, 4-core
    host). Derive the count from the input's own partitioning instead:
    small scans (1-2 splits) get `floor`, real tables (many splits) get
    the full 2x-cores, and so does a plan AQE wraps (a prior shuffle),
    without asking. Runs no job."""
    full = df.sparkSession.sparkContext.defaultParallelism * 2
    width = full if aqe_wrapped(df) else min(full, df.rdd.getNumPartitions() * 4)
    return max(floor, width)


def salted_join(large: DataFrame, small: DataFrame, on: str = "cell",
                salt: int = 8, how: str = "inner",
                salt_by: str | None = None) -> DataFrame:
    """Equi-join on `on` with an S-way salt.

    salt_by: column of `large` whose hash spreads the salt. Default:
    a hash over ALL of `large`'s columns — a pure row-content function,
    so it is stable under task retries and AQE re-partitioning
    (spark_partition_id()/monotonically_increasing_id are NOT — they
    change when a stage re-executes, which would silently move rows
    between salt buckets mid-join).
    """
    if salt <= 1:
        return large.join(small, on, how)
    if salt_by:
        key_cols = [F.col(salt_by)]
    else:
        key_cols = [F.col(c) for c in large.columns]
    lg = large.withColumn("__salt", F.pmod(F.hash(*key_cols), F.lit(salt)).cast("int"))
    sm = small.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return lg.join(sm, [on, "__salt"], how).drop("__salt")


def best_available_level(levels: list[int], query_ratio: float) -> int:
    """LOD choice: a read at `query_ratio`× coarser than full resolution
    is served by the coarsest pyramid level ≤ 2^floor(log2(ratio))
    (GDAL's decimated-read overview pick, godal.go:303-346). levels are
    the pyramid's factors (e.g. [2, 4, 8]); 0 = full res."""
    import math

    if query_ratio <= 1.0 or not levels:
        return 0
    target = 1 << int(math.floor(math.log2(query_ratio)))
    usable = [lv for lv in levels if lv <= target]
    return max(usable) if usable else 0


def lod_pushdown(tiles: DataFrame, levels: list[int], full_px_size: float,
                 query_px_size: float, level_col: str = "level") -> DataFrame:
    """Filter the tiles table to the single level a resampled read needs
    (SURVEY §4 LOD rule). A plain equality filter on `level` — Catalyst
    turns it into partition pruning when the table partitions on level,
    so a zoomed-out query scans 1/level² of the data."""
    lv = best_available_level(levels, query_px_size / full_px_size)
    return tiles.filter(F.col(level_col) == lv)


def range_repartition_tiles(tiles: DataFrame, num_partitions: int,
                            prefix_bits: int = 12) -> DataFrame:
    """Range-repartition tile rows by (cell prefix, level, block ids) —
    the write layout that keeps one image's blocks together (COG sort
    order analogue, cogify/cogify-main.go:59-157) while bounding any one
    partition's share of a hot cell."""
    pref = F.shiftright(F.col("cell"), 52 - prefix_bits) if "cell" in tiles.columns else F.lit(0)
    return tiles.repartitionByRange(
        num_partitions, pref, F.col("image_id"), F.col("level"),
        F.col("block_y"), F.col("block_x"))
