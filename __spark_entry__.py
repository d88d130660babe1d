"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the benchmark spine (synthetic image metadata
                → block-grid tile assignment → cell index → PIP join with
                footprint boxes → per-nation tile counts) at sf0.001.
queries()     — engine operators from SURVEY.md §2, each paired with an
                ANSI-SQL oracle in oracle_sql() (DuckDB-runnable).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tile-assignment + cell-indexed PIP join at sf0.001."""
    from pyspark.sql import functions as F

    from godal_spark import entry_queries as EQ
    from godal_spark.operators import pip as pip_op, tiling

    sf_dir = "/root/testdata/sf0.001"
    img = EQ._images_meta(spark, sf_dir)
    tiles = tiling.with_block_grid(img, bw=32, bh=32)
    fps = EQ._nation_footprints(spark, sf_dir)
    joined = pip_op.pip_join(
        tiles, fps, lon="lon", lat="lat", res=6, broadcast_footprints=True)
    return joined.groupBy("n_name", "foo").agg(
        F.count("*").cast("bigint").alias("n_tiles"),
        F.countDistinct("image_id").cast("bigint").alias("n_images"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from godal_spark.entry_queries import REGISTRY

    return {name: fn for name, fn, _ in REGISTRY}


def oracle_sql() -> dict[str, str]:
    from godal_spark.entry_queries import REGISTRY

    return {name: sql for name, _, sql in REGISTRY}
