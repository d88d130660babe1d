"""Table IO — the engine's source/sink layer.

The north star prescribes ICEBERG tables of image+caption pairs
(input_hint schema: image_id, bytes, w, h, fmt, caption, phash + the
geo columns this engine adds). No Iceberg runtime ships in this
sandbox, so every function here is catalog-first with a parquet-path
fallback:

  * a source/dest that looks like a TABLE NAME (no path separator, no
    existing directory) goes through `spark.read.table` /
    `DataFrame.writeTo` — the DataSourceV2 route Iceberg registers, so
    the same code runs unchanged on an Iceberg-enabled cluster and
    inherits snapshot isolation, hidden partitioning and metadata-file
    pruning (the reference's VSI/gs:// concerns dissolve into the
    table format, SURVEY §2.1);
  * otherwise it is read/written as parquet with an EXPLICIT layout.

Tile layout (write_tiles): partition by (level, cell_bucket) where
cell_bucket = the top `prefix_bits` of the tile's cell id — level
pruning serves LOD reads (plans/skew.lod_pushdown) and the cell bucket
serves spatial range reads, while `range_repartition_tiles` keeps one
image's blocks together inside each file (COG sort order,
cogify/cogify-main.go:59-157).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def is_table_name(src: str) -> bool:
    """Catalog-table heuristic: dotted/bare identifiers are tables;
    anything with a path separator or an existing local dir is a path."""
    if "/" in src or "\\" in src or src.startswith("file:"):
        return False
    if os.path.exists(src):
        return False
    return all(part.isidentifier() for part in src.split("."))


def read_table(spark: SparkSession, src: str) -> DataFrame:
    if is_table_name(src):
        return spark.read.table(src)
    return spark.read.parquet(src)


def read_images(spark: SparkSession, src: str) -> DataFrame:
    """Images source; validates the input_hint columns are present."""
    df = read_table(spark, src)
    missing = {"image_id", "bytes", "w", "h", "fmt"} - set(df.columns)
    if missing:
        raise ValueError(f"images source {src!r} missing columns {sorted(missing)}")
    return df


def write_tiles(tiles: DataFrame, dst: str, *, mode: str = "append",
                prefix_bits: int = 8, num_files: int | None = None) -> None:
    """Tile sink with the (level, cell_bucket) layout.

    Catalog dest → DataFrameWriterV2 (`writeTo`): Iceberg turns
    partitionedBy into hidden partitioning + manifests. Path dest →
    parquet partitionBy directories (Spark partition pruning applies).
    """
    t = tiles
    if "cell" in t.columns:
        bucket = F.shiftright(F.col("cell").cast("long"),
                              F.lit(52 - prefix_bits)).cast("int")
    else:
        bucket = F.pmod(F.xxhash64("image_id"), F.lit(1 << prefix_bits)).cast("int")
    t = t.withColumn("cell_bucket", bucket)
    if num_files:
        from godal_spark.plans.skew import range_repartition_tiles

        t = range_repartition_tiles(t, num_files)
    if is_table_name(dst):
        w = t.writeTo(dst).partitionedBy(F.col("level"), F.col("cell_bucket"))
        if mode == "overwrite":
            w.createOrReplace()
        else:
            try:
                w.append()
            except Exception:  # first write: table doesn't exist yet
                w.create()
        return
    (t.write.mode(mode).partitionBy("level", "cell_bucket").parquet(dst))


def read_tiles(spark: SparkSession, src: str, *, level: int | None = None) -> DataFrame:
    """Tile source; `level` applies the LOD partition filter at scan
    time (partition pruning — a zoomed-out read never touches level-0
    files)."""
    df = read_table(spark, src)
    if level is not None:
        df = df.filter(F.col("level") == level)
    return df
