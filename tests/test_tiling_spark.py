"""Spark-side tile assignment + overview pyramid vs reference goldens."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from godal_spark import datagen
from godal_spark.functions import codecs
from godal_spark.operators import tiling


def test_block_grid_explode_matches_golden(spark):
    # 63x65 @32x32 → 6 blocks, scanline order (godal_test.go:1037-1094)
    df = spark.createDataFrame([("i0", 63, 65)], "image_id string, w int, h int")
    got = (tiling.with_block_grid(df, bw=32, bh=32)
           .orderBy("block_y", "block_x")
           .select("block_x", "block_y", "x0", "y0", "bw", "bh")
           .collect())
    exp = tiling.block_grid_list(63, 65, 32, 32)
    assert [(r.block_x, r.block_y, r.x0, r.y0, r.bw, r.bh) for r in got] == exp


def test_block_grid_is_jvm_only(spark):
    # the tile-assignment stage must not leave whole-stage codegen
    df = spark.createDataFrame([("i0", 63, 65)], "image_id string, w int, h int")
    plan = tiling.with_block_grid(df, bw=32, bh=32)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_overview_level_plan_column(spark):
    df = spark.createDataFrame(
        [("a", 2000, 2000), ("b", 100, 100), ("c", 10, 10)],
        "image_id string, w int, h int")
    rows = {r.image_id: r.levels for r in
            tiling.with_overview_levels(df, min_size=256).collect()}
    assert rows["a"] == [2, 4, 8]
    assert rows["b"] == []
    assert rows["c"] == []


@pytest.mark.parametrize("wtype", ["int", "bigint"])
def test_overview_levels_near_int_max(spark, wtype):
    """Metadata-only rows with w/h near 2^31 (and past it as bigint): at
    min_size 0 the 31st level factor 2^31 does not fit an int. The
    closed integer form used to wrap it to -2^31 (and a bigint dim gave
    41 levels of shifted-mod-32 garbage); it now caps at 31 levels and
    clamps the last factor to Int.MaxValue."""
    big = 2 ** 31 - 1 if wtype == "int" else 2 ** 40
    df = spark.createDataFrame([("a", big, 5), ("b", 2 ** 30, 2 ** 30), ("c", 1000, 3)],
                               f"image_id string, w {wtype}, h {wtype}")
    want = [2 ** k for k in range(1, 31)] + [2 ** 31 - 1]
    rows = {r.image_id: r.levels for r in
            tiling.with_overview_levels(df, min_size=0).collect()}
    assert rows["a"] == want and rows["b"] == want
    assert rows["c"] == [2 ** k for k in range(1, 11)]


def test_explode_tiles_pixels_and_caption(spark):
    arr = datagen.pixels_ramp(63, 65)
    rows = [datagen.image_row("img_a", arr, "raw8"),
            datagen.image_row("img_b", datagen.pixels_const3(40, 20), "png")]
    images = datagen.images_df(spark, rows)
    tiles = tiling.explode_tiles(images, bw=32, bh=32).collect()

    a_tiles = sorted([t for t in tiles if t.image_id == "img_a"],
                     key=lambda t: (t.block_y, t.block_x))
    assert len(a_tiles) == 6
    # pixel-exact reassembly (lossless → exact, the PSNR invariant's strong form)
    re = np.zeros((65, 63), dtype=np.uint8)
    for t in a_tiles:
        re[t.y0:t.y0 + t.bh, t.x0:t.x0 + t.bw] = \
            np.frombuffer(t.payload, dtype=np.uint8).reshape(t.bh, t.bw)
    assert np.array_equal(re, arr)
    # caption equality through the explode (input_hint invariant)
    assert all(t.caption == "caption for img_a" for t in a_tiles)

    b_tiles = [t for t in tiles if t.image_id == "img_b"]
    assert len(b_tiles) == 3 * 2  # 3 bands x (2x1 grid of 32-blocks for 40x20)
    band1 = [t for t in b_tiles if t.band == 1]
    assert all(np.frombuffer(t.payload, dtype=np.uint8).max() == 10 for t in band1)


def test_overview_pyramid_counts_and_values(spark):
    # 10x10 ramp, min 2 → loop: 10>2 lvl2; 5>2 lvl4; 2>2 stop → [2,4]
    assert tiling.overview_levels(10, 10, 2) == [2, 4]
    # value golden: level-2 average of ramp px(0,0) == 6 (godal_test.go:2144-2172)
    arr = np.arange(100, dtype=np.uint8).reshape(10, 10)
    images = datagen.images_df(spark, [datagen.image_row("r", arr, "raw8")])
    l0 = tiling.explode_tiles(images, bw=256, bh=256)
    ovr = tiling.build_overviews(l0, min_size=5, alg="average", block=256)
    got = {r.level: r for r in ovr.collect()}
    assert sorted(got) == [2]  # 10>5 → level 2; 5>5 false → stop
    t = got[2]
    a = np.frombuffer(t.payload, dtype=np.uint8).reshape(t.bh, t.bw)
    assert a.shape == (5, 5)
    assert a[0, 0] == 6


def test_overview_pyramid_multi_level(spark):
    arr = np.arange(64 * 64, dtype=np.int64).astype(np.uint8).reshape(64, 64)
    images = datagen.images_df(spark, [datagen.image_row("big", arr, "raw8")])
    l0 = tiling.explode_tiles(images, bw=16, bh=16)
    assert l0.count() == 16
    ovr = tiling.build_overviews(l0, min_size=16, alg="average", block=16)
    counts = {r["level"]: r["n"] for r in
              ovr.groupBy("level").agg(F.count("*").alias("n")).collect()}
    # levels 2 (32x32 → 4 tiles) and 4 (16x16 → 1 tile)
    assert counts == {2: 4, 4: 1}
    # level-4 content equals direct 4x downsample of the full image
    t4 = ovr.filter(F.col("level") == 4).first()
    got = np.frombuffer(t4.payload, dtype=np.uint8).reshape(t4.bh, t4.bw)
    from godal_spark.functions.resampling import resample
    step1 = resample(arr, 32, 32, alg="average", path="overview")
    exp = resample(step1, 16, 16, alg="average", path="overview")
    assert np.array_equal(got, exp)


def test_jpeg_lossy_path_psnr(spark):
    arr = (np.random.default_rng(7).integers(0, 256, (48, 48))).astype(np.uint8)
    images = datagen.images_df(spark, [datagen.image_row("j", arr, "jpeg")])
    tiles = tiling.explode_tiles(images, bw=32, bh=32).collect()
    re = np.zeros_like(arr)
    for t in tiles:
        re[t.y0:t.y0 + t.bh, t.x0:t.x0 + t.bw] = \
            np.frombuffer(t.payload, dtype=np.uint8).reshape(t.bh, t.bw)
    assert codecs.psnr(arr, re) >= 40.0


def test_clear_overviews(spark):
    """ClearOverviews (godal.go:1139-1147): level-0 survives, pyramid gone."""
    arr = np.arange(64 * 64, dtype=np.uint8).reshape(64, 64) % 251
    images = datagen.images_df(spark, [datagen.image_row("c", arr, "raw8")])
    l0 = tiling.explode_tiles(images, bw=16, bh=16)
    # build_overviews returns level>0 only; the full table is the union
    full = l0.unionByName(tiling.build_overviews(l0, min_size=16))
    assert full.filter("level > 0").count() > 0
    cleared = tiling.clear_overviews(full)
    assert cleared.filter("level > 0").count() == 0
    assert cleared.count() == l0.count()


def test_python_heavy_stages_declare_parallelism(spark):
    """Plan guard for the round-3 AQE lesson: the CPU-bound Arrow stages
    (warp render, overview reduce, rasterize burn) must carry an
    EXPLICIT keyed repartition in their plans — explicit-N repartitions
    are exempt from AQE size-coalescing, which otherwise serializes the
    kernels (22.7s vs 5.7s measured on warp; 19s vs 3.4s on overviews)."""
    import numpy as np
    import pandas as pd
    from godal_spark import datagen
    from godal_spark.functions import geom as G
    from godal_spark.operators import rasterize as RZ, warp as WP

    def has_repartition(df):
        return "RepartitionByExpression" in \
            df._jdf.queryExecution().optimizedPlan().toString()

    arr = np.arange(64, dtype=np.uint8).reshape(8, 8)
    images = datagen.images_df(spark, [
        datagen.image_row("p", arr, "raw8", gt=[0, 1, 0, 8, 0, -1])])
    assert has_repartition(WP.warp(spark, images, ["-ts", "4", "4"], block=4))
    tiles = tiling.explode_tiles(images, bw=4, bh=4)
    assert has_repartition(tiling.build_overview_level(tiles, 2))
    fps = spark.createDataFrame(
        pd.DataFrame({"fid": [0], "geometry": [G.to_wkb(G.box(1, 1, 3, 3))]}),
        "fid long, geometry binary")
    assert has_repartition(
        RZ.rasterize_tiles(fps, te=(0, 0, 8, 8), ts=(8, 8), bw=4, bh=4))
    # round-5 export stage follows the same rule
    assert has_repartition(tiling.cog_write(tiles, tile_size=4))


def test_adaptive_parallelism_runs_no_job_on_a_shuffled_plan(spark, jobs_of):
    """Under AQE, getNumPartitions() executes the stages of a plan with an
    exchange; such a plan gets the full 2x-cores without asking, and an
    overview level built on it runs no job before its caller's."""
    from godal_spark.plans.skew import adaptive_parallelism

    shuffled = spark.range(100).repartition(3, "id").groupBy("id").count()
    n, width = jobs_of(lambda: adaptive_parallelism(shuffled))
    assert (n, width) == (0, max(8, 2 * spark.sparkContext.defaultParallelism))
    arr = np.arange(64, dtype=np.uint8).reshape(8, 8)
    images = datagen.images_df(spark, [datagen.image_row("p", arr, "raw8")])
    tiles = tiling.explode_tiles(images, bw=4, bh=4).repartition(3, "block_x")
    assert jobs_of(lambda: tiling.build_overview_level(tiles, 2, block=4))[0] == 0
