"""Rasterize family + vector surface goldens."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from godal_spark import datagen
from godal_spark.functions import geom as G
from godal_spark.operators import rasterize as RZ, vector as V
from godal_spark.plans import driver_side

SQ = G.box(100, 0, 101, 1)
GT3 = [99.1, 1, 0, 1.9, 0, -1]  # 3x3 grid, extent 99.1,-0.9 → 102.1,1.9


def test_rasterize_grid_golden(spark):
    # godal_test.go:2391-2417: 9x9, -te 99 -1 102 2, init 10, burn 20
    fps = datagen.canonical_footprints(spark)
    out = RZ.rasterize(fps, te=(99, -1, 102, 2), ts=(9, 9), init=10, burn=20)
    r = out.first()
    arr = np.frombuffer(r.payload, np.uint8).reshape(9, 9)
    assert (arr == 10).sum() == 72
    assert (arr == 20).sum() == 9


def test_rasterize_geometry_default_all_bands():
    # godal_test.go:2477-2487: default burns 0 into all bands at center px
    img = np.full((3, 3, 3), 255, np.uint8)
    out = RZ.rasterize_geometry_array(img, SQ, GT3)
    assert out[1, 1].tolist() == [0, 0, 0]
    assert out[0, 0].tolist() == [255, 255, 255]
    assert out[2, 2].tolist() == [255, 255, 255]


def test_rasterize_geometry_values_sequence():
    # godal_test.go:2496-2512: 200,200,200 → 100,200,200 → 1,2,3 → 5,6,3
    img = np.full((3, 3, 3), 255, np.uint8)
    img = RZ.rasterize_geometry_array(img, SQ, GT3, values=[200])
    assert img[1, 1].tolist() == [200, 200, 200]
    img = RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0], values=[100])
    assert img[1, 1].tolist() == [100, 200, 200]
    img = RZ.rasterize_geometry_array(img, SQ, GT3, values=[1, 2, 3])
    assert img[1, 1].tolist() == [1, 2, 3]
    img = RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0, 1], values=[5, 6])
    assert img[1, 1].tolist() == [5, 6, 3]


def test_rasterize_geometry_errors():
    # godal_test.go:2514-2521
    img = np.full((3, 3, 3), 255, np.uint8)
    with pytest.raises(ValueError):
        RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0], values=[1, 2])
    with pytest.raises(ValueError):
        RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0, 2, 3], values=[1, 2, 3])


def test_rasterize_all_touched():
    # godal_test.go:2453-2458: -at lights the top-left pixel too
    img = np.full((3, 3), 255, np.uint8)
    plain = RZ.rasterize_geometry_array(img, SQ, GT3, values=[0])
    at = RZ.rasterize_geometry_array(img, SQ, GT3, values=[0], all_touched=True)
    assert plain[0, 0] == 255
    assert at[0, 0] == 0
    assert at[1, 1] == 0
    assert (at != plain).any()


def test_layer_bounds_golden(spark):
    # godal_test.go:2713-2715: [100,0,101,1]
    fps = datagen.canonical_footprints(spark)
    assert V.layer_bounds(fps) == (100.0, 0.0, 101.0, 1.0)


def test_st_functions_sql(spark):
    V.register_st_functions(spark)
    fps = datagen.canonical_footprints(spark)
    fps.createOrReplaceTempView("fps")
    rows = spark.sql(
        "SELECT fid, st_area(geometry) AS a, st_astext(geometry) AS wkt FROM fps").collect()
    assert all(r.a == 1.0 for r in rows)
    assert all(r.wkt == "POLYGON ((100 0,101 0,101 1,100 1,100 0))" for r in rows)
    # SELECT 1 golden (godal_test.go:2565-2576)
    assert spark.sql("SELECT 1").first()[0] == 1


def test_vector_translate_roundtrip(spark, tmp_path):
    fps = datagen.canonical_footprints(spark)
    # geojson out → read back
    p = str(tmp_path / "out_geojson")
    V.vector_translate(fps, p, "geojson")
    back = V.read_geojson(spark, p)
    assert back.count() == 2
    g = G.from_wkb(bytes(back.first().geometry))
    assert g.bounds() == (100.0, 0.0, 101.0, 1.0)
    # csv out with WKT geometry
    p2 = str(tmp_path / "out_csv")
    V.vector_translate(fps, p2, "csv")
    got = spark.read.option("header", True).csv(p2)
    assert got.count() == 2 and "POLYGON" in got.first().geometry


def test_reproject_layer_roundtrip(spark):
    fps = datagen.canonical_footprints(spark)
    out = V.reproject_layer(fps, "EPSG:4326", "EPSG:3857")
    b = V.layer_bounds(out)
    assert b[0] == pytest.approx(11131949.0793, rel=1e-6)
    back = V.reproject_layer(out, "EPSG:3857", "EPSG:4326")
    bb = V.layer_bounds(back)
    assert np.allclose(bb, (100, 0, 101, 1), atol=1e-9)


def test_loose_casts(spark):
    # godal.go:3074-3166: unparsable → 0, numeric strings parse
    df = spark.createDataFrame(
        [("12",), ("3.7",), ("abc",), (None,)], "v string")
    got = [r.i for r in df.select(V.loose_int("v").alias("i")).collect()]
    assert got == [12, 3, 0, 0]
    gotf = [r.f for r in df.select(V.loose_float("v").alias("f")).collect()]
    assert gotf == [12.0, 3.7, 0.0, 0.0]


def _toy_polygonize_raster():
    rng = np.random.default_rng(13)
    arr = rng.integers(0, 4, (24, 33), dtype=np.uint8) * 50
    arr[5, :] = 200     # full-width stripe crossing all tile columns
    arr[:, 11] = 200    # full-height stripe -> one big cross component
    return arr


@pytest.mark.parametrize("eight,nan_seams", [
    (False, False), (True, False), (False, True), (True, True)],
    ids=["False", "True", "nan-False", "nan-True"])
def test_polygonize_tiles_matches_gathered(spark, eight, nan_seams):
    """Cross-tile distributed polygonize == per-image gather on feature
    (value, n_pixels) multisets and total area, incl. components that
    snake across many tiles. The nan_seams case is a float raster with
    NaN runs across vertical and horizontal seams and NaN pairs across
    both tile-corner diagonals: NaN never equals NaN, so every NaN pixel
    stays a 1-px feature on both paths."""
    import math

    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark import datagen

    arr = _toy_polygonize_raster()
    fmt = "raw8"
    if nan_seams:
        arr = arr.astype(np.float32)
        arr[14, 12:31] = np.nan   # crosses the x=16 and x=24 seams
        arr[6:21, 20] = np.nan    # crosses the y=8 and y=16 seams
        arr[7, 7] = arr[8, 8] = np.nan      # "cd" corner at (8, 8)
        arr[15, 16] = arr[16, 15] = np.nan  # "ca" corner at (16, 16)
        fmt = "rawf32"
    images = datagen.images_df(spark, [datagen.image_row("big", arr, fmt)])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    assert tiles.count() > 8  # genuinely multi-tile

    gathered = PZ.polygonize(tiles, eight=eight).collect()
    dist = PZ.polygonize_tiles(tiles, eight=eight).collect()

    def feats(rows):
        # a NaN component's value is NaN on both paths; -1 (no real
        # value) makes the multisets sort and compare
        assert all(r.value is not None for r in rows)
        return sorted((-1.0 if math.isnan(r.value) else r.value, r.n_pixels)
                      for r in rows)
    gm, dm = feats(gathered), feats(dist)
    assert gm == dm
    if nan_seams:
        assert [f for f in dm if f[0] == -1.0] == \
            [(-1.0, 1)] * int(np.isnan(arr).sum())
    assert sum(r.area for r in gathered) == pytest.approx(sum(r.area for r in dist))
    # the cross component spans many tiles and must come back as ONE row
    big = [r for r in dist if r.n_pixels >= 24 + 33 - 1]
    assert len(big) == 1 and big[0].value == 200.0
    assert big[0].n_parts > 4
    # geometry assembled (<= max_geom_parts): pixel-count == area AND the
    # cross-tile rings are truly DISSOLVED — identical ring structure to
    # the same component polygonized without tiling
    from godal_spark.functions import geom as G
    g = G.from_wkb(bytes(big[0].geometry))
    assert g.area() == pytest.approx(big[0].n_pixels)
    gbig = [r for r in gathered if r.n_pixels == big[0].n_pixels
            and r.value == 200.0]
    gg = G.from_wkb(bytes(gbig[0].geometry))

    def canon(geom):
        out = []
        for rings in geom.polygons():
            for r in rings:
                pts = {(float(x), float(y)) for x, y in r[:-1]}
                out.append((len(r), tuple(sorted(pts))))
        return sorted(out)
    assert canon(g) == canon(gg)


@pytest.mark.parametrize("eight", [False, True])
def test_tiles_empty_seam_strip(spark, eight):
    """A zero-height raster in two zero-height tiles: phase 1 emits one
    empty strip per side of the x=4 seam. The seam pairing must yield no
    pairs for it (a 1-based index range over an empty strip used to run
    past its start), so polygonize finds no features and sieve returns
    the tiles unchanged."""
    from godal_spark.operators import polygonize as PZ
    from godal_spark.operators.tiling import TILE_SCHEMA

    rows = [("z", 0, 0, bx, 0, 4 * bx, 0, 4, 0, 8, 0, "uint8", b"", None)
            for bx in (0, 1)]
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)
    assert PZ.polygonize_tiles(tiles, eight=eight).collect() == []
    out = PZ.sieve_tiles(tiles, 2, eight=eight).collect()
    assert sorted((r.block_x, bytes(r.payload)) for r in out) == \
        [(0, b""), (1, b"")]


def test_seam_strips_empty_axis_raises(spark):
    """A zero-height tile inside a raster of height 8 borders a neighbor
    below and above, but has no row to offer either: phase 1 names the
    tile, the image and the empty axis instead of an IndexError from
    the strip slicing. The operators raise it too."""
    from collections import namedtuple

    from godal_spark.operators import polygonize as PZ
    from godal_spark.operators.tiling import TILE_SCHEMA

    R = namedtuple("R", "image_id block_x block_y x0 y0 bw bh w h")
    for r, axis in ((R("z", 0, 1, 0, 4, 4, 0, 4, 8), "empty row axis (bh=0)"),
                    (R("z", 1, 0, 4, 0, 0, 4, 8, 4), "empty column axis (bw=0)")):
        shape = (r.bh, r.bw)
        with pytest.raises(ValueError, match=r"tile \(%d,%d\) of image 'z' "
                           r"has an %s" % (r.block_x, r.block_y,
                                           re.escape(axis))):
            PZ._seam_strips(r, np.zeros(shape), np.zeros(shape, np.int64),
                            0, eight=False)
    rows = [("z", 0, 0, 0, by, 0, 4 * by, 4, 4 * (1 - by), 4, 8, "uint8",
             bytes(16 * (1 - by)), None) for by in (0, 1)]
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)
    with pytest.raises(Exception, match=r"empty row axis \(bh=0\)"):
        PZ.sieve_tiles(tiles, 2).collect()


def test_polygonize_sieve_job_budget(spark, jobs_of):
    """Spark jobs of polygonize_tiles(...).collect() and
    sieve_tiles(...).collect() on the toy rasters, 4-connected, on the
    driver path: phase 1's checkpoint, the bounded metadata collect's
    two jobs, then polygonize's root-map broadcast and its merge (its
    exchange, its checkpoint), or sieve's map-side rewrite, and the
    caller's collect. They run 7 and 4; the budgets add one for AQE."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    images = datagen.images_df(spark, [
        datagen.image_row("big", _toy_polygonize_raster(), "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    n, rows = jobs_of(lambda: PZ.polygonize_tiles(tiles).collect())
    assert rows and n <= 8, f"polygonize_tiles(...).collect() ran {n} jobs"
    images = datagen.images_df(spark, [
        datagen.image_row("sv", _toy_sieve_raster(), "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    n, rows = jobs_of(lambda: PZ.sieve_tiles(tiles, 5).collect())
    assert len(rows) == 6 and n <= 5, \
        f"sieve_tiles(...).collect() ran {n} jobs"


def test_polygonize_tiles_distributed_root_resolution(spark, monkeypatch):
    """Force the distributed pointer-doubling path (MAX_ROWS = 0):
    must match the gathered result exactly, including a long chain
    component (stress for propagation convergence)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark import datagen

    arr = np.zeros((8, 64), dtype=np.uint8)
    arr[3, :] = 7          # 64-px chain crossing 16 tiles (bw=4)
    arr[0, ::3] = 9        # scattered singles
    images = datagen.images_df(spark, [datagen.image_row("chain", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=4, bh=4)
    gathered = PZ.polygonize(tiles, eight=False).collect()
    monkeypatch.setattr(driver_side, "MAX_ROWS", 0)
    dist = PZ.polygonize_tiles(tiles, eight=False).collect()
    assert sorted((r.value, r.n_pixels) for r in gathered) == \
        sorted((r.value, r.n_pixels) for r in dist)
    chain = [r for r in dist if r.value == 7.0]
    assert len(chain) == 1 and chain[0].n_pixels == 64 and chain[0].n_parts == 16


def _cached_rdd_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("op", ["polygonize", "sieve", "clusters"])
def test_distributed_roots_release_checkpoints(spark, monkeypatch, op):
    """MAX_ROWS = 0 runs pointer doubling: its symmetric edge
    checkpoint and every round's label checkpoint are released before
    the call returns, so the one checkpoint the returned plan reads (the
    polygonize output, the sieve decisions, the cluster labels) is the
    only new block set left in executor storage."""
    from godal_spark.operators import dedup as DD, polygonize as PZ, \
        tiling as TL

    if op == "clusters":
        data = spark.createDataFrame([(2, 5), (5, 7), (7, 3), (20, 21)],
                                     "id_a long, id_b long")
        call = DD.duplicate_clusters
    else:
        if op == "polygonize":
            arr, call = _toy_polygonize_raster(), PZ.polygonize_tiles
        else:
            arr, call = _toy_sieve_raster(), lambda t: PZ.sieve_tiles(t, 5)
        images = datagen.images_df(spark, [
            datagen.image_row("ck", arr, "raw8")])
        data = TL.explode_tiles(images, bw=8, bh=8)
    monkeypatch.setattr(driver_side, "MAX_ROWS", 0)
    before = _cached_rdd_ids(spark)
    out = call(data)
    left = _cached_rdd_ids(spark) - before
    assert len(left) == 1, f"{op} left {len(left)} cached RDDs: {sorted(left)}"
    assert out.count() > 0


def test_polygonize_mask_band_operator(spark):
    """Reference Mask(band) option at the OPERATOR level: a mask band of
    zeros over the top-left 4x4 quarter excludes those pixels. Derived
    by hand on the 8x8 diag image (4-conn): 4 surviving diagonal
    singletons; the valid background splits into two 22-px components
    (TR + upper BR triangle / BL + lower BR triangle)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark import datagen

    diag = datagen.pixels_diag(8)
    mask = np.ones((8, 8), dtype=np.uint8)
    mask[:4, :4] = 0
    # two-band image: band 0 = data, band 1 = mask
    arr = np.stack([diag, mask], axis=-1)
    images = datagen.images_df(spark, [datagen.image_row("m", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=4, bh=4)
    feats = PZ.polygonize(tiles, eight=False, mask_band=1).collect()
    assert all(f.band == 0 for f in feats)
    counts = {}
    for f in feats:
        counts.setdefault(f.value, []).append(f.n_pixels)
    assert sorted(counts[128.0]) == [1, 1, 1, 1]
    assert sorted(counts[64.0]) == [22, 22]


def test_rasterize_tiles_match_monolithic(spark):
    """Distributed per-tile burn == single-array kernel, including
    geometries that cross tile seams, concave shapes, and -at; and the
    plan contains no driver-side collect of pixel data."""
    import inspect
    import pandas as pd
    from godal_spark.operators import rasterize as RZm

    src = inspect.getsource(RZm)
    assert ".collect()" not in src  # scale invariant: pixels stay on executors

    # concave L-shape + two boxes, seams at every 8 px on a 40x24 grid
    geoms = [
        G.box(100.05, 0.05, 101.4, 0.6),
        G.box(102.0, 1.0, 103.3, 1.9),
        G.from_wkt("POLYGON ((99.5 0.2,101.9 0.2,101.9 1.8,101.2 1.8,"
                   "101.2 0.9,99.5 0.9,99.5 0.2))"),
    ]
    fps = spark.createDataFrame(
        pd.DataFrame({"fid": range(len(geoms)),
                      "geometry": [G.to_wkb(g) for g in geoms]}),
        "fid long, geometry binary")
    te, ts = (99.0, -0.5, 103.5, 2.0), (40, 24)
    for at in (False, True):
        want, gt = RZ.rasterize_array(geoms, te, ts, init=3, burn=9,
                                      all_touched=at)
        tiles = RZ.rasterize_tiles(fps, te, ts, bw=8, bh=8, init=3, burn=9,
                                   all_touched=at).collect()
        assert len(tiles) == 5 * 3  # full tile set, empty tiles included
        got = np.zeros((24, 40), np.uint8)
        for r in tiles:
            got[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = \
                np.frombuffer(r.payload, np.uint8).reshape(r.bh, r.bw)
        assert (got == want).all(), f"all_touched={at}"
        # monolithic path (executor-assembled) agrees too
        mono = RZ.rasterize(fps, te, ts, init=3, burn=9, all_touched=at,
                            block=8).first()
        assert np.frombuffer(mono.payload, np.uint8).reshape(24, 40).tolist() \
            == want.tolist()


def _toy_sieve_raster():
    arr = np.zeros((16, 24), dtype=np.uint8)
    arr[3, 6:12] = 7      # 6-px run straddling the bw=8 seam at x=8
    arr[10, 10] = 9       # 1-px speck (dies)
    arr[12:14, 15:17] = 5 # 4-px blob inside one tile (dies at t=5)
    arr[0:6, 20:24] = 3   # 24-px region (lives; the "largest neighbor")
    return arr


# driver_side.MAX_ROWS per path: the default bound (the driver solve)
# and 0 (the distributed decision chain)
_SIEVE_PATHS = {"driver": driver_side.MAX_ROWS, "dist": 0}


def _sieve_on(path, tiles, *args, **kw):
    """sieve_tiles(tiles, *args, **kw).collect() on one of _SIEVE_PATHS."""
    from godal_spark.operators import polygonize as PZ

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(driver_side, "MAX_ROWS", _SIEVE_PATHS[path])
        return PZ.sieve_tiles(tiles, *args, **kw).collect()


def _sieve_both_paths(tiles, *args, **kw):
    """sieve_tiles on both paths: their output tiles must be
    byte-identical; returns them as {(block_x, block_y): row}."""
    got = {}
    for name in _SIEVE_PATHS:
        rows = _sieve_on(name, tiles, *args, **kw)
        got[name] = {(r.block_x, r.block_y): r for r in rows}
    a, b = got["driver"], got["dist"]
    assert sorted(a) == sorted(b)
    for k in a:
        assert bytes(a[k].payload) == bytes(b[k].payload), k
    return a


def _mosaic(rows, like: np.ndarray) -> np.ndarray:
    out = np.zeros_like(like)
    for r in rows:
        out[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = \
            np.frombuffer(r.payload, np.dtype(r.dtype)).reshape(r.bh, r.bw)
    return out


@pytest.mark.parametrize("eight,path", [
    (False, "driver"), (True, "driver"), (False, "dist"), (True, "dist")],
    ids=["False", "True", "False-dist", "True-dist"])
def test_sieve_tiles_matches_gathered(spark, eight, path):
    """Distributed sieve == per-array sieve_array on a multi-tile raster
    whose small components CROSS tile borders (global size must be the
    summed size, not the per-tile size — a 6-px blob straddling a seam
    must survive threshold 5 even though each half is < 5), on the
    driver-solve path and the forced-distributed one."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = _toy_sieve_raster()
    images = datagen.images_df(spark, [datagen.image_row("sv", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    assert tiles.count() == 6

    got = _mosaic(_sieve_on(path, tiles, 5, eight=eight), arr)
    want = PZ.sieve_array(arr, 5, eight=eight)
    assert np.array_equal(got, want), f"eight={eight}\n{got}\n{want}"
    # the straddling 6-px run survived; the speck and the 4-px blob died
    assert (got[3, 6:12] == 7).all()
    assert got[10, 10] == 0 and (got[12:14, 15:17] == 0).all()


def test_sieve_tiles_chain_and_masked(spark):
    """Chain semantics (small A adjacent to small B adjacent to big C:
    values move ONE step per pass, sieve_array contract) and nodata
    pixels untouched, on both paths."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.full((8, 24), 200, dtype=np.uint8)
    arr[4, 2] = 10        # small A (1 px), neighbors: B and 200
    arr[4, 3:5] = 20      # small B (2 px), neighbors: A and 200
    arr[0, 0] = 0         # nodata pixel
    images = datagen.images_df(spark, [datagen.image_row("ch", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    got = _mosaic(_sieve_both_paths(tiles, 4, nodata=0.0).values(), arr)
    want = PZ.sieve_array(arr, 4, valid=arr != 0)
    assert np.array_equal(got, want)
    assert got[0, 0] == 0  # nodata untouched


def test_sieve_tiles_untouched_passthrough_and_dist_path(spark):
    """Rasters with no small components pass through byte-identical;
    the forced-distributed root path (MAX_ROWS = 0) agrees with
    the driver union-find path."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    rng = np.random.default_rng(5)
    arr = (rng.integers(0, 3, (12, 32)) * 100).astype(np.uint8)
    images = datagen.images_df(spark, [datagen.image_row("p", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    clean = PZ.sieve_tiles(tiles, 1).collect()  # nothing < 1 px
    orig = {(t.block_x, t.block_y): t.payload for t in tiles.collect()}
    for t in clean:
        assert bytes(t.payload) == bytes(orig[(t.block_x, t.block_y)])
    _sieve_both_paths(tiles, 4)


def test_sieve_tiles_fallback_keeps_driver_roots(spark, monkeypatch):
    """Above the guard, the sieve's roots still come from the driver
    union-find while the equivalence edges alone fit under it. The toy
    raster has 27 metadata rows and 9 equivalence edges, so
    MAX_ROWS = 12 runs the distributed decisions on driver roots:
    neither the driver solve nor pointer doubling may run, and the
    result is sieve_array's."""
    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark.plans import components as CC

    def wrong_path(*args, **kw):
        raise AssertionError("MAX_ROWS = 12 took the wrong path")

    monkeypatch.setattr(PZ, "_sieve_decisions", wrong_path)
    monkeypatch.setattr(CC, "_distributed_roots", wrong_path)
    monkeypatch.setattr(driver_side, "MAX_ROWS", 12)
    arr = _toy_sieve_raster()
    images = datagen.images_df(spark, [datagen.image_row("sv", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    got = _mosaic(PZ.sieve_tiles(tiles, 5).collect(), arr)
    assert np.array_equal(got, PZ.sieve_array(arr, 5))


def test_sieve_tiles_megapixel_smoke(spark):
    """1024x1536 raster (1.5 Mpx, 96 tiles of 128px) of 64px blocky
    regions with ~60 planted specks (some straddling tile seams):
    distributed result == sieve_array on the whole raster, and no
    sub-threshold component survives (every speck's neighbor is a large
    region, so one pass cleans them all)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    rng = np.random.default_rng(31)
    coarse = (rng.integers(0, 3, (16, 24)) * 100).astype(np.uint8)
    arr = np.repeat(np.repeat(coarse, 64, axis=0), 64, axis=1)  # 1024x1536
    for _ in range(60):  # specks, some crossing the 128px tile seams
        y = int(rng.integers(1, 1023)); x = int(rng.integers(1, 1530))
        ln = int(rng.integers(1, 6))
        arr[y, x:x + ln] = 50
    arr[100, 126:131] = 50   # guaranteed seam-straddler at x=128
    images = datagen.images_df(spark, [datagen.image_row("mp", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=128, bh=128)
    out_tiles = PZ.sieve_tiles(tiles, 8).collect()
    got = np.zeros_like(arr)
    for t in out_tiles:
        got[t.y0:t.y0 + t.bh, t.x0:t.x0 + t.bw] = \
            np.frombuffer(t.payload, np.uint8).reshape(t.bh, t.bw)
    want = PZ.sieve_array(arr, 8)
    assert np.array_equal(got, want)
    assert 50 not in np.unique(got)  # every speck merged into a region


def test_rasterize_tiles_megapixel_smoke(spark):
    """4096x4096 target (16 Mpx, 256 tiles): distributed burn produces a
    complete tile set whose burned-pixel total matches the analytic
    count for axis-aligned boxes (center rule), with no driver-side
    pixel collect."""
    import pandas as pd

    boxes = [G.box(10.0, 10.0, 50.25, 30.75), G.box(-120.5, -45.5, -60.0, 20.0)]
    fps = spark.createDataFrame(
        pd.DataFrame({"fid": range(2), "geometry": [G.to_wkb(b) for b in boxes]}),
        "fid long, geometry binary")
    te, ts = (-180.0, -90.0, 180.0, 90.0), (4096, 4096)
    pw = 360.0 / 4096
    ph = 180.0 / 4096
    tiles = RZ.rasterize_tiles(fps, te, ts, bw=256, bh=256, init=0, burn=1)
    rows = tiles.collect()
    assert len(rows) == 16 * 16
    burned = sum(int(np.frombuffer(r.payload, np.uint8).sum()) for r in rows)

    def count_box(minx, miny, maxx, maxy):
        cx = -180.0 + (np.arange(4096) + 0.5) * pw
        cy = 90.0 - (np.arange(4096) + 0.5) * ph
        return int((np.count_nonzero((cx >= minx) & (cx <= maxx)))
                   * np.count_nonzero((cy >= miny) & (cy <= maxy)))

    want = sum(count_box(*b.bounds()) for b in boxes)  # disjoint boxes
    assert burned == want


def test_label_components_adversarial_diameter():
    """Huge-diameter components (concentric 1-px rings, perimeter up to
    ~1000 px each) must label fast — the round-4 root-hooking fix.
    Node-hooking propagated merged labels one BFS layer per round
    (O(diameter): 1,030 rounds / 17 s on a 1024^2 snaky-blob tile);
    root-hooking + pointer doubling is O(log n) rounds."""
    import time

    from godal_spark.operators.polygonize import label_components

    sp = np.zeros((256, 256), np.uint8)
    x0, y0, x1, y1 = 0, 0, 255, 255
    while x0 <= x1 and y0 <= y1:
        sp[y0, x0:x1 + 1] = 1
        sp[y0:y1 + 1, x1] = 1
        sp[y1, x0:x1 + 1] = 1
        sp[y0:y1 + 1, x0] = 1
        x0 += 2; y0 += 2; x1 -= 2; y1 -= 2
    t0 = time.perf_counter()
    lab, n = label_components(sp)
    wall = time.perf_counter() - t0
    # 64 one-valued rings + 64 zero gap rings, each its own component
    assert n == 128
    # the outermost ring is ONE component end-to-end
    assert lab[0, 0] == lab[255, 255] == lab[0, 255] == lab[255, 0]
    # and distinct from the next ring inward
    assert lab[0, 0] != lab[2, 2]
    # wall guard: ~2 s pre-fix on this input, <50 ms after
    assert wall < 1.0


def test_dissolve_rectilinear_assemble_matches_generic():
    """The vectorized dissolve's hole→shell ray-shoot assembler must
    produce bit-identical assembly to the generic O(holes × perimeter)
    G._assemble on the same ring set (round-5c kernel audit: 157 s of a
    159 s percolation dissolve was generic assembly), across density
    regimes incl. deep nesting (islands inside holes inside shells)."""
    import godal_spark.functions.geom as G
    from godal_spark.operators import polygonize as P

    captured = {}
    orig = P._assemble_rectilinear

    def capture(rings_out, ring_of, kaxis, bx, by):
        fast = orig(rings_out, ring_of, kaxis, bx, by)
        captured["fast"], captured["rings"] = fast, rings_out
        return fast

    def canon(poly_lists):
        return {pl[0].tobytes(): sorted(h.tobytes() for h in pl[1:])
                for pl in poly_lists}

    # deterministic nested fixture: frame shell, hole, island in the
    # hole, island's own hole — split across two tiles so the dissolve
    # path (not the single-polygon shortcut) runs
    nest = np.zeros((40, 40), np.uint8)
    nest[2:38, 2:38] = 1      # shell
    nest[8:32, 8:32] = 0      # hole
    nest[14:26, 14:26] = 1    # island inside the hole
    nest[18:22, 18:22] = 0    # hole inside the island
    cases = [("nest", nest, 20)]
    for seed, n, p, tile in [(7, 128, 0.62, 32), (3, 120, 0.9, 40),
                             (5, 128, 0.15, 64)]:
        rng = np.random.default_rng(seed)
        cases.append((f"rand{seed}", (rng.random((n, n)) < p).astype(np.uint8),
                      tile))

    P._assemble_rectilinear = capture
    try:
        for name, m, tile in cases:
            n = m.shape[0]
            polys = []
            for ty in range(0, n, tile):
                for tx in range(0, n, tile):
                    rings = P._trace_rings(m[ty:ty + tile, tx:tx + tile]
                                           .astype(bool))
                    polys.append([r + np.array([tx, ty]) for r in rings])
            g = P._dissolve_pixel_rings(polys)
            assert captured["fast"] is not None, f"{name}: fell back"
            slow = G._assemble(captured["rings"]).polygons()
            assert canon(captured["fast"]) == canon(slow), name
            assert abs(g.area() - float(m.sum())) < 1e-9, name
    finally:
        P._assemble_rectilinear = orig


def test_trace_rings_matches_dict_walk_reference():
    """Vectorized _trace_rings (round 5c) vs the original dict-of-lists
    walk it replaced: identical directed-edge multisets and identical
    total signed area on every mask. Ring PAIRING may differ only where
    a ring starts at a saddle (the dict walk took whichever out-edge
    was appended last there; the vectorized walk applies the CW rule
    uniformly) — on saddle-free masks the rings must be identical up to
    rotation."""
    from godal_spark.operators.polygonize import _trace_rings

    def trace_ref(mask):  # the pre-round-5c implementation, verbatim
        h, w = mask.shape
        padded = np.zeros((h + 2, w + 2), dtype=bool)
        padded[1:-1, 1:-1] = mask
        core = padded[1:-1, 1:-1]
        edges = {}
        m_top = core & ~padded[:-2, 1:-1]
        m_right = core & ~padded[1:-1, 2:]
        m_bot = core & ~padded[2:, 1:-1]
        m_left = core & ~padded[1:-1, :-2]
        segs = []
        ys, xs = np.nonzero(m_top); segs.append((xs, ys, xs + 1, ys))
        ys, xs = np.nonzero(m_right); segs.append((xs + 1, ys, xs + 1, ys + 1))
        ys, xs = np.nonzero(m_bot); segs.append((xs + 1, ys + 1, xs, ys + 1))
        ys, xs = np.nonzero(m_left); segs.append((xs, ys + 1, xs, ys))
        for (x0a, y0a, x1a, y1a) in segs:
            for x0, y0, x1, y1 in zip(x0a.tolist(), y0a.tolist(),
                                      x1a.tolist(), y1a.tolist()):
                edges.setdefault((x0, y0), []).append((x1, y1))
        DIRS = {(1, 0): 0, (0, 1): 1, (-1, 0): 2, (0, -1): 3}
        rings = []
        while edges:
            start = next(iter(edges))
            ring = [start]; cur = start; prev = None
            while True:
                outs = edges.get(cur)
                if not outs:
                    break
                if len(outs) == 1 or prev is None:
                    nxt = outs.pop()
                else:
                    outs.sort(key=lambda c: (
                        DIRS[(c[0] - cur[0], c[1] - cur[1])] - prev) % 4)
                    nxt = outs.pop(0)
                if not edges[cur]:
                    del edges[cur]
                prev = DIRS[(nxt[0] - cur[0], nxt[1] - cur[1])]
                cur = nxt; ring.append(cur)
                if cur == start:
                    break
            if len(ring) >= 4 and ring[0] == ring[-1]:
                rings.append(np.array(ring, dtype=np.float64))
        return rings

    def edgeset(rr):
        s = set()
        for r in rr:
            ri = r.astype(np.int64)
            s.update((int(a[0]), int(a[1]), int(b[0]), int(b[1]))
                     for a, b in zip(ri[:-1], ri[1:]))
        return s

    def shoelace_sum(rr):
        return sum(float(np.sum(r[:-1, 0] * np.roll(r[:-1, 1], -1)
                                - np.roll(r[:-1, 0], -1) * r[:-1, 1])) / 2
                   for r in rr)

    def canon(rr):
        out = []
        for r in rr:
            pts = [tuple(p) for p in r[:-1].tolist()]
            i = min(range(len(pts)), key=lambda k: pts[k])
            out.append(tuple(pts[i:] + pts[:i]))
        return sorted(out)

    rng = np.random.default_rng(0)
    for trial in range(40):
        n = int(rng.integers(1, 40))
        m = rng.random((n, n)) < rng.uniform(0.1, 0.95)
        old, new = trace_ref(m), _trace_rings(m)
        assert edgeset(old) == edgeset(new), trial
        assert abs(shoelace_sum(old) - shoelace_sum(new)) < 1e-9, trial
    # saddle-free fixtures: exact ring equality (up to start rotation)
    nest = np.zeros((16, 16), bool)
    nest[1:15, 1:15] = True
    nest[4:12, 4:12] = False
    nest[6:10, 6:10] = True
    for m in [np.ones((5, 7), bool), nest,
              np.pad(np.ones((3, 3), bool), 2)]:
        assert canon(trace_ref(m)) == canon(_trace_rings(m))


def test_geom_name_accessor():
    """Geometry.Name parity (godal.go:2679-2681, OGR_G_GetGeometryName):
    uppercase WKT tag per type."""
    from godal_spark.functions import geom as G

    for wkt, want in [("POINT (1 2)", "POINT"),
                      ("LINESTRING (0 0, 1 1)", "LINESTRING"),
                      ("POLYGON ((0 0,1 0,1 1,0 1,0 0))", "POLYGON"),
                      ("MULTIPOLYGON (((0 0,1 0,1 1,0 1,0 0)))",
                       "MULTIPOLYGON"),
                      ("GEOMETRYCOLLECTION (POINT (1 2))",
                       "GEOMETRYCOLLECTION")]:
        assert G.from_wkt(wkt).name() == want


def test_sieve_tiles_float_nan_border(spark):
    """Round-6 regression: the JVM border pairing must not use Spark's
    NaN = NaN (TRUE) semantics — a NaN|NaN pair across a tile seam is an
    adjacency between two singleton components (numpy semantics), never
    an equivalence. Both paths must equal sieve_array."""
    from godal_spark import datagen
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.full((8, 16), 1.0, dtype=np.float32)
    arr[2, 3] = np.nan
    arr[5, 7] = np.nan
    arr[5, 8] = np.nan  # NaN|NaN pair straddling the bw=8 seam
    arr[0:3, 12:16] = 7.0
    images = datagen.images_df(spark, [datagen.image_row("f", arr, "rawf32")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    out = _mosaic(_sieve_both_paths(tiles, 3, use_nodata_mask=False).values(),
                  arr)
    want = PZ.sieve_array(arr, 3)
    same = (out == want) | (np.isnan(out) & np.isnan(want))
    assert same.all()


def test_sieve_tiles_nan_seam_adjacency(spark):
    """A NaN pixel whose only non-NaN neighbor lies across a tile seam:
    NaN reaches the seam pairing as null, and that pair must still count
    as an ADJACENCY (different values), or the speck only sees its NaN
    neighbors and keeps NaN. sieve_array gives it the 1.0 region, and
    so do both paths."""
    from godal_spark import datagen
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.full((8, 16), 1.0, dtype=np.float32)
    arr[2:5, 7] = np.nan
    arr[3, 6] = np.nan    # (3, 7) is boxed in by NaN inside its tile
    images = datagen.images_df(spark, [datagen.image_row("f", arr, "rawf32")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    out = _mosaic(_sieve_both_paths(tiles, 3, use_nodata_mask=False).values(),
                  arr)
    want = PZ.sieve_array(arr, 3)
    assert (want == 1.0).all()
    assert np.array_equal(out, want), out


def test_sieve_tiles_tie_break_smaller_root(spark):
    """A 1-px speck whose two neighbors have the same global size (63
    px) and different values, one across the x=8 seam: both paths give
    it the value of the neighbor with the smaller root. The left region
    lies in tile (0,0), so its root (minimum global cid) is smaller than
    the right region's in tile (1,0); the left region's value is also
    the smaller, so neither a max-value nor a larger-root rule passes."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.full((8, 16), 5, dtype=np.uint8)
    arr[:, :8] = 2        # left region: 64 px
    arr[7, 0] = 7         # ... less one 1-px speck of its own: 63
    arr[3, 8] = 9         # the speck in tile (1,0): right region is 63
    images = datagen.images_df(spark, [datagen.image_row("tb", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    got = _mosaic(_sieve_both_paths(tiles, 2).values(), arr)
    assert got[3, 8] == 2 and got[7, 0] == 2
    assert np.array_equal(got, PZ.sieve_array(arr, 2))


def test_declare_parallelism_runs_no_job_on_a_shuffled_plan(spark, jobs_of):
    """Sieve's cogroup sizes both sides from its tiles input with the one
    width rule: a plan with an exchange gets the full width without
    running its stages."""
    from godal_spark.operators import polygonize as PZ

    shuffled = spark.range(100).repartition(3, "id").groupBy("id").count()
    n, out = jobs_of(
        lambda: shuffled.repartition(PZ.adaptive_parallelism(shuffled), "id"))
    assert n == 0
    width = max(8, 2 * spark.sparkContext.defaultParallelism)
    assert out._jdf.queryExecution().logical().toString().startswith(
        f"'RepartitionByExpression ['id], {width}\n")


def test_sieve_cogroup_sides_share_one_width(spark, monkeypatch):
    """The fallback's rewrite cogroup repartitions both sides to one
    width, so Spark adds no exchange to co-partition them: a tiles
    input with an exchange gets the full width, and the decisions'
    checkpoint must follow it."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    images = datagen.images_df(spark, [
        datagen.image_row("sv", _toy_sieve_raster(), "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8).repartition(3, "block_x")
    monkeypatch.setattr(driver_side, "MAX_ROWS", 0)
    out = PZ.sieve_tiles(tiles, 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "ENSURE_REQUIREMENTS" not in plan
