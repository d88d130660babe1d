"""Warp — gdalwarp work-alike (godal.go:983-1072): reprojection +
multi-source mosaic, the "join" of the raster world.

Golden contracts (godal_test.go:1852-1982):
  * -ts 40 40 resize with CRS kept;
  * multi-source mosaic unions extents: two 5x5 @45E/50E → one 10x5,
    left half 200, right half 100;
  * WarpInto overwrites ONLY the overlap of an existing dataset (155
    over 200) — untouched pixels of partially-covered blocks survive.

Distributed shape (round-2 redesign; round 1 collected all source
metadata driver-side and shipped each source's full bytes to every
overlapping target tile — an N× byte amplification):

  1. target grid: extent = distributed min/max agg over per-source
     bounds (metadata-only mapInPandas, bytes column pruned); resolution
     anchored on the first source (lowest image_id) fetched as ONE row.
     Driver holds 6 scalars, never a per-image list.
  2. sources are pre-tiled: one Arrow-batched mapInPandas decodes each
     image ONCE and slices `block`-sized tiles with a kernel-radius halo
     (1 px nearest/bilinear, 2 cubic/cubicspline, 3 lanczos) so every
     cross-tile sample stays local; area-based kernels raise.
  3. each source tile maps to the target-block RANGE its geo bbox
     covers — two built-in `sequence` explodes on (block_x, block_y),
     pure codegen, no bbox broadcast join, no cartesian. A source tile
     duplicates only across the few target blocks it actually touches
     (≈1-4×), not across every tile of the output.
  4. groupBy (block_x, block_y) → applyInPandas renders the block:
     sources applied in image_id order (GDAL input-order semantics;
     pass an explicit `order_col` for a different order), later sources
     overwriting valid pixels. Ownership masks keep tile writes disjoint:
     a source tile writes exactly the target pixels whose resample
     anchor falls inside its owned (halo-less) window, so the union over
     tiles reproduces the whole-image result bit-for-bit.
  5. WarpInto: existing tiles of covered blocks are unioned into the
     groups and seed the output buffers (so partially-covered blocks
     keep their old pixels — round 1 zeroed them); untouched blocks
     bypass Python entirely via left_anti.

Switches parsed error-first driver-side (invalid switch errors before
any job — godal_test.go:1872-1875).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from godal_spark.functions import codecs, crs as CRS
from godal_spark.functions.resampling import _KERNELS, SUPPORTED as RESAMPLING_ALGS
from godal_spark.operators.tiling import TILE_SCHEMA, block_grid_list

# inverse-mapping warp supports point-sampling kernels; area-based algs
# (average/mode/gauss) are FORWARD-mapped (accumulate source px centers
# into target cells — the downscale-mosaic kernels). Forward kernels read
# only owned pixels (halo 0 would do but 1 is cheap); halo width
# otherwise = inverse kernel radius so cross-tile samples stay local.
# Full ResamplingAlg coverage (godal.go:1679-1748).
_WARP_HALO = {"nearest": 1, "bilinear": 1, "cubic": 2, "cubicspline": 2,
              "lanczos": 3, "average": 1, "mode": 1, "gauss": 1}

# gauss: source centers spread to the 3x3 target cells around their
# landing cell, weighted exp(-d^2 / 2 sigma^2) of the distance d to each
# cell center (in target px) — the warp-space analogue of GDAL's 3x3
# binomial overview kernel. sigma chosen so a 2:1 downscale reproduces
# the [1 2 1] weight shape.
_GAUSS_SIGMA = 0.5


@dataclass
class WarpConfig:
    t_srs: str | None = None
    ts: tuple[int, int] | None = None
    te: tuple[float, float, float, float] | None = None
    tr: tuple[float, float] | None = None
    resampling: str = "nearest"
    init_nodata: float = 0.0


def parse_warp_switches(switches: list[str] | None) -> WarpConfig:
    cfg = WarpConfig()
    sw = list(switches or [])
    i = 0
    while i < len(sw):
        s = sw[i]
        if s == "-t_srs":
            cfg.t_srs = sw[i + 1]
            i += 2
        elif s == "-ts":
            cfg.ts = (int(sw[i + 1]), int(sw[i + 2]))
            i += 3
        elif s == "-te":
            cfg.te = tuple(float(v) for v in sw[i + 1:i + 5])
            i += 5
        elif s == "-tr":
            cfg.tr = (float(sw[i + 1]), float(sw[i + 2]))
            i += 3
        elif s == "-r":
            if sw[i + 1].lower() not in RESAMPLING_ALGS:
                raise ValueError(f"warp: unknown -r alg {sw[i + 1]!r}")
            cfg.resampling = sw[i + 1].lower()
            i += 2
        elif s == "-co":
            raise ValueError("warp: creation options not valid as a switch here")
        else:
            raise ValueError(f"warp: invalid switch {s!r}")
    return cfg


def _target_grid_scalars(ext, m0, cfg: WarpConfig, t_srs: str):
    """(gt, w, h) of the output grid from the aggregated extent + the
    first source's resolution (GDAL's heuristic anchor); -ts/-te/-tr
    override. Driver-side scalar math only."""
    minx, miny, maxx, maxy = ext
    if cfg.te:
        minx, miny, maxx, maxy = cfg.te
    if cfg.ts:
        w, h = cfg.ts
        px, py = (maxx - minx) / w, (maxy - miny) / h
    else:
        if m0["srs"] == t_srs:
            px, py = abs(m0["gt"][1]), abs(m0["gt"][5])
        else:
            b0 = CRS.dataset_bounds(list(m0["gt"]), m0["w"], m0["h"])
            rb = CRS.reproject_bounds(b0, m0["srs"], t_srs)
            px = (rb[2] - rb[0]) / m0["w"]
            py = (rb[3] - rb[1]) / m0["h"]
        if cfg.tr:
            px, py = cfg.tr
        w = int(round((maxx - minx) / px))
        h = int(round((maxy - miny) / py))
    gt = [minx, px, 0.0, maxy, 0.0, -py]
    return gt, w, h


_SRC_META_SCHEMA = ("image_id string, sx0 int, sy0 int, sbw int, sbh int, "
                    "hx0 int, hy0 int, hw int, hh int, sw int, sh int, "
                    "gminx double, gminy double, gmaxx double, gmaxy double, "
                    "gt array<double>, srs string, caption string")

_SRC_TILE_SCHEMA = "kind string, band int, dtype string, payload binary, " + _SRC_META_SCHEMA


def _tile_meta(rec, block: int, t_srs: str, halo: int = 1):
    """Per-source-tile metadata: owned window, halo window, and the geo
    bbox of the HALO window in target srs. halo = resampling kernel
    radius (1 for nearest/bilinear, 2 cubic, 3 lanczos); the margin also
    absorbs the half-pixel anchor shift of kernel ownership."""
    out = []
    for (_, _, sx0, sy0, sbw, sbh) in block_grid_list(rec.w, rec.h, block, block):
        hx0, hy0 = max(0, sx0 - halo), max(0, sy0 - halo)
        hx1, hy1 = min(rec.w, sx0 + sbw + halo), min(rec.h, sy0 + sbh + halo)
        cx = np.array([hx0, hx1, hx0, hx1], dtype=np.float64)
        cy = np.array([hy0, hy0, hy1, hy1], dtype=np.float64)
        gx, gy = CRS.pixel_to_geo(list(rec.gt), cx, cy)
        b = (float(gx.min()), float(gy.min()), float(gx.max()), float(gy.max()))
        if rec.srs != t_srs:
            b = CRS.reproject_bounds(b, rec.srs, t_srs)
        out.append((sx0, sy0, sbw, sbh, hx0, hy0, hx1 - hx0, hy1 - hy0, b))
    return out


def _src_meta_tiles(images: DataFrame, block: int, t_srs: str,
                    halo: int = 1) -> DataFrame:
    """Metadata-only pre-tiling (no pixel decode — bytes column pruned)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                cap = getattr(rec, "caption", None)
                for (sx0, sy0, sbw, sbh, hx0, hy0, hw, hh, b) in _tile_meta(rec, block, t_srs, halo):
                    rows.append((rec.image_id, sx0, sy0, sbw, sbh, hx0, hy0, hw, hh,
                                 rec.w, rec.h, b[0], b[1], b[2], b[3],
                                 [float(v) for v in rec.gt], rec.srs, cap))
            yield pd.DataFrame(rows, columns=[
                "image_id", "sx0", "sy0", "sbw", "sbh", "hx0", "hy0", "hw", "hh",
                "sw", "sh", "gminx", "gminy", "gmaxx", "gmaxy", "gt", "srs", "caption"])

    return images.select("image_id", "w", "h", "gt", "srs").mapInPandas(
        gen, schema=_SRC_META_SCHEMA)


def _src_px_tiles(images: DataFrame, block: int, t_srs: str,
                  halo: int = 1) -> DataFrame:
    """Decode-once pre-tiling: per (tile × band) rows with halo payload."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                arr = codecs.decode(rec.bytes, rec.fmt, rec.w, rec.h)
                planes = [arr] if arr.ndim == 2 else \
                    [arr[:, :, b] for b in range(arr.shape[2])]
                cap = getattr(rec, "caption", None)
                for (sx0, sy0, sbw, sbh, hx0, hy0, hw, hh, b) in _tile_meta(rec, block, t_srs, halo):
                    for band, plane in enumerate(planes):
                        payload = np.ascontiguousarray(
                            plane[hy0:hy0 + hh, hx0:hx0 + hw]).tobytes()
                        rows.append(("s", band, str(plane.dtype), payload,
                                     rec.image_id, sx0, sy0, sbw, sbh,
                                     hx0, hy0, hw, hh, rec.w, rec.h,
                                     b[0], b[1], b[2], b[3],
                                     [float(v) for v in rec.gt], rec.srs, cap))
            yield pd.DataFrame(rows, columns=[
                "kind", "band", "dtype", "payload",
                "image_id", "sx0", "sy0", "sbw", "sbh", "hx0", "hy0", "hw", "hh",
                "sw", "sh", "gminx", "gminy", "gmaxx", "gmaxy", "gt", "srs", "caption"])

    cols = ["image_id", "bytes", "fmt", "w", "h", "gt", "srs"]
    if "caption" in images.columns:
        cols.append("caption")
    return images.select(*cols).mapInPandas(gen, schema=_SRC_TILE_SCHEMA)


def _with_block_range(df: DataFrame, tgt_gt, tw: int, th: int, block: int,
                      spread: float = 0.0) -> DataFrame:
    """Explode each source tile to the (block_x, block_y) range its geo
    bbox covers on the target grid — built-in sequence explodes, pure
    codegen. Handles ROTATED target geotransforms exactly: the inverse
    affine maps the tile's axis-aligned geo bbox to a parallelogram in
    pixel space, and a linear map attains its extremes at the vertices —
    so min/max over the 4 transformed corners is an exact pixel-space
    bounding box."""
    ox, oy = float(tgt_gt[0]), float(tgt_gt[3])
    a11, a12 = float(tgt_gt[1]), float(tgt_gt[2])
    a21, a22 = float(tgt_gt[4]), float(tgt_gt[5])
    det = a11 * a22 - a12 * a21
    if det == 0.0:
        raise ValueError("warp: singular target geotransform")
    i11, i12 = a22 / det, -a12 / det
    i21, i22 = -a21 / det, a11 / det
    nbx = (tw + block - 1) // block
    nby = (th + block - 1) // block

    def px_of(gx, gy):
        return (gx - ox) * i11 + (gy - oy) * i12

    def py_of(gx, gy):
        return (gx - ox) * i21 + (gy - oy) * i22

    corners = [(F.col("gminx"), F.col("gminy")), (F.col("gmaxx"), F.col("gminy")),
               (F.col("gminx"), F.col("gmaxy")), (F.col("gmaxx"), F.col("gmaxy"))]
    pxs = [px_of(gx, gy) for gx, gy in corners]
    pys = [py_of(gx, gy) for gx, gy in corners]
    # spread: forward kernels that scatter past the landing cell (gauss
    # 3x3) need the source tile present in neighbor target blocks too
    pxlo, pxhi = F.least(*pxs) - spread, F.greatest(*pxs) + spread
    pylo, pyhi = F.least(*pys) - spread, F.greatest(*pys) + spread
    d = (df.filter((pxhi > 0) & (pxlo < tw) & (pyhi > 0) & (pylo < th))
         .withColumn("__bxlo", F.greatest(
             F.lit(0), F.floor(pxlo / block)).cast("int"))
         .withColumn("__bxhi", F.least(
             F.lit(nbx - 1), (F.ceil(pxhi / block) - 1)).cast("int"))
         .withColumn("__bylo", F.greatest(
             F.lit(0), F.floor(pylo / block)).cast("int"))
         .withColumn("__byhi", F.least(
             F.lit(nby - 1), (F.ceil(pyhi / block) - 1)).cast("int"))
         .withColumn("block_x", F.explode(F.sequence(F.col("__bxlo"), F.col("__bxhi"))))
         .withColumn("block_y", F.explode(F.sequence(F.col("__bylo"), F.col("__byhi"))))
         .drop("__bxlo", "__bxhi", "__bylo", "__byhi"))
    return d


def warp(spark: SparkSession, images: DataFrame, switches: list[str] | None = None,
         *, block: int = 256, into_tiles: DataFrame | None = None,
         into_meta: dict | None = None) -> DataFrame:
    """Warp the images table into one mosaic; returns the target's tile
    DataFrame (level 0) whose gt/srs are stamped in extra columns.

    into_tiles/into_meta: WarpInto mode — reuse the existing dataset's
    grid (into_meta = {gt,w,h,srs}); into_tiles must be exploded at the
    same `block` size on that grid. Existing pixels survive wherever no
    source writes (godal_test.go:1945-1982), including inside
    partially-covered blocks.

    DEVIATION from the reference: GDAL accepts ``-r gauss`` only for
    overview builds, not warp. This engine additionally accepts it for
    warp as a forward-mapped 3x3 gaussian spread (sigma 0.5, chosen so
    a 2:1 downscale reproduces the [1 2 1] binomial weights) — an
    ENGINE-SPECIFIC kernel with no GDAL counterpart; its pixel values
    match no reference implementation. All other kernels follow GDAL
    semantics (godal.go:1679-1748).
    """
    cfg = parse_warp_switches(switches)  # fail-fast
    if cfg.resampling not in _WARP_HALO:
        raise NotImplementedError(
            f"warp: -r {cfg.resampling} unsupported — supported warp "
            "kernels: " + "/".join(sorted(_WARP_HALO)))
    halo = _WARP_HALO[cfg.resampling]

    meta_small = images.select("image_id", "w", "h", "gt", "srs")
    # the extent/anchor pass is metadata-only (a few dozen bytes/row):
    # don't let it inherit the pixel scan's split sizing — cap its task
    # count so the serial pre-render slice is scheduling-cheap (narrow
    # coalesce, no shuffle; measured ~2 s of empty-task scheduling on a
    # 1 MB-split bench scan at executor scale)
    sc = spark.sparkContext
    meta_small = meta_small.coalesce(max(8, sc.defaultParallelism))
    if into_meta is not None:
        tgt_gt, tw, th = (list(map(float, into_meta["gt"])),
                          into_meta["w"], into_meta["h"])
        t_srs = into_meta["srs"]
    else:
        # ONE fused job computes the resolution anchor (lowest image_id —
        # GDAL's input-order analogue, deterministic) AND the mosaic
        # extent: per-image native bounds as PURE codegen expressions
        # (the corner affine is `gt0 + x·gt1 + y·gt2` — identical IEEE
        # op order to CRS.pixel_to_geo, so values are bit-equal), then a
        # single agg with min_by for the anchor. Round 3 fused two
        # driver-barrier jobs into one; round 6 removes the Arrow stage
        # the fused pass still carried (guide §4.1: built-ins when they
        # exist — a Python worker round-trip per warp call for four
        # multiply-adds).
        def _cx(x, y):
            return F.col("gt")[0] + x * F.col("gt")[1] + y * F.col("gt")[2]

        def _cy(x, y):
            return F.col("gt")[3] + x * F.col("gt")[4] + y * F.col("gt")[5]

        wc, hc = F.col("w").cast("double"), F.col("h").cast("double")
        zero = F.lit(0.0)
        cxs = [_cx(zero, zero), _cx(wc, zero), _cx(zero, hc), _cx(wc, hc)]
        cys = [_cy(zero, zero), _cy(wc, zero), _cy(zero, hc), _cy(wc, hc)]
        row = (meta_small.select(
            "image_id", "gt", "w", "h", "srs",
            F.least(*cxs).alias("bminx"), F.least(*cys).alias("bminy"),
            F.greatest(*cxs).alias("bmaxx"), F.greatest(*cys).alias("bmaxy"))
            .agg(F.min("bminx").alias("bminx"), F.min("bminy").alias("bminy"),
                 F.max("bmaxx").alias("bmaxx"), F.max("bmaxy").alias("bmaxy"),
                 F.min_by(F.struct("gt", "srs", "w", "h"),
                          F.col("image_id")).alias("m0"),
                 F.count_distinct("srs").alias("n_srs"),
                 F.min("srs").alias("srs0"))
            .first())
        m0 = row["m0"]
        t_srs = cfg.t_srs or m0["srs"]
        if row["n_srs"] > 1 or row["srs0"] != t_srs:
            # mixed-srs fleet (or reprojection requested): the native
            # bounds union is not the target-srs extent — one more
            # metadata pass with per-image reprojection
            def bgen2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    rows = []
                    for rec in pdf.itertuples(index=False):
                        b = CRS.dataset_bounds(list(rec.gt), rec.w, rec.h)
                        if rec.srs != t_srs:
                            b = CRS.reproject_bounds(b, rec.srs, t_srs)
                        rows.append(b)
                    yield pd.DataFrame(
                        rows, columns=["bminx", "bminy", "bmaxx", "bmaxy"])

            ext_row = (meta_small.mapInPandas(
                bgen2, schema="bminx double, bminy double, "
                              "bmaxx double, bmaxy double")
                .agg(F.min("bminx"), F.min("bminy"),
                     F.max("bmaxx"), F.max("bmaxy"))
                .first())
            ext = tuple(ext_row)
        else:
            ext = (row["bminx"], row["bminy"], row["bmaxx"], row["bmaxy"])
        tgt_gt, tw, th = _target_grid_scalars(ext, m0, cfg, t_srs)
    tgt_gt_b = [float(v) for v in tgt_gt]
    alg = cfg.resampling
    init_nodata = cfg.init_nodata
    # inverse target affine for render-side geo->pixel bounds
    ox_t, oy_t = tgt_gt_b[0], tgt_gt_b[3]
    _a11, _a12, _a21, _a22 = tgt_gt_b[1], tgt_gt_b[2], tgt_gt_b[4], tgt_gt_b[5]
    _det = _a11 * _a22 - _a12 * _a21
    inv11, inv12 = _a22 / _det, -_a12 / _det
    inv21, inv22 = -_a21 / _det, _a11 / _det

    spread = 1.0 if alg == "gauss" else 0.0
    pairs = _with_block_range(_src_px_tiles(images, block, t_srs, halo),
                              tgt_gt_b, tw, th, block, spread)

    if into_tiles is not None:
        # covered blocks from METADATA-only tiling (no decode)
        covered = (_with_block_range(_src_meta_tiles(images, block, t_srs, halo),
                                     tgt_gt_b, tw, th, block, spread)
                   .select("block_x", "block_y").distinct())
        into_l0 = into_tiles.filter(F.col("level") == 0)
        into_cov = (into_l0.join(covered, ["block_x", "block_y"], "left_semi")
                    .select(F.lit("i").alias("kind"), F.col("band"),
                            F.col("dtype"), F.col("payload"),
                            F.col("image_id"),
                            *[F.lit(-1).cast("int").alias(c) for c in
                              ("sx0", "sy0", "sbw", "sbh", "hx0", "hy0", "hw", "hh",
                               "sw", "sh")],
                            *[F.lit(None).cast("double").alias(c) for c in
                              ("gminx", "gminy", "gmaxx", "gmaxy")],
                            F.lit(None).cast("array<double>").alias("gt"),
                            F.lit(None).cast("string").alias("srs"),
                            F.col("caption"),
                            F.col("block_x"), F.col("block_y")))
        pairs = pairs.select(*into_cov.columns).unionByName(into_cov)

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bx, by = int(key[0]), int(key[1])
        x0, y0 = bx * block, by * block
        bw = min(block, tw - x0)
        bh = min(block, th - y0)

        outs: dict[int, np.ndarray] = {}
        cap = None
        into = pdf[pdf["kind"] == "i"]
        for r in into.itertuples(index=False):
            a = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(bh, bw)
            outs[int(r.band)] = a.ravel().copy()
            if cap is None:
                cap = r.caption

        src = pdf[pdf["kind"] == "s"].sort_values(
            ["image_id", "band", "sy0", "sx0"], kind="mergesort")
        if len(src):
            cap = src.iloc[0]["caption"]

        if alg in ("average", "mode", "gauss") and len(src):
            # forward mapping: per (image, band) accumulate the OWNED
            # source pixel centers that land in this block, then commit
            # (later images overwrite, GDAL source-order semantics)
            for (_, band), grp in src.groupby(["image_id", "band"], sort=True):
                band = int(band)
                acc = np.zeros(bw * bh, dtype=np.float64)
                cnt = np.zeros(bw * bh, dtype=np.float64)
                mode_f: list[np.ndarray] = []  # (flat, value) vote pairs
                mode_v: list[np.ndarray] = []
                dt = np.dtype(grp.iloc[0]["dtype"])
                for r in grp.itertuples(index=False):
                    plane = np.frombuffer(r.payload, dtype=np.dtype(r.dtype))                         .reshape(r.hh, r.hw)
                    sxs = np.arange(r.sx0, r.sx0 + r.sbw) + 0.5
                    sys_ = np.arange(r.sy0, r.sy0 + r.sbh) + 0.5
                    gxx, gyy = np.meshgrid(sxs, sys_)
                    gx, gy = CRS.pixel_to_geo(list(r.gt), gxx.ravel(), gyy.ravel())
                    if r.srs != t_srs:
                        gx, gy, okf = CRS.transform_points(gx, gy, r.srs, t_srs)
                    else:
                        okf = np.ones(gx.shape, dtype=bool)
                    tx, ty = CRS.geo_to_pixel(tgt_gt_b, gx, gy)
                    cxi = np.floor(tx).astype(np.int64)
                    cyi = np.floor(ty).astype(np.int64)
                    vals = plane[r.sy0 - r.hy0:r.sy0 - r.hy0 + r.sbh,
                                 r.sx0 - r.hx0:r.sx0 - r.hx0 + r.sbw]                         .astype(np.float64).ravel()
                    if alg == "gauss":
                        # spread to the 3x3 target cells around the
                        # landing cell, gaussian-weighted by distance to
                        # each cell center
                        s2 = 2.0 * _GAUSS_SIGMA * _GAUSS_SIGMA
                        for oy in (-1, 0, 1):
                            for ox in (-1, 0, 1):
                                ix = cxi + ox - x0
                                iy = cyi + oy - y0
                                inb = (okf & (ix >= 0) & (ix < bw)
                                       & (iy >= 0) & (iy < bh))
                                if not inb.any():
                                    continue
                                ddx = tx - (cxi + ox + 0.5)
                                ddy = ty - (cyi + oy + 0.5)
                                wk = np.exp(-(ddx * ddx + ddy * ddy) / s2)[inb]
                                flat = iy[inb] * bw + ix[inb]
                                np.add.at(acc, flat, vals[inb] * wk)
                                np.add.at(cnt, flat, wk)
                        continue
                    ix = cxi - x0
                    iy = cyi - y0
                    inb = okf & (ix >= 0) & (ix < bw) & (iy >= 0) & (iy < bh)
                    if not inb.any():
                        continue
                    flat = iy[inb] * bw + ix[inb]
                    if alg == "mode":
                        mode_f.append(flat)
                        mode_v.append(vals[inb])
                    else:
                        np.add.at(acc, flat, vals[inb])
                        np.add.at(cnt, flat, 1.0)
                if alg == "mode":
                    if not mode_f:
                        continue
                    flat = np.concatenate(mode_f)
                    val = np.concatenate(mode_v)
                    # majority vote per target cell; deterministic
                    # tie-break = LOWEST value (stable under any task /
                    # partition order — a distributed engine cannot use
                    # GDAL's scan-order tie-break)
                    o = np.lexsort((val, flat))
                    f, v = flat[o], val[o]
                    new = np.r_[True, (f[1:] != f[:-1]) | (v[1:] != v[:-1])]
                    starts = np.flatnonzero(new)
                    counts = np.diff(np.r_[starts, len(f)])
                    uf, uv = f[starts], v[starts]
                    o2 = np.lexsort((uv, -counts, uf))
                    fu, vu = uf[o2], uv[o2]
                    first = np.r_[True, fu[1:] != fu[:-1]]
                    cells, winners = fu[first], vu[first]
                    if band not in outs:
                        outs[band] = np.full(bw * bh, init_nodata, dtype=dt)
                    wv = winners
                    if np.issubdtype(dt, np.integer):
                        wv = np.clip(np.floor(wv + 0.5),
                                     np.iinfo(dt).min, np.iinfo(dt).max)
                    outs[band][cells] = wv.astype(outs[band].dtype)
                    continue
                got = cnt > 0
                if not got.any():
                    continue
                if band not in outs:
                    outs[band] = np.full(bw * bh, init_nodata, dtype=dt)
                v = acc[got] / cnt[got]
                if np.issubdtype(dt, np.integer):
                    v = np.clip(np.floor(v + 0.5),
                                np.iinfo(dt).min, np.iinfo(dt).max)
                outs[band][got] = v.astype(outs[band].dtype)
            src = src.iloc[0:0]  # handled

        # inverse mapping per source row, restricted to the SUBWINDOW of
        # this block that the source's halo bbox covers (round-3 fix:
        # mapping the full block for EVERY source made dense mosaics of
        # small images O(nsrc x block²) — 17 sources per 256² block
        # inverse-mapped 17 x 65k px where ~70k total were needed).
        # Cache keyed by (image, subwindow): all tiles of an image share
        # gt/srs, so overlapping subwindows reuse the transform.
        mcache: dict[tuple, tuple] = {}
        for r in src.itertuples(index=False):
            # halo geo bbox -> target-pixel bounds (exact under rotation:
            # a linear map attains extremes at the corners)
            pxc, pyc = [], []
            for gx in (r.gminx, r.gmaxx):
                for gy in (r.gminy, r.gmaxy):
                    pxc.append(inv11 * (gx - ox_t) + inv12 * (gy - oy_t))
                    pyc.append(inv21 * (gx - ox_t) + inv22 * (gy - oy_t))
            wx0 = max(x0, int(np.floor(min(pxc))) - 1)
            wx1 = min(x0 + bw, int(np.ceil(max(pxc))) + 1)
            wy0 = max(y0, int(np.floor(min(pyc))) - 1)
            wy1 = min(y0 + bh, int(np.ceil(max(pyc))) + 1)
            if wx1 <= wx0 or wy1 <= wy0:
                continue
            key = (r.image_id, wx0, wy0, wx1, wy1)
            m = mcache.get(key)
            if m is None:
                sub_px = np.arange(wx0, wx1) + 0.5
                sub_py = np.arange(wy0, wy1) + 0.5
                gxx, gyy = np.meshgrid(sub_px, sub_py)
                sgx, sgy = CRS.pixel_to_geo(tgt_gt_b, gxx.ravel(), gyy.ravel())
                if r.srs != t_srs:
                    sx, sy, ok = CRS.transform_points(sgx, sgy, t_srs, r.srs)
                else:
                    sx, sy, ok = sgx, sgy, np.ones(sgx.shape, dtype=bool)
                ppx, ppy = CRS.geo_to_pixel(list(r.gt), sx, sy)
                iyy, ixx = np.meshgrid(np.arange(wy0, wy1),
                                       np.arange(wx0, wx1), indexing="ij")
                flat = ((iyy - y0) * bw + (ixx - x0)).ravel()
                m = mcache[key] = (ppx, ppy, ok, flat)
            ppx, ppy, ok, flat = m
            dt = np.dtype(r.dtype)
            band = int(r.band)
            if band not in outs:
                outs[band] = np.full(bw * bh, init_nodata, dtype=dt)
            plane = np.frombuffer(r.payload, dtype=dt).reshape(r.hh, r.hw)
            glob_in = ok & (ppx >= 0) & (ppx < r.sw) & (ppy >= 0) & (ppy < r.sh)
            if alg != "nearest":  # separable convolution kernels
                kfn, radius = _KERNELS[alg]
                rad = int(np.ceil(radius))
                fx = np.clip(ppx - 0.5, 0, r.sw - 1)
                fy = np.clip(ppy - 0.5, 0, r.sh - 1)
                x0i = np.floor(fx).astype(np.int64)
                y0i = np.floor(fy).astype(np.int64)
                # ownership: anchor inside this tile's halo-less window
                own = ((x0i >= r.sx0) & (x0i < r.sx0 + r.sbw)
                       & (y0i >= r.sy0) & (y0i < r.sy0 + r.sbh) & glob_in)
                if not own.any():
                    continue
                o = own
                fxo, fyo = fx[o], fy[o]
                x0o, y0o = x0i[o], y0i[o]
                p = plane.astype(np.float64)
                acc = np.zeros(fxo.shape, dtype=np.float64)
                wsum = np.zeros(fxo.shape, dtype=np.float64)
                for dy in range(-rad + 1, rad + 1):
                    yy = np.clip(y0o + dy, 0, r.sh - 1)
                    wy = kfn(fyo - (y0o + dy))
                    for dx in range(-rad + 1, rad + 1):
                        xx = np.clip(x0o + dx, 0, r.sw - 1)
                        wk = kfn(fxo - (x0o + dx)) * wy
                        acc += p[yy - r.hy0, xx - r.hx0] * wk
                        wsum += wk
                v = acc / np.where(wsum == 0, 1.0, wsum)
                if np.issubdtype(dt, np.integer):
                    v = np.clip(np.floor(v + 0.5), np.iinfo(dt).min, np.iinfo(dt).max)
                outs[band][flat[o]] = v.astype(dt)
            else:  # nearest (GDAL warp default)
                ix = np.floor(ppx).astype(np.int64)
                iy = np.floor(ppy).astype(np.int64)
                own = ((ix >= r.sx0) & (ix < r.sx0 + r.sbw)
                       & (iy >= r.sy0) & (iy < r.sy0 + r.sbh) & glob_in)
                if not own.any():
                    continue
                outs[band][flat[own]] = plane[iy[own] - r.hy0, ix[own] - r.hx0]

        bands = sorted(outs)
        return pd.DataFrame({
            "image_id": ["warped"] * len(bands), "band": bands,
            "level": [0] * len(bands),
            "block_x": [bx] * len(bands), "block_y": [by] * len(bands),
            "x0": [x0] * len(bands), "y0": [y0] * len(bands),
            "bw": [bw] * len(bands), "bh": [bh] * len(bands),
            "w": [tw] * len(bands), "h": [th] * len(bands),
            "dtype": [str(outs[b].dtype) for b in bands],
            "payload": [outs[b].reshape(bh, bw).tobytes() for b in bands],
            "caption": [cap] * len(bands),
        })

    # CPU-bound Python (inverse mapping per pixel): width by the
    # keyed-stage rule, at most one task a block, and never repartition(0)
    from godal_spark.plans.skew import adaptive_parallelism

    nblocks = ((tw + block - 1) // block) * ((th + block - 1) // block)
    n_render = max(1, min(nblocks, adaptive_parallelism(pairs)))
    pairs = pairs.repartition(n_render, "block_x", "block_y")
    out_tiles = pairs.groupBy("block_x", "block_y").applyInPandas(render, schema=TILE_SCHEMA)
    out_tiles = (out_tiles.withColumn("gt", F.array(*[F.lit(v) for v in tgt_gt_b]))
                 .withColumn("srs", F.lit(t_srs)))
    if into_tiles is not None:
        # untouched blocks never cross into Python
        keep = into_tiles.join(covered, ["block_x", "block_y"], "left_anti")
        out_tiles = out_tiles.unionByName(keep, allowMissingColumns=True)
    return out_tiles
