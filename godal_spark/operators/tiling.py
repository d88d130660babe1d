"""Block/tile assignment + overview pyramid — the engine's row multiplier.

Reference semantics:
  * BlockIterator (structure.go:30-64): scanline order (y outer, x inner),
    nx = ceil(w/bw), ny = ceil(h/bh), edge blocks clipped via
    actualBlockSize (structure.go:97-114). Golden: 63x65 @32x32 → 6
    blocks (godal_test.go:1037-1094).
  * BuildOverviews auto-level loop (godal.go:1093-1116): minSize defaults
    to max(blockW, blockH); lvl starts at 1 and doubles while
    sx > minSize or sy > minSize with sx,sy integer-halved each step;
    any explicit level < 2 errors. Golden: 2000x2000 @256 → 3 levels
    (godal_test.go:2012-2014). Default resampling Average (godal.go:1088).

Spark design (scale notes):
  * The block grid is pure built-in arithmetic + two nested explodes —
    stays entirely inside whole-stage codegen; no Python, no shuffle.
    At 10^12 images the explode is a flatMap: linear, partition-local.
  * Tile payload extraction decodes each image ONCE per row inside an
    Arrow-batched mapInPandas and slices all its blocks — the batched
    FFI analogue of the reference's block cache (README.md:18-38).
  * Overview build is an iterative tile reduce: level 2L tiles group
    2x2 tiles of level L → applyInPandas downsample. Each step is one
    shuffle on (image_id, band, block-parent); data volume shrinks 4x
    per level so the reduce chain costs ~1/3 of the base scan.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from godal_spark.functions import codecs

# ---------------------------------------------------------------------------
# pure-python reference implementation (unit-test oracle, driver-side plans)
# ---------------------------------------------------------------------------


def block_grid_list(w: int, h: int, bw: int, bh: int) -> list[tuple[int, int, int, int, int, int]]:
    """[(block_x, block_y, x0, y0, width, height)] in scanline order."""
    if min(w, h, bw, bh) <= 0:
        raise ValueError("all sizes must be strictly positive")
    nx = (w + bw - 1) // bw
    ny = (h + bh - 1) // bh
    out = []
    for j in range(ny):
        for i in range(nx):
            out.append((i, j, i * bw, j * bh,
                        min(bw, w - i * bw), min(bh, h - j * bh)))
    return out


def overview_levels(w: int, h: int, min_size: int, explicit: Iterable[int] | None = None) -> list[int]:
    """Power-of-2 level factors, exact reference loop (godal.go:1104-1116)."""
    if explicit is not None:
        levels = list(explicit)
        for lv in levels:
            if lv < 2:
                raise ValueError(f"cannot compute overview of level {lv}")
        return levels
    levels = []
    lvl, sx, sy = 1, w, h
    while sx > min_size or sy > min_size:
        lvl *= 2
        levels.append(lvl)
        sx //= 2
        sy //= 2
    return levels


def overview_size(w: int, h: int, level: int) -> tuple[int, int]:
    """Overview dims at a level factor (GDAL ceil convention)."""
    return (w + level - 1) // level, (h + level - 1) // level


# ---------------------------------------------------------------------------
# Spark: block grid (metadata only — built-ins, codegen'd, no Python)
# ---------------------------------------------------------------------------


def with_block_grid(df: DataFrame, w: str | Column = "w", h: str | Column = "h",
                    bw: int = 256, bh: int = 256) -> DataFrame:
    """Explode one row per block: adds block_x, block_y, x0, y0, bw, bh.

    Scanline order is encoded in (block_y, block_x) — sort on them to
    reproduce BlockIterator order exactly.
    """
    wc = F.col(w) if isinstance(w, str) else w
    hc = F.col(h) if isinstance(h, str) else h
    nx = F.floor((wc + bw - 1) / bw).cast("int")
    ny = F.floor((hc + bh - 1) / bh).cast("int")
    df = (df
          .withColumn("block_y", F.explode(F.sequence(F.lit(0), ny - 1)))
          .withColumn("block_x", F.explode(F.sequence(F.lit(0), nx - 1)))
          .withColumn("x0", (F.col("block_x") * bw).cast("int"))
          .withColumn("y0", (F.col("block_y") * bh).cast("int"))
          .withColumn("bw", F.least(F.lit(bw), (wc - F.col("x0")).cast("int")))
          .withColumn("bh", F.least(F.lit(bh), (hc - F.col("y0")).cast("int"))))
    return df


def with_overview_levels(df: DataFrame, w: str = "w", h: str = "h",
                         min_size: int = 256) -> DataFrame:
    """Adds ``levels: array<int>`` — the auto-computed pyramid plan.

    Pure built-ins: k-th level (k≥1) exists iff shiftright(w, k-1) > m
    or shiftright(h, k-1) > m — identical to the reference's halving
    loop since Go's integer halving chain equals bit-shift.
    """
    # Closed integer form (guide §1.2 step 2 — per-task work). The level
    # predicate `(w >> (k-1)) > m OR (h >> (k-1)) > m` is monotone
    # decreasing in k, so the level set is contiguous 1..kmax with
    # kmax = bitlen(dim div (m+1)) = floor(log2(dim div (m+1))) + 1 per
    # dimension (0 when dim <= m). That replaces an interpreted 31-step
    # filter scan — and the original POWER-of-double form it already
    # replaced measured 6x slower on a 200k-image plan (3.9 s -> 0.6 s
    # for the overview_tiles rollup at sf1.0; the expression is also
    # evaluated twice, once in the Generate's size()>0 pre-filter, once
    # in the Project). floor/log2 double math is exact here: dim/(m+1)
    # sits >= 1/(m+1) away from any wrong integer, and log2 of an exact
    # int is >= ~1/(x ln2) away from any wrong integer — both far above
    # double rounding error for 32-bit dims.
    min_size = int(min_size)
    mp1 = min_size + 1

    def _kmax(c: str) -> str:
        return (f"(CASE WHEN {c} > {min_size} THEN "
                f"cast(floor(log2(floor({c} / {mp1}))) + 1 as int) "
                f"ELSE 0 END)")

    # at most 31 levels; the factor 2^k is a bigint shift clamped to
    # Int.MaxValue, since 2^31 overflows int
    n = f"least(31, greatest({_kmax(w)}, {_kmax(h)}))"
    return df.withColumn("levels", F.expr(
        f"CASE WHEN {n} < 1 THEN cast(array() as array<int>) "
        f"ELSE transform(sequence(1, {n}), "
        f"k -> cast(least(shiftleft(1L, k), 2147483647L) as int)) END"))


# ---------------------------------------------------------------------------
# Spark: tile payload explode (Arrow-batched decode + slice)
# ---------------------------------------------------------------------------

TILE_SCHEMA = ("image_id string, band int, level int, block_x int, block_y int, "
               "x0 int, y0 int, bw int, bh int, w int, h int, "
               "dtype string, payload binary, caption string")


def explode_tiles(images: DataFrame, bw: int = 256, bh: int = 256) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, caption, ...) → tile rows.

    Decode once per image inside the Arrow batch, then slice every block —
    the mapInPandas analogue of GDAL's block-cache-friendly scan
    (doc_test.go:52-75). Level is 0 (full resolution).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-(w,h) grid metadata cached as numpy columns: bench/catalog
        # tables repeat a few dozen dimension pairs across millions of
        # images, and the per-block python appends this replaces were
        # ~40% of the decode stage's CPU (14 list appends per tile row)
        grid_cache: dict = {}
        for pdf in batches:
            meta_parts = []          # (nblk int arrays) per (image, band)
            ids, dts, caps = [], [], []
            payloads: list = []
            for rec in pdf.itertuples(index=False):
                arr = codecs.decode(rec.bytes, rec.fmt, rec.w, rec.h)
                if arr.ndim == 2:
                    planes = [arr]
                else:
                    planes = [arr[:, :, b] for b in range(arr.shape[2])]
                key = (rec.w, rec.h)
                g = grid_cache.get(key)
                if g is None:
                    gl = block_grid_list(rec.w, rec.h, bw, bh)
                    g = grid_cache[key] = np.array(gl, dtype=np.int64).T
                cap = getattr(rec, "caption", None)
                for band, plane in enumerate(planes):
                    nblk = g.shape[1]
                    meta_parts.append((g, band, rec.w, rec.h))
                    ids.extend([rec.image_id] * nblk)
                    dts.extend([str(plane.dtype)] * nblk)
                    caps.extend([cap] * nblk)
                    payloads.extend(
                        np.ascontiguousarray(
                            plane[y0:y0 + th, x0:x0 + tw]).tobytes()
                        for (_, _, x0, y0, tw, th) in zip(*g))
            if not meta_parts:
                yield pd.DataFrame({k: [] for k in (
                    "image_id", "band", "level", "block_x", "block_y",
                    "x0", "y0", "bw", "bh", "w", "h",
                    "dtype", "payload", "caption")})
                continue
            gs = np.concatenate([p[0] for p in meta_parts], axis=1)
            reps = np.array([p[0].shape[1] for p in meta_parts])
            bands = np.repeat(np.array([p[1] for p in meta_parts]), reps)
            ws = np.repeat(np.array([p[2] for p in meta_parts]), reps)
            hs = np.repeat(np.array([p[3] for p in meta_parts]), reps)
            yield pd.DataFrame({
                "image_id": ids, "band": bands,
                "level": np.zeros(len(bands), dtype=np.int64),
                "block_x": gs[0], "block_y": gs[1],
                "x0": gs[2], "y0": gs[3], "bw": gs[4], "bh": gs[5],
                "w": ws, "h": hs,
                "dtype": dts, "payload": payloads, "caption": caps})

    return images.mapInPandas(gen, schema=TILE_SCHEMA)


def clear_overviews(tiles: DataFrame) -> DataFrame:
    """ClearOverviews (godal.go:1139-1147) = drop level > 0 rows; on an
    ACID table this is `DELETE FROM tiles WHERE level > 0`."""
    return tiles.filter(F.col("level") == 0)


def build_overview_level(tiles: DataFrame, factor_from_prev: int = 2,
                         alg: str = "average", block: int = 256) -> DataFrame:
    """One pyramid reduce step: tiles at level L → tiles at level 2L.

    Group 2x2 neighboring tiles (parent = floor(child/2)), mosaic them,
    2x2-downsample, emit the parent tile. The shuffle key
    (image_id, band, parent_x, parent_y) is exactly the output tile id,
    so the write after this stage needs no further repartition.
    """
    from godal_spark.functions.resampling import resample

    parent = (tiles
              .withColumn("pbx", F.floor(F.col("block_x") / 2).cast("int"))
              .withColumn("pby", F.floor(F.col("block_y") / 2).cast("int")))
    # declare the reduce parallelism: the stage is per-group Python
    # (mosaic + downsample), so AQE's SIZE-based coalescing is wrong for
    # it — a few MB of tiles coalesce to 1-2 tasks and serialize the
    # kernel (measured 19 s -> ~2 s on a 4k-tile level; same lesson as
    # warp's render, see PLANS.md). Explicit-N keyed repartition is
    # exempt from coalescing and satisfies applyInPandas's required
    # distribution — no second exchange. N derives from the input's own
    # partitioning (plans.skew.adaptive_parallelism) so a near-empty
    # input doesn't pay a constant 2x-cores of Python task round-trips
    # (each ~0.22 s of a slot while every task re-read pyspark.zip's
    # directory, ~0.05 s with the worker daemon).
    from godal_spark.plans.skew import adaptive_parallelism

    parent = parent.repartition(adaptive_parallelism(parent),
                                "image_id", "band", "pbx", "pby")

    def reduce_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, band, pbx, pby = key
        level = int(pdf["level"].iloc[0]) * 2 if int(pdf["level"].iloc[0]) else 2
        w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
        prev_level = max(1, level // 2)
        pw, ph = overview_size(w, h, prev_level)
        dt = np.dtype(pdf["dtype"].iloc[0])
        # mosaic the (up to) 2x2 children in child-tile pixel space
        xs0 = int(pdf["block_x"].min()) * block
        ys0 = int(pdf["block_y"].min()) * block
        xs1 = max(int(r.block_x) * block + int(r.bw) for r in pdf.itertuples())
        ys1 = max(int(r.block_y) * block + int(r.bh) for r in pdf.itertuples())
        mosaic = np.zeros((ys1 - ys0, xs1 - xs0), dtype=dt)
        for r in pdf.itertuples(index=False):
            arr = np.frombuffer(r.payload, dtype=dt).reshape(r.bh, r.bw)
            mosaic[r.block_y * block - ys0:r.block_y * block - ys0 + r.bh,
                   r.block_x * block - xs0:r.block_x * block - xs0 + r.bw] = arr
        ow = (mosaic.shape[1] + 1) // 2
        oh = (mosaic.shape[0] + 1) // 2
        out = resample(mosaic, ow, oh, alg=alg, path="overview", out_dtype=dt)
        lw, lh = overview_size(w, h, level)
        x0, y0 = pbx * block, pby * block
        return pd.DataFrame({
            "image_id": [image_id], "band": [band], "level": [level],
            "block_x": [pbx], "block_y": [pby],
            "x0": [x0], "y0": [y0],
            "bw": [out.shape[1]], "bh": [out.shape[0]],
            "w": [w], "h": [h],
            "dtype": [str(dt)], "payload": [out.tobytes()],
            "caption": [pdf["caption"].iloc[0]],
        })

    return parent.groupBy("image_id", "band", "pbx", "pby").applyInPandas(
        reduce_group, schema=TILE_SCHEMA)


def build_overviews(tiles_l0: DataFrame, min_size: int = 256,
                    alg: str = "average", block: int = 256,
                    max_levels: int = 24) -> DataFrame:
    """Full pyramid: union of all levels per the reference auto-level plan.

    Returns level>0 tiles only (level 0 stays in the source table),
    mirroring ClearOverviews = DELETE WHERE level > 0 (godal.go:1139-1147).
    Each step reads only the previous level — a geometric-decay chain of
    narrow shuffles, not a rescan of the base.
    """
    # global depth decided driver-side from one column-pruned metadata agg
    mx = tiles_l0.agg(F.max("w").alias("w"), F.max("h").alias("h")).first()
    if mx["w"] is None:
        return tiles_l0.limit(0)
    n_levels = min(max_levels, len(overview_levels(int(mx["w"]), int(mx["h"]), min_size)))
    out = None
    cur = tiles_l0
    for k in range(1, n_levels + 1):
        # the reference plan admits level 2^k iff (w >> k-1) > minSize or
        # (h >> k-1) > minSize (godal.go:1104-1116) — filter BEFORE the
        # reduce so finished images drop out of the shuffle entirely
        need = (F.shiftright(F.col("w"), k - 1) > min_size) | \
               (F.shiftright(F.col("h"), k - 1) > min_size)
        nxt = build_overview_level(cur.filter(need), alg=alg, block=block)
        out = nxt if out is None else out.unionByName(nxt)
        cur = nxt
    return out if out is not None else tiles_l0.limit(0)


def cog_write(tiles: DataFrame, *, images_meta: DataFrame | None = None,
              tile_size: int = 256, compression: str = "deflate",
              quality: int = 95, predictor: int = 1) -> DataFrame:
    """The cogify sink (cogify/cogify-main.go:59-157): assemble each
    (image_id, band)'s level-0 + overview tile rows into REAL
    Cloud-Optimized GeoTIFF bytes (functions/tiff.py — tiled IFD chain,
    all metadata ahead of the pixel data, deflate by default;
    compression="jpeg" emits lossy JPEG tiles at `quality` — the
    web-imagery COG shape, uint8 bands only).

    Scale shape: one export task per (image_id, band) — the per-image
    gather documented for bounded-size images (the distributed
    representation IS the tile table; this operator is the export
    edge, and a 1000-executor run exports the catalog in parallel).
    `images_meta` (image_id, gt, srs) attaches GeoTIFF tags; an
    'EPSG:nnnn' srs lands in the GeoKeyDirectory.
    Returns (image_id, band, n_levels, nbytes, cog binary).
    """
    from godal_spark.functions import tiff as TF

    t = tiles
    if images_meta is not None:
        t = t.join(F.broadcast(images_meta.select("image_id", "gt", "srs")),
                   "image_id", "left")
    else:
        t = t.withColumn("gt", F.lit(None).cast("array<double>")) \
             .withColumn("srs", F.lit(None).cast("string"))

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, band = key
        w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
        dt = np.dtype(pdf["dtype"].iloc[0])
        levels = sorted({int(v) for v in pdf["level"]})
        arrs = []
        for lv in levels:
            lw, lh = overview_size(w, h, max(lv, 1))
            arr = np.zeros((lh, lw), dtype=dt)
            sub = pdf[pdf["level"] == lv]
            for r in sub.itertuples(index=False):
                a = np.frombuffer(r.payload, dt).reshape(r.bh, r.bw)
                arr[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = a
            arrs.append(arr)
        gt = pdf["gt"].iloc[0]
        gt = [float(v) for v in gt] if gt is not None else None
        srs = pdf["srs"].iloc[0]
        epsg = None
        if isinstance(srs, str) and srs.upper().startswith("EPSG:"):
            try:
                epsg = int(srs[5:])
            except ValueError:
                pass
        buf = TF.encode_cog(arrs, tile=(tile_size, tile_size),
                            compression=compression, gt=gt, epsg=epsg,
                            quality=quality, predictor=predictor)
        return pd.DataFrame({"image_id": [image_id], "band": [int(band)],
                             "n_levels": [len(arrs)],
                             "nbytes": [len(buf)], "cog": [buf]})

    from godal_spark.plans.skew import adaptive_parallelism

    return (t.repartition(adaptive_parallelism(t), "image_id", "band")
            .groupBy("image_id", "band")
            .applyInPandas(assemble,
                           schema="image_id string, band int, n_levels int, "
                                  "nbytes long, cog binary"))
