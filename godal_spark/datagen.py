"""Deterministic synthetic fixtures (seed 42) per FIXTURES.md.

Two corpora:
  1. the geospatial correctness corpus (images + footprints), pixel
     content fully specified by formula so reference goldens reproduce
     without GDAL (FIXTURES.md §1-§2);
  2. scale-parameterized tables for bench.py — N images with mixed
     formats and a footprint grid with a configurable hot-cell cluster
     (skew exercise, SURVEY.md §4 custom rule 1).

Everything is generated distributed (spark.range → mapInPandas): the
driver never holds the corpus, so the same generator runs at bench scale.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from godal_spark.functions import codecs

SEED = 42

IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                 "caption string, phash long, gt array<double>, srs string, nodata double")

FOOTPRINTS_SCHEMA = "fid long, geometry binary, foo string, srs string"


# ---------------------------------------------------------------------------
# pixel formulas (FIXTURES.md §1)
# ---------------------------------------------------------------------------

def pixels_ramp(w: int, h: int) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return ((y * w + x) % 256).astype(np.uint8)


def pixels_const3(w: int, h: int) -> np.ndarray:
    out = np.zeros((h, w, 3), dtype=np.uint8)
    out[:, :, 1] = 10
    out[:, :, 2] = 20
    return out


def pixels_diag(n: int = 8) -> np.ndarray:
    out = np.full((n, n), 64, dtype=np.uint8)
    np.fill_diagonal(out, 128)
    return out


def pixels_maxxy(w: int = 10, h: int = 10) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return np.maximum(x, y).astype(np.uint8)


STATS_GRID = np.array(
    [-1, -1, -1, 0.23, 4.04, 3.96, 1.8, 2.5, 1.31, 0.8, 0.12, 3.43, 0.23,
     3.31, 3.19, 2.09, 3.25, 3.21, 1.04, 2.3, 3.83, 0.97, 0.69, -1, -1],
    dtype=np.float64).reshape(5, 5)  # nodata = -1 (godal_test.go:4081-4088)


def _phash(*params) -> int:
    dig = hashlib.sha256(("|".join(map(str, params))).encode()).digest()
    return int.from_bytes(dig[:8], "little", signed=True)


# ---------------------------------------------------------------------------
# scale-parameterized images table (bench + scaling runs)
# ---------------------------------------------------------------------------

def synth_images(spark: SparkSession, n: int, *, partitions: int | None = None,
                 max_dim: int = 96) -> DataFrame:
    """n deterministic images; content/format/size derived from the id only
    so any executor can regenerate any row (seed 42 ⇒ id-hash params).

    Geospatial placement: images are scattered over a lon/lat window with
    a deliberate hot spot — ~20% of images land inside one 1-degree cell
    (the "dense urban" skew case the north_rule requires handling).
    """
    if partitions is None:
        partitions = max(32, n // 20000)
    base = spark.range(0, n, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt",
                                    "caption", "phash", "gt", "srs", "nodata")}
            for i in ids:
                i = int(i)
                rng = np.random.default_rng(SEED + i)
                w = 16 + int(rng.integers(0, max_dim - 15))
                h = 16 + int(rng.integers(0, max_dim - 15))
                kind = i % 3
                fmt = ("raw8", "png", "jpeg")[i % 3]
                if kind == 0:
                    arr = pixels_ramp(w, h)
                elif kind == 1:
                    arr = ((np.add.outer(np.arange(h), np.arange(w)) * (1 + i % 7)) % 256).astype(np.uint8)
                else:
                    arr = pixels_const3(w, h)
                buf = codecs.encode(arr, fmt)
                # placement: 20% hot cell at (10..11E, 45..46N), rest spread
                if i % 5 == 0:
                    lon = 10.0 + (i % 997) / 997.0
                    lat = 45.0 + ((i * 31) % 991) / 991.0
                else:
                    lon = -170.0 + (i * 2654435761 % 2**32) / 2**32 * 340.0
                    lat = -80.0 + (i * 40503 % 65536) / 65536.0 * 160.0
                px = 0.001
                gt = [lon, px, 0.0, lat + h * px, 0.0, -px]
                rows["image_id"].append(f"img_{i:08d}")
                rows["bytes"].append(buf)
                rows["w"].append(w)
                rows["h"].append(h)
                rows["fmt"].append(fmt)
                rows["caption"].append(f"caption for img_{i} at ({lon:.4f},{lat:.4f})")
                rows["phash"].append(_phash("img", i, w, h, fmt))
                rows["gt"].append(gt)
                rows["srs"].append("EPSG:4326")
                rows["nodata"].append(None)
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


def synth_footprints(spark: SparkSession, n: int, *, partitions: int = 8) -> DataFrame:
    """Unit-square-ish footprint polygons; ~25% cluster inside the hot cell.

    Shaped like testdata/test.geojson features (polygon + string attr foo).
    """
    base = spark.range(0, n, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import geom as G
        for pdf in batches:
            rows = {k: [] for k in ("fid", "geometry", "foo", "srs")}
            for i in pdf["id"].to_numpy():
                i = int(i)
                if i % 4 == 0:  # hot cluster, overlapping the image hot cell
                    cx = 10.0 + (i % 89) / 89.0
                    cy = 45.0 + ((i * 13) % 97) / 97.0
                    s = 0.02
                else:
                    cx = -170.0 + (i * 2246822519 % 2**32) / 2**32 * 340.0
                    cy = -80.0 + (i * 3266489917 % 2**32) / 2**32 * 160.0
                    s = 0.1 + (i % 11) * 0.05
                g = G.box(cx - s, cy - s, cx + s, cy + s)
                rows["fid"].append(i)
                rows["geometry"].append(G.to_wkb(g))
                rows["foo"].append("bar" if i % 2 == 0 else "baz")
                rows["srs"].append("EPSG:4326")
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, schema=FOOTPRINTS_SCHEMA)


def canonical_footprints(spark: SparkSession) -> DataFrame:
    """Exactly testdata/test.geojson: two identical unit squares
    [100,0,101,1], foo = bar / baz (bounds golden godal_test.go:2715)."""
    from godal_spark.functions import geom as G
    sq = G.to_wkb(G.box(100.0, 0.0, 101.0, 1.0))
    pdf = pd.DataFrame({
        "fid": [0, 1],
        "geometry": [sq, sq],
        "foo": ["bar", "baz"],
        "srs": ["EPSG:4326", "EPSG:4326"],
    })
    return spark.createDataFrame(pdf, schema=FOOTPRINTS_SCHEMA)


def image_row(image_id: str, arr: np.ndarray, fmt: str = "raw8",
              gt=None, srs: str = "EPSG:4326", nodata=None, caption: str | None = None) -> dict:
    """One images-table row from a numpy array (test helper)."""
    h, w = arr.shape[:2]
    return {
        "image_id": image_id,
        "bytes": codecs.encode(arr, fmt),
        "w": w, "h": h, "fmt": fmt,
        "caption": caption if caption is not None else f"caption for {image_id}",
        "phash": _phash(image_id, w, h, fmt),
        "gt": [float(v) for v in gt] if gt is not None else None,
        "srs": srs,
        "nodata": float(nodata) if nodata is not None else None,
    }


def images_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    # NOTE r6: createDataFrame slices even a 1-row frame into
    # defaultParallelism near-empty partitions, but a coalesce here
    # measured NEUTRAL-to-slightly-negative interleaved (the ~30 empty
    # Arrow tasks run concurrently, so the wall is one worker round-trip
    # either way, while merged slices serialize) — left as-is.
    return spark.createDataFrame(pd.DataFrame(rows), schema=IMAGES_SCHEMA)
