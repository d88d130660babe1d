"""Band statistics + histogram with GDAL cache semantics
(reference godal.go:436-542, 1155-1163; statistics.go; histogram.go).

Golden contracts (godal_test.go:428-478, 4080-4165):
  * GetStatistics: returns (stats, ok=False) when nothing cached; exact
    ComputeStatistics populates the exact cache; approximate compute
    populates ONLY the approximate cache (GetStatistics() stays empty,
    GetStatistics(Approximate()) hits).
  * ComputeStatistics excludes nodata (min 0.12 not -1); all-nodata
    errors; Approximate() samples every ceil(sqrt(n_block_rows))-th
    block row (pinned: 5x5 with row blocks → rows 0,2,4 → mean 2.00,
    std 1.59 vs exact 2.12/1.32).
  * Histogram: default 256 buckets [-0.5, 255.5]; Intervals(n,min,max);
    IncludeOutOfRange folds outside values into the end buckets.

Distributed shape: per-tile numpy partials inside one Arrow batch →
JVM groupBy combine (map-side partial agg); the stats cache is a tiny
keyed table (an Iceberg side table in production; a dict here, the
storage is behind this module's API).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


@dataclass
class Statistics:
    min: float = 0.0
    max: float = 0.0
    mean: float = 0.0
    std: float = 0.0
    approximate: bool = False


class StatsCache:
    """(image_id, band, approximate) → Statistics. GetStatistics returns
    the exact entry for approximate=False requests, and either entry for
    Approximate() requests (GDAL: exact stats satisfy approx queries)."""

    def __init__(self):
        self._d: dict[tuple[str, int, bool], Statistics] = {}

    def get(self, image_id: str, band: int, approximate: bool = False):
        if (image_id, band, False) in self._d:
            return self._d[(image_id, band, False)], True
        if approximate and (image_id, band, True) in self._d:
            return self._d[(image_id, band, True)], True
        return Statistics(), False

    def set(self, image_id: str, band: int, stats: Statistics):
        self._d[(image_id, band, stats.approximate)] = stats

    def clear(self, image_id: str | None = None):
        if image_id is None:
            self._d.clear()
        else:
            self._d = {k: v for k, v in self._d.items() if k[0] != image_id}


def compute_statistics(tiles: DataFrame, *, nodata: float | None = None,
                       approximate: bool = False) -> DataFrame:
    """Per (image_id, band): n, min, max, mean, std (population).

    approximate=True samples every r-th block row, r = isqrt(rows of
    blocks) — the reference's decimated-scan behavior. All-nodata images
    produce NULL stats rows (caller raises, matching the error contract).
    """
    t = tiles
    if approximate:
        rows = tiles.groupBy("image_id", "band").agg(
            (F.max("block_y") + 1).alias("nrows"))
        t = tiles.join(rows, ["image_id", "band"])
        t = t.filter(F.col("block_y") % F.floor(F.sqrt(F.col("nrows"))).cast("int") == 0)

    nd = nodata

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "band": [], "n": [], "s": [], "ss": [],
                   "mn": [], "mx": []}
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)) \
                    .reshape(r.bh, r.bw).astype(np.float64)
                if nd is not None:
                    a = a[a != nd]
                out["image_id"].append(r.image_id)
                out["band"].append(r.band)
                out["n"].append(int(a.size))
                out["s"].append(float(a.sum()) if a.size else 0.0)
                out["ss"].append(float((a * a).sum()) if a.size else 0.0)
                out["mn"].append(float(a.min()) if a.size else None)
                out["mx"].append(float(a.max()) if a.size else None)
            yield pd.DataFrame(out)

    p = t.mapInPandas(partials, schema=(
        "image_id string, band int, n bigint, s double, ss double, "
        "mn double, mx double"))
    agg = p.groupBy("image_id", "band").agg(
        F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("ss").alias("ss"),
        F.min("mn").alias("min"), F.max("mx").alias("max"))
    return agg.selectExpr(
        "image_id", "band", "n", "min", "max",
        "CASE WHEN n > 0 THEN s / n END AS mean",
        "CASE WHEN n > 0 THEN sqrt(ss / n - (s / n) * (s / n)) END AS std")


def compute_statistics_single(tiles: DataFrame, image_id: str, band: int = 0, *,
                              nodata: float | None = None,
                              approximate: bool = False,
                              cache: StatsCache | None = None) -> Statistics:
    """Band.ComputeStatistics for one band; errors on all-nodata
    (godal_test.go:4166-4177); populates the cache like the reference."""
    row = compute_statistics(
        tiles.filter((F.col("image_id") == image_id) & (F.col("band") == band)),
        nodata=nodata, approximate=approximate).first()
    if row is None or row["n"] == 0 or row["min"] is None:
        raise ValueError(f"ComputeStatistics: no valid pixels for {image_id}/b{band}")
    st = Statistics(row["min"], row["max"], row["mean"], row["std"], approximate)
    if cache is not None:
        cache.set(image_id, band, st)
    return st


# ---------------------------------------------------------------------------
# histogram
# ---------------------------------------------------------------------------

@dataclass
class HistogramResult:
    mins: np.ndarray
    maxs: np.ndarray
    counts: np.ndarray

    def __len__(self):
        return len(self.counts)

    def bucket(self, i: int):
        return float(self.mins[i]), float(self.maxs[i]), int(self.counts[i])


def histogram(tiles: DataFrame, *, buckets: int = 256, vmin: float = -0.5,
              vmax: float = 255.5, include_out_of_range: bool = False,
              approximate: bool = False, nodata: float | None = None) -> DataFrame:
    """Per (image_id, band, bucket) counts — two-phase (tile partial
    bincount + JVM sum), the plan the reference's single pass can't have."""
    t = tiles
    if approximate:
        rows = tiles.groupBy("image_id", "band").agg((F.max("block_y") + 1).alias("nrows"))
        t = tiles.join(rows, ["image_id", "band"])
        t = t.filter(F.col("block_y") % F.floor(F.sqrt(F.col("nrows"))).cast("int") == 0)
    nb, lo, hi, oor, nd = buckets, vmin, vmax, include_out_of_range, nodata
    width = (hi - lo) / nb

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "band": [], "bucket": [], "n": []}
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).astype(np.float64)
                if nd is not None:
                    a = a[a != nd]
                idx = np.floor((a - lo) / width).astype(np.int64)
                if oor:
                    idx = np.clip(idx, 0, nb - 1)
                else:
                    keep = (idx >= 0) & (idx < nb)
                    idx = idx[keep]
                counts = np.bincount(idx, minlength=nb)
                for b in np.nonzero(counts)[0]:
                    out["image_id"].append(r.image_id)
                    out["band"].append(r.band)
                    out["bucket"].append(int(b))
                    out["n"].append(int(counts[b]))
            yield pd.DataFrame(out)

    p = t.mapInPandas(partials, schema="image_id string, band int, bucket int, n bigint")
    agg = p.groupBy("image_id", "band", "bucket").agg(F.sum("n").alias("count"))
    return agg.withColumn("bucket_min", F.lit(lo) + F.col("bucket") * width) \
              .withColumn("bucket_max", F.lit(lo) + (F.col("bucket") + 1) * width)


def histogram_single(tiles: DataFrame, image_id: str, band: int = 0,
                     **kw) -> HistogramResult:
    nb = kw.get("buckets", 256)
    lo = kw.get("vmin", -0.5)
    hi = kw.get("vmax", 255.5)
    width = (hi - lo) / nb
    rows = histogram(
        tiles.filter((F.col("image_id") == image_id) & (F.col("band") == band)),
        **kw).collect()
    counts = np.zeros(nb, dtype=np.int64)
    for r in rows:
        counts[r["bucket"]] = r["count"]
    mins = lo + np.arange(nb) * width
    return HistogramResult(mins, mins + width, counts)
