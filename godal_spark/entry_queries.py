"""Driver-contract queries: engine operators vs ANSI-SQL oracles.

Each entry runs the REAL engine path (tile explode, cell-indexed PIP
join, ring kNN, Arrow pixel aggregation ...) over deterministic inputs
derived from the driver's parquet tables; the paired oracle SQL
recomputes the same answer relationally in DuckDB. Derivation formulas
are integer arithmetic shared verbatim between both sides.

Conventions (driver compare is column-name + value-hash based):
  * every computed column aliased identically on both sides;
  * integer outputs cast to bigint, floats rounded (4-6 dp) on both
    sides with the SAME formula (e.g. population std via
    sum(v*v)/n - mean^2, not the builtin stddev, to keep bit parity);
  * row order irrelevant (driver sorts).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from godal_spark.functions import geom as G
from godal_spark.operators import knn as knn_op
from godal_spark.operators import pip as pip_op
from godal_spark.operators import rasterize as RZ
from godal_spark.operators import tiling

# ---------------------------------------------------------------------------
# shared deterministic derivations (SQL fragments used by BOTH sides)
# ---------------------------------------------------------------------------

# synthetic image metadata from `part`
IMG_W = "16 + p_partkey % 113"
IMG_H = "16 + (p_partkey * 7) % 97"
IMG_LON = "cast(-175.0 + (p_partkey % 350) as double)"
IMG_LAT = "cast(-85.0 + ((p_partkey * 13) % 170) as double)"

# synthetic points from `customer` / `supplier` (0.05 offset keeps points
# off integer box edges)
CUST_LON = "cast(((c_custkey * 7919) % 3600) as double) / 10.0 - 180.0 + 0.05"
CUST_LAT = "cast(((c_custkey * 104729) % 1700) as double) / 10.0 - 85.0 + 0.05"
SUPP_LON = "cast(((s_suppkey * 6151) % 3600) as double) / 10.0 - 180.0 + 0.05"
SUPP_LAT = "cast(((s_suppkey * 92821) % 1700) as double) / 10.0 - 85.0 + 0.05"

# 5x5 grid of nation boxes (disjoint, inset from the antimeridian/poles)
NB_MINX = "cast(-180 + (n_nationkey % 5) * 72 + 3 as double)"
NB_MINY = "cast(-90 + cast(floor(n_nationkey / 5) as bigint) * 36 + 4 as double)"
NB_W, NB_H = 60.0, 28.0

RASTER_SUBSET = "p_partkey % 40 = 0"  # pixel-level queries: ~n_part/40 images


_PYFILES_SENT: set[int] = set()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship godal_spark to Python workers via addPyFile.

    The driver process may import this repo from an arbitrary cwd; worker
    processes only see PYTHONPATH + the session's py-files, so register a
    zip of the package once per SparkContext (the --py-files mechanism,
    self-applied)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _PYFILES_SENT:
        return
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join("/tmp", "godal_spark_pyfiles.zip")
    sources = []
    for root, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    # REBUILD when any source is newer than the zip: a stale zip from a
    # previous session wins over PYTHONPATH in the worker's sys.path and
    # silently runs old code (round-3 bug: workers ran round-2 warp.py).
    newest_src = max(os.path.getmtime(p) for p in sources)
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in sorted(sources):
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        os.replace(tmp, zip_path)  # atomic vs concurrent sessions
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already registered on this context
    _PYFILES_SENT.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_workers_can_import(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _read_then_remove(df: DataFrame, tmp_dir: str) -> DataFrame:
    """df computed into executor memory (an eager localCheckpoint), then
    `tmp_dir`, which df reads, removed: a query that writes and reads
    back a scratch table leaves nothing in the temp dir."""
    import shutil

    out = df.localCheckpoint(eager=True)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out


def _spread(df: DataFrame) -> DataFrame:
    """Driver tables are ONE parquet file with ONE row group each, so any
    scan is a single task no matter the split config (guide §2.2/§6) —
    heavy downstream work (explodes, Arrow stages, interpreted HOFs)
    serializes on one core. Round-robin the (column-pruned) scan across
    the cores; no-op when the table already has enough splits."""
    from godal_spark.plans.skew import spread_small_scan

    return spread_small_scan(df)


def _images_meta(spark, sf_dir, where: str | None = None,
                 spread: bool = False) -> DataFrame:
    # spread=True parallelizes the one-split scan for callers whose
    # downstream compute is heavy (Arrow pixel stages, interpreted
    # HOFs); cheap codegen explodes (block_grid) measured FASTER
    # without the extra exchange, so it is opt-in per query.
    df = _t(spark, sf_dir, "part")
    if where:
        df = df.filter(where)
    df = df.selectExpr("cast(p_partkey as bigint) as image_id",
                       f"cast({IMG_W} as int) as w",
                       f"cast({IMG_H} as int) as h",
                       f"{IMG_LON} as lon", f"{IMG_LAT} as lat")
    return _spread(df) if spread else df


def _customer_points(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "customer").selectExpr(
        "cast(c_custkey as bigint) as pid",
        f"{CUST_LON} as lon", f"{CUST_LAT} as lat")


def _supplier_points(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "supplier").selectExpr(
        "cast(s_suppkey as bigint) as qid",
        f"{SUPP_LON} as lon", f"{SUPP_LAT} as lat")


def _nation_footprints(spark, sf_dir) -> DataFrame:
    """Nation boxes as a real WKB footprints table (engine side)."""
    nat = _t(spark, sf_dir, "nation").selectExpr(
        "cast(n_nationkey as bigint) as fid", "n_name",
        f"{NB_MINX} as minx", f"{NB_MINY} as miny",
        f"{NB_MINX} + {NB_W} as maxx", f"{NB_MINY} + {NB_H} as maxy",
        "case when n_nationkey % 2 = 0 then 'bar' else 'baz' end as foo")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["geometry"] = [
                G.to_wkb(G.box(r.minx, r.miny, r.maxx, r.maxy))
                for r in pdf.itertuples()]
            yield pdf

    return nat.mapInPandas(
        gen, schema="fid bigint, n_name string, minx double, miny double, "
                    "maxx double, maxy double, foo string, geometry binary")


_ORACLE_IMG = (f"SELECT cast(p_partkey as bigint) AS image_id, {IMG_W} AS w, "
               f"{IMG_H} AS h, {IMG_LON} AS lon, {IMG_LAT} AS lat FROM part")
_ORACLE_NB = (f"SELECT cast(n_nationkey as bigint) AS fid, n_name, {NB_MINX} AS minx, "
              f"{NB_MINY} AS miny, {NB_MINX} + {NB_W} AS maxx, {NB_MINY} + {NB_H} AS maxy, "
              "CASE WHEN n_nationkey % 2 = 0 THEN 'bar' ELSE 'baz' END AS foo FROM nation")
_ORACLE_CUST = (f"SELECT cast(c_custkey as bigint) AS pid, {CUST_LON} AS lon, "
                f"{CUST_LAT} AS lat FROM customer")
_ORACLE_SUPP = (f"SELECT cast(s_suppkey as bigint) AS qid, {SUPP_LON} AS lon, "
                f"{SUPP_LAT} AS lat FROM supplier")


# ---------------------------------------------------------------------------
# 1. block_grid — BlockIterator tile assignment (structure.go:30-64)
# ---------------------------------------------------------------------------

def q_block_grid(spark, sf_dir):
    img = _images_meta(spark, sf_dir)
    out = tiling.with_block_grid(img, bw=32, bh=32)
    return out.selectExpr("image_id", "cast(block_x as bigint) as block_x",
                          "cast(block_y as bigint) as block_y",
                          "cast(x0 as bigint) as x0", "cast(y0 as bigint) as y0",
                          "cast(bw as bigint) as bw", "cast(bh as bigint) as bh")


SQL_BLOCK_GRID = f"""
WITH img AS ({_ORACLE_IMG}),
g1 AS (SELECT image_id, w, h, unnest(range(0, cast(ceil(h / 32.0) AS bigint))) AS block_y FROM img),
g2 AS (SELECT image_id, w, h, block_y, unnest(range(0, cast(ceil(w / 32.0) AS bigint))) AS block_x FROM g1)
SELECT image_id, block_x, block_y, block_x * 32 AS x0, block_y * 32 AS y0,
       least(32, w - block_x * 32) AS bw, least(32, h - block_y * 32) AS bh
FROM g2
"""


# ---------------------------------------------------------------------------
# 2. overview_plan — BuildOverviews auto-level loop (godal.go:1104-1116)
# ---------------------------------------------------------------------------

def q_overview_plan(spark, sf_dir):
    img = _images_meta(spark, sf_dir)
    out = tiling.with_overview_levels(img, min_size=16)
    return out.selectExpr(
        "image_id", "cast(size(levels) as bigint) as n_levels",
        "cast(coalesce(try_element_at(levels, -1), 0) as bigint) as max_level")


SQL_OVERVIEW_PLAN = f"""
WITH img AS ({_ORACLE_IMG}),
ks AS (SELECT image_id, w, h, unnest(range(1, 32)) AS k FROM img),
lv AS (SELECT image_id, k FROM ks
       WHERE floor(w / pow(2, k - 1)) > 16 OR floor(h / pow(2, k - 1)) > 16)
SELECT i.image_id, count(lv.k) AS n_levels,
       coalesce(cast(pow(2, max(lv.k)) AS bigint), 0) AS max_level
FROM img i LEFT JOIN lv ON i.image_id = lv.image_id
GROUP BY i.image_id
"""


# ---------------------------------------------------------------------------
# 3. overview_tiles — pyramid tile-count rollup per level
# ---------------------------------------------------------------------------

def q_overview_tiles(spark, sf_dir):
    img = _images_meta(spark, sf_dir, spread=True)
    lv = tiling.with_overview_levels(img, min_size=16)
    lv = lv.withColumn("level", F.explode("levels"))
    lv = lv.selectExpr("image_id", "cast(level as bigint) as level",
                       "cast(ceil(w / cast(level as double) / 32.0) * "
                       "ceil(h / cast(level as double) / 32.0) as bigint) as n_tiles")
    return lv.groupBy("level").agg(
        F.count("*").cast("bigint").alias("n_images"),
        F.sum("n_tiles").cast("bigint").alias("n_tiles"))


SQL_OVERVIEW_TILES = f"""
WITH img AS ({_ORACLE_IMG}),
ks AS (SELECT image_id, w, h, unnest(range(1, 32)) AS k FROM img),
lv AS (SELECT image_id, cast(pow(2, k) AS bigint) AS level,
              cast(ceil(ceil(w / pow(2, k)) / 32.0) * ceil(ceil(h / pow(2, k)) / 32.0) AS bigint) AS n_tiles
       FROM ks WHERE floor(w / pow(2, k - 1)) > 16 OR floor(h / pow(2, k - 1)) > 16)
SELECT level, count(*) AS n_images, cast(sum(n_tiles) AS bigint) AS n_tiles FROM lv GROUP BY level
"""


# ---------------------------------------------------------------------------
# 4. pip_count — the headline cell-indexed point-in-polygon join
# ---------------------------------------------------------------------------

def q_pip_count(spark, sf_dir):
    pts = _customer_points(spark, sf_dir)
    fps = _nation_footprints(spark, sf_dir)
    joined = pip_op.pip_join(pts, fps, res=6, broadcast_footprints=True)
    return joined.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum("pid").cast("bigint").alias("sum_pid"))


SQL_PIP_COUNT = f"""
WITH pts AS ({_ORACLE_CUST}), nb AS ({_ORACLE_NB})
SELECT nb.n_name, count(*) AS n_points, cast(sum(pts.pid) AS bigint) AS sum_pid
FROM pts JOIN nb
  ON pts.lon >= nb.minx AND pts.lon <= nb.maxx
 AND pts.lat >= nb.miny AND pts.lat <= nb.maxy
GROUP BY nb.n_name
"""


# ---------------------------------------------------------------------------
# 5. knn — ring-expansion kNN join vs brute-force oracle
# ---------------------------------------------------------------------------

def q_knn(spark, sf_dir):
    q = _supplier_points(spark, sf_dir)
    p = _customer_points(spark, sf_dir)
    # res 6 (5.6° cells): ring block = 25 of 4096 cells — 16x more
    # selective than round 1's res 4, and the distance-bound guarantee
    # re-probes the rare queries whose kth neighbor lies further out
    out = knn_op.knn_join(q, p, k=3, q_id="qid", p_id="pid",
                          res=6, rings=2, broadcast_points=True)
    return out.selectExpr("qid", "cast(rank as bigint) as rank",
                          "neighbor_id", "round(dist, 6) as dist_r")


def q_knn_fine(spark, sf_dir):
    """kNN at res 9 (0.70° cells) where a bare rings=1 pass WOULD drop
    true neighbors — the distance-bound guarantee (re-probe + brute
    tiers, knn.py) makes the result exact anyway. Same brute-force
    oracle as q_knn."""
    q = _supplier_points(spark, sf_dir)
    p = _customer_points(spark, sf_dir)
    out = knn_op.knn_join(q, p, k=3, q_id="qid", p_id="pid",
                          res=9, rings=1, guarantee=True,
                          broadcast_points=True)
    return out.selectExpr("qid", "cast(rank as bigint) as rank",
                          "neighbor_id", "round(dist, 6) as dist_r")


SQL_KNN = f"""
WITH q AS ({_ORACLE_SUPP}), p AS ({_ORACLE_CUST}),
d AS (SELECT q.qid, p.pid,
             sqrt(pow(q.lon - p.lon, 2) + pow(q.lat - p.lat, 2)) AS dist
      FROM q CROSS JOIN p),
r AS (SELECT qid, pid, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, pid) AS rank
      FROM d)
SELECT qid, cast(rank AS bigint) AS rank, pid AS neighbor_id,
       round(dist, 6) AS dist_r
FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# 6. raster_stats — decode → tile → partial agg → final (nodata-free ramp)
#    (GetStatistics semantics, godal.go:470-542; statistics.go)
# ---------------------------------------------------------------------------

_PART_SCHEMA = ("image_id bigint, n_px bigint, s double, ss double, "
                "mn double, mx double")


def _ramp_tiles_partial(img: DataFrame) -> DataFrame:
    """Synthesize ramp pixels per image, tile 32x32, per-tile partials.

    This IS the engine pixel path: the 'decode' stage materializes each
    tile's numpy block (formula stands in for codec decode), partials are
    numpy reductions, the final combine is a JVM groupBy — map-side
    partial aggregation like Band.Histogram's two-phase plan.
    """
    grid = tiling.with_block_grid(img, bw=32, bh=32)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ids = np.empty(n, dtype=np.int64)
            npx = np.empty(n, dtype=np.int64)
            s = np.empty(n)
            ss = np.empty(n)
            mn = np.empty(n)
            mx = np.empty(n)
            for i, r in enumerate(pdf.itertuples(index=False)):
                y, x = np.mgrid[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw]
                v = ((y * r.w + x) % 256).astype(np.float64)
                ids[i] = r.image_id
                npx[i] = v.size
                s[i] = v.sum()
                ss[i] = (v * v).sum()
                mn[i] = v.min()
                mx[i] = v.max()
            yield pd.DataFrame({"image_id": ids, "n_px": npx, "s": s,
                                "ss": ss, "mn": mn, "mx": mx})

    return grid.mapInPandas(gen, schema=_PART_SCHEMA)


def q_raster_stats(spark, sf_dir):
    img = _images_meta(spark, sf_dir, where=RASTER_SUBSET, spread=True)
    part = _ramp_tiles_partial(img)
    agg = part.groupBy("image_id").agg(
        F.sum("n_px").cast("bigint").alias("n_px"),
        F.sum("s").alias("s"), F.sum("ss").alias("ss"),
        F.min("mn").alias("mn"), F.max("mx").alias("mx"))
    return agg.selectExpr(
        "image_id", "n_px", "mn AS px_min", "mx AS px_max",
        "round(s / n_px, 4) AS mean",
        "round(sqrt(ss / n_px - (s / n_px) * (s / n_px)), 4) AS std")


SQL_RASTER_STATS = f"""
WITH img AS (SELECT cast(p_partkey as bigint) AS image_id, {IMG_W} AS w, {IMG_H} AS h
             FROM part WHERE {RASTER_SUBSET}),
py AS (SELECT image_id, w, h, unnest(range(0, h)) AS y FROM img),
px AS (SELECT image_id, w, y, unnest(range(0, w)) AS x FROM py),
v AS (SELECT image_id, cast((y * w + x) % 256 AS double) AS v FROM px)
SELECT image_id, count(*) AS n_px, min(v) AS px_min, max(v) AS px_max,
       round(sum(v) / count(*), 4) AS mean,
       round(sqrt(sum(v * v) / count(*) - (sum(v) / count(*)) * (sum(v) / count(*))), 4) AS std
FROM v GROUP BY image_id
"""


# ---------------------------------------------------------------------------
# 7. histogram — two-phase bucket counts (godal.go:436-461, histogram.go)
# ---------------------------------------------------------------------------

def q_histogram(spark, sf_dir):
    img = _images_meta(spark, sf_dir, where=RASTER_SUBSET, spread=True)
    grid = tiling.with_block_grid(img, bw=32, bh=32)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cmat = [], []
            for r in pdf.itertuples(index=False):
                y, x = np.mgrid[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw]
                v = ((y * r.w + x) % 256).astype(np.int64)
                cmat.append(np.bincount((v >> 5).ravel(), minlength=8))
                ids.append(r.image_id)
            if not ids:
                yield pd.DataFrame({"image_id": [], "bucket": [], "n": []})
                continue
            # emit the (block x 8) count matrix with numpy (no per-bucket
            # python appends); zero buckets filtered in bulk
            cm = np.stack(cmat)
            nz = cm.ravel() > 0
            yield pd.DataFrame({
                "image_id": np.repeat(np.asarray(ids, dtype=np.int64), 8)[nz],
                "bucket": np.tile(np.arange(8, dtype=np.int64), len(ids))[nz],
                "n": cm.ravel()[nz].astype(np.int64)})

    part = grid.mapInPandas(gen, schema="image_id bigint, bucket bigint, n bigint")
    return part.groupBy("image_id", "bucket").agg(F.sum("n").cast("bigint").alias("n"))


SQL_HISTOGRAM = f"""
WITH img AS (SELECT cast(p_partkey as bigint) AS image_id, {IMG_W} AS w, {IMG_H} AS h
             FROM part WHERE {RASTER_SUBSET}),
py AS (SELECT image_id, w, h, unnest(range(0, h)) AS y FROM img),
px AS (SELECT image_id, w, y, unnest(range(0, w)) AS x FROM py)
SELECT image_id, cast(((y * w + x) % 256) // 32 AS bigint) AS bucket, count(*) AS n
FROM px GROUP BY image_id, bucket
"""


# ---------------------------------------------------------------------------
# 8. rasterize — burn nation boxes onto a 24x24 grid (center-point rule;
#    RasterizeGeometry semantics godal.go:2398-2428)
# ---------------------------------------------------------------------------

def q_rasterize(spark, sf_dir):
    fps = _nation_footprints(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"n_name": [], "n_burned": []}
            for r in pdf.itertuples(index=False):
                g = G.from_wkb(bytes(r.geometry))
                gminx, gminy = r.minx - 6.0, r.miny - 6.0
                pw = (r.maxx + 6.0 - gminx) / 24.0
                ph = (r.maxy + 6.0 - gminy) / 24.0
                xs = gminx + (np.arange(24) + 0.5) * pw
                ys = gminy + (np.arange(24) + 0.5) * ph
                gx, gy = np.meshgrid(xs, ys)
                burned = G.points_in_polygon(gx.ravel(), gy.ravel(), g).sum()
                out["n_name"].append(r.n_name)
                out["n_burned"].append(int(burned))
            yield pd.DataFrame(out)

    return fps.mapInPandas(gen, schema="n_name string, n_burned bigint")


SQL_RASTERIZE = f"""
WITH nb AS ({_ORACLE_NB}),
gy AS (SELECT n_name, minx, miny, maxx, maxy, unnest(range(0, 24)) AS j FROM nb),
gxy AS (SELECT n_name, minx, miny, maxx, maxy, j, unnest(range(0, 24)) AS i FROM gy),
c AS (SELECT n_name, minx, miny, maxx, maxy,
             (minx - 6.0) + (i + 0.5) * ((maxx + 6.0 - (minx - 6.0)) / 24.0) AS cx,
             (miny - 6.0) + (j + 0.5) * ((maxy + 6.0 - (miny - 6.0)) / 24.0) AS cy
      FROM gxy)
SELECT n_name, count(*) FILTER (WHERE cx >= minx AND cx <= maxx
                                  AND cy >= miny AND cy <= maxy) AS n_burned
FROM c GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# 8b. rasterize_tiles — the DISTRIBUTED tile-native burn: nation boxes on a
#     360x180 1° world grid, 64px tiles; per-tile burned-pixel counts
#     (Rasterize godal.go:2340-2396, tile plan rasterize.py:134)
# ---------------------------------------------------------------------------

def q_rasterize_tiles(spark, sf_dir):
    fps = _nation_footprints(spark, sf_dir)
    tiles = RZ.rasterize_tiles(fps, te=(-180.0, -90.0, 180.0, 90.0),
                               ts=(360, 180), bw=64, bh=64, init=0, burn=1)

    def cnt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "block_x": pdf["block_x"].astype("int64"),
                "block_y": pdf["block_y"].astype("int64"),
                "n_burned": [int(np.frombuffer(p, np.uint8).sum())
                             for p in pdf["payload"]]})

    return tiles.mapInPandas(
        cnt, schema="block_x bigint, block_y bigint, n_burned bigint")


SQL_RASTERIZE_TILES = f"""
WITH nb AS ({_ORACLE_NB}),
gi AS (SELECT unnest(range(0, 360)) AS i),
gj AS (SELECT unnest(range(0, 180)) AS j),
px AS (SELECT i, j, -180.0 + (i + 0.5) AS cx, 90.0 - (j + 0.5) AS cy FROM gi, gj),
burned AS (SELECT i, j FROM px WHERE EXISTS (
    SELECT 1 FROM nb WHERE cx >= minx AND cx <= maxx
                       AND cy >= miny AND cy <= maxy)),
tg AS (SELECT bx.v AS block_x, bj.v AS block_y
       FROM (SELECT unnest(range(0, 6)) AS v) bx,
            (SELECT unnest(range(0, 3)) AS v) bj)
SELECT tg.block_x, tg.block_y, count(b.i) AS n_burned
FROM tg LEFT JOIN burned b
  ON b.i // 64 = tg.block_x AND b.j // 64 = tg.block_y
GROUP BY tg.block_x, tg.block_y
"""


# ---------------------------------------------------------------------------
# 9. translate_resize — gdal_translate -outsize 200% grid math
#    (godal_test.go:1839-1850)
# ---------------------------------------------------------------------------

def q_translate_resize(spark, sf_dir):
    img = _images_meta(spark, sf_dir).selectExpr(
        "image_id", "cast(w * 2 as int) as w", "cast(h * 2 as int) as h")
    grid = tiling.with_block_grid(img, bw=32, bh=16)
    return grid.groupBy("image_id").agg(
        F.max(F.col("w")).cast("bigint").alias("out_w"),
        F.max(F.col("h")).cast("bigint").alias("out_h"),
        F.count("*").cast("bigint").alias("n_blocks"))


SQL_TRANSLATE_RESIZE = f"""
WITH img AS ({_ORACLE_IMG})
SELECT image_id, cast(w * 2 AS bigint) AS out_w, cast(h * 2 AS bigint) AS out_h,
       cast(ceil(w * 2 / 32.0) * ceil(h * 2 / 16.0) AS bigint) AS n_blocks
FROM img
"""


# ---------------------------------------------------------------------------
# 10. bounds — layer envelope aggregate (godal.go:2596-2623)
# ---------------------------------------------------------------------------

def q_bounds(spark, sf_dir):
    fps = _nation_footprints(spark, sf_dir).drop("minx", "miny", "maxx", "maxy")
    fps = pip_op.with_bbox(fps)  # bbox derived from WKB by the engine
    return fps.groupBy("foo").agg(
        F.min("minx").alias("minx"), F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
        F.count("*").cast("bigint").alias("n_features"))


SQL_BOUNDS = f"""
WITH nb AS ({_ORACLE_NB})
SELECT foo, min(minx) AS minx, min(miny) AS miny,
       max(maxx) AS maxx, max(maxy) AS maxy, count(*) AS n_features
FROM nb GROUP BY foo
"""


# ---------------------------------------------------------------------------
# 11. geom_area — WKB → shoelace area + buffered area through Arrow UDF
# ---------------------------------------------------------------------------

def q_geom_area(spark, sf_dir):
    fps = _nation_footprints(spark, sf_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"fid": [], "area": [], "buf_area": []}
            for r in pdf.itertuples(index=False):
                g = G.from_wkb(bytes(r.geometry))
                out["fid"].append(r.fid)
                out["area"].append(round(g.area(), 4))
                out["buf_area"].append(round(G.buffer(g, 1.0).area(), 4))
            yield pd.DataFrame(out)

    return fps.mapInPandas(gen, schema="fid bigint, area double, buf_area double")


# square edge-offset buffer: (w+2d)(h+2d)
SQL_GEOM_AREA = f"""
WITH nb AS ({_ORACLE_NB})
SELECT fid, round((maxx - minx) * (maxy - miny), 4) AS area,
       round((maxx - minx + 2.0) * (maxy - miny + 2.0), 4) AS buf_area
FROM nb
"""


# ---------------------------------------------------------------------------
# 12. sql_q1 — ExecuteSQL surface = spark.sql (godal.go:3433-3465)
# ---------------------------------------------------------------------------

_Q1 = """
SELECT l_returnflag, l_linestatus,
       cast(sum(l_quantity) AS bigint) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_sql_q1(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    df = spark.sql(_Q1)
    return df.withColumn("count_order", F.col("count_order").cast("bigint"))


SQL_Q1 = _Q1


# ---------------------------------------------------------------------------
# 13. dedup_exact — hash-groupBy exact dedup over documents
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("text_hash", F.md5(F.col("text")))
            .groupBy("text_hash")
            .agg(F.count("*").cast("bigint").alias("n_copies"),
                 F.min("doc_id").cast("bigint").alias("keep_doc_id")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_copies,
       cast(min(doc_id) AS bigint) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# 14. text_stats — token counting + quality signals over documents
# ---------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop = F.array([F.lit(s) for s in ("the", "a", "and", "of", "to")])
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
         .cast("bigint").alias("n_stop"),
        F.length(F.regexp_replace(F.col("text"), r"[^.,!?]", "")).cast("bigint").alias("n_punct"))


SQL_TEXT_STATS = r"""
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(len(toks) AS bigint) AS n_tokens,
       cast(len(list_distinct(toks)) AS bigint) AS n_distinct,
       cast(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS bigint) AS n_stop,
       cast(length(regexp_replace(text, '[^.,!?]', '', 'g')) AS bigint) AS n_punct
FROM t
"""


def q_quality_filter(spark, sf_dir):
    """C4/Gopher-style quality scoring + filter (operators/text.py
    with_quality_score) — the pretraining-filter pass, with the exact
    composite formula replicated in the DuckDB oracle. Returns the
    per-bucket counts of the kept/dropped split plus mean quality."""
    from godal_spark.operators import text as TX

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    q = TX.with_quality_score(docs)
    return (q.withColumn("kept", F.col("quality") >= 0.5)
            .groupBy("kept")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.avg("quality"), 6).alias("mean_quality"),
                 F.round(F.avg("n_tokens"), 4).alias("mean_tokens")))


SQL_QUALITY_FILTER = r"""
WITH t AS (SELECT doc_id, text,
                  string_split_regex(trim(text), '\s+') AS toks FROM documents),
m AS (SELECT doc_id,
             length(text) AS n_chars,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
      FROM t),
s AS (SELECT doc_id, n_tokens,
             round(least(least(cast(n_tokens AS double) / 64.0, 1.0)
                          * least(4096.0 / greatest(cast(n_tokens AS double), 1.0), 1.0), 1.0)
                   * (1 - least(4.0 * n_punct / greatest(n_chars, 1), 1.0))
                   * (1 - least(4.0 * n_digits / greatest(n_chars, 1), 1.0))
                   * least(2.0 * n_distinct / greatest(n_tokens, 1), 1.0), 6) AS quality
      FROM m)
SELECT quality >= 0.5 AS kept, count(*) AS n,
       round(avg(quality), 6) AS mean_quality,
       round(avg(cast(n_tokens AS double)), 4) AS mean_tokens
FROM s GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 15. ann_cosine_topk — brute-force cosine top-k (similarity baseline)
# ---------------------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding").collect()
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.embedding for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pids = pdf["vec_id"].to_numpy(dtype=np.int64)
            pmat = np.array(list(pdf["embedding"]), dtype=np.float64)
            pnorm = np.sqrt((pmat * pmat).sum(axis=1))
            sims = (qmat @ pmat.T) / (qnorm[:, None] * pnorm[None, :])
            qq, pp = np.meshgrid(qids, pids, indexing="ij")
            mask = qq != pp
            yield pd.DataFrame({"qid": qq[mask].ravel(), "pid": pp[mask].ravel(),
                                "sim": sims[mask].ravel()})

    pairs = emb.mapInPandas(gen, schema="qid bigint, pid bigint, sim double")
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("pid").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .selectExpr("qid", "cast(rank as bigint) as rank", "pid",
                        "round(sim, 4) as sim_r"))


SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings),
d AS (SELECT qid, pid,
             (SELECT sum(cast(a.e AS double) * cast(b.e AS double))
              FROM (SELECT unnest(qe) AS e, generate_subscripts(qe, 1) AS i) a
              JOIN (SELECT unnest(pe) AS e, generate_subscripts(pe, 1) AS i) b USING (i)) /
             (sqrt((SELECT sum(cast(e AS double) * cast(e AS double)) FROM unnest(qe) AS t(e))) *
              sqrt((SELECT sum(cast(e AS double) * cast(e AS double)) FROM unnest(pe) AS t(e)))) AS sim
      FROM q CROSS JOIN p WHERE qid <> pid),
r AS (SELECT qid, pid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, pid) AS rank FROM d)
SELECT qid, cast(rank AS bigint) AS rank, pid, round(sim, 4) AS sim_r
FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# 16. events_window — tumbling 1-hour windows (streaming-compatible agg)
# ---------------------------------------------------------------------------

def q_events_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .selectExpr("cast(unix_timestamp(win.start) as bigint) as hour_start",
                        "event_type", "n", "sum_value"))


SQL_EVENTS_WINDOW = """
SELECT cast(epoch(date_trunc('hour', ts)) AS bigint) AS hour_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 17. dedup_minhash — LSH near-dup pairs vs exact-jaccard oracle
#     (bands=16 x rows=4: true pairs in this corpus sit at jaccard ≥ 0.875
#     where P(collide in ≥1 band) = 1-(1-0.875^4)^16 ≈ 1-7e-7, while
#     boilerplate pairs at j≈0.3 collide with ~12% instead of rows=2's
#     ~95% — round 1 ran rows=2 and the candidate join degenerated
#     toward all-pairs, 40x slower for the same verified output)
# ---------------------------------------------------------------------------

def q_dedup_minhash(spark, sf_dir):
    from godal_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = DD.minhash_lsh_dedup(docs, k=5, num_hashes=64, bands=16, threshold=0.5)
    return pairs.selectExpr("cast(id_a as bigint) as id_a",
                            "cast(id_b as bigint) as id_b",
                            "round(jaccard, 6) as jaccard")


SQL_DEDUP_MINHASH = r"""
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         i -> array_to_string(w[i:i+4], ' '))) AS s FROM d),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
j AS (SELECT id_a, id_b,
             cast(len(list_intersect(sa, sb)) AS double)
               / len(list_distinct(list_concat(sa, sb))) AS jac FROM p)
SELECT cast(id_a AS bigint) AS id_a, cast(id_b AS bigint) AS id_b,
       round(jac, 6) AS jaccard
FROM j WHERE jac >= 0.5
"""


# ---------------------------------------------------------------------------
# 18. events_sessions — session windows vs gaps-and-islands oracle
# ---------------------------------------------------------------------------

def q_events_sessions(spark, sf_dir):
    from godal_spark.streaming.events import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, gap="30 minutes")
    return out.selectExpr("cast(user_id as bigint) as user_id",
                          "cast(unix_timestamp(sess_start) as bigint) as sess_start",
                          "cast(n_events as bigint) as n_events", "sum_value")


SQL_EVENTS_SESSIONS = """
WITH e AS (SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
m AS (SELECT user_id, ts, value,
             -- Spark session_window is right-exclusive: [t, t+gap) — an event at
             -- exactly prev+gap starts a NEW session, so the break test is >=.
             CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      FROM e),
s AS (SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
      FROM m)
SELECT cast(user_id AS bigint) AS user_id,
       cast(floor(epoch(min(ts))) AS bigint) AS sess_start,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sess
"""


# ---------------------------------------------------------------------------
# 19. warp_mosaic — the multi-source warp golden as per-pixel rows
#     (godal_test.go:1895-1944: two 5x5 @45E/50E → 10x5, 200 | 100)
# ---------------------------------------------------------------------------

def q_warp_mosaic(spark, sf_dir):
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import warp as WP

    a = np.full((5, 5), 200, np.uint8)
    b = np.full((5, 5), 100, np.uint8)
    images = datagen.images_df(spark, [
        datagen.image_row("ds1", a, "raw8", gt=[45, 1, 0, 35, 0, -1]),
        datagen.image_row("ds2", b, "raw8", gt=[50, 1, 0, 35, 0, -1]),
    ])
    tiles = WP.warp(spark, images, [], block=256)

    def px_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"x": [], "y": [], "v": []}
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(r.bh, r.bw)
                ys, xs = np.mgrid[0:r.bh, 0:r.bw]
                out["x"].extend((xs.ravel() + r.x0).tolist())
                out["y"].extend((ys.ravel() + r.y0).tolist())
                out["v"].extend(arr.ravel().astype(np.int64).tolist())
            yield pd.DataFrame(out)

    return tiles.mapInPandas(px_rows, schema="x bigint, y bigint, v bigint")


SQL_WARP_MOSAIC = """
WITH gy AS (SELECT unnest(range(0, 5)) AS y),
g AS (SELECT y, unnest(range(0, 10)) AS x FROM gy)
SELECT x, y, CASE WHEN x < 5 THEN 200 ELSE 100 END AS v FROM g
"""


# ---------------------------------------------------------------------------
# 20. overview_pixels — level-2 average reduce of the 10x10 ramp
#     (value golden 6 at px 0,0 — godal_test.go:2144-2172)
# ---------------------------------------------------------------------------

def q_overview_pixels(spark, sf_dir):
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import tiling as TL

    arr = np.arange(100, dtype=np.uint8).reshape(10, 10)
    images = datagen.images_df(spark, [datagen.image_row("ramp", arr, "raw8")])
    l0 = TL.explode_tiles(images, bw=256, bh=256)
    ovr = TL.build_overview_level(l0, alg="average", block=256)

    def px_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"x": [], "y": [], "v": []}
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(r.bh, r.bw)
                ys, xs = np.mgrid[0:r.bh, 0:r.bw]
                out["x"].extend((xs.ravel() + r.x0).tolist())
                out["y"].extend((ys.ravel() + r.y0).tolist())
                out["v"].extend(a.ravel().astype(np.int64).tolist())
            yield pd.DataFrame(out)

    return ovr.mapInPandas(px_rows, schema="x bigint, y bigint, v bigint")


# 2x2 average of ramp px = 20y+2x+5.5 → floor(+0.5) = 20y+2x+6
SQL_OVERVIEW_PIXELS = """
WITH gy AS (SELECT unnest(range(0, 5)) AS y),
g AS (SELECT y, unnest(range(0, 5)) AS x FROM gy)
SELECT x, y, 20 * y + 2 * x + 6 AS v FROM g
"""


# ---------------------------------------------------------------------------
# 21. translate_window — -srcwin crop pixel parity (CastedIO-style)
# ---------------------------------------------------------------------------

def q_translate_window(spark, sf_dir):
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.functions import codecs
    from godal_spark.operators import translate as TR

    arr = ((np.arange(400) * 7) % 256).astype(np.uint8).reshape(20, 20)
    images = datagen.images_df(spark, [datagen.image_row("t", arr, "raw8")])
    out = TR.translate(images, ["-srcwin", "3", "5", "8", "6"])

    def px_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            o = {"x": [], "y": [], "v": []}
            for r in pdf.itertuples(index=False):
                a = codecs.decode(r.bytes, r.fmt, r.w, r.h)
                ys, xs = np.mgrid[0:r.h, 0:r.w]
                o["x"].extend(xs.ravel().tolist())
                o["y"].extend(ys.ravel().tolist())
                o["v"].extend(a.ravel().astype(np.int64).tolist())
            yield pd.DataFrame(o)

    return out.mapInPandas(px_rows, schema="x bigint, y bigint, v bigint")


SQL_TRANSLATE_WINDOW = """
WITH gy AS (SELECT unnest(range(0, 6)) AS y),
g AS (SELECT y, unnest(range(0, 8)) AS x FROM gy)
SELECT x, y, (((y + 5) * 20 + (x + 3)) * 7) % 256 AS v FROM g
"""


# ---------------------------------------------------------------------------
# 22. spatial_filter — ExecuteSQL + SpatialFilter (godal_test.go:2620-2634)
# ---------------------------------------------------------------------------

def q_spatial_filter(spark, sf_dir):
    from godal_spark.dataset import execute_sql

    fps = _nation_footprints(spark, sf_dir)
    # point filter inside nation 7's box (disk of radius 1 at its center)
    flt = G.to_wkb(G.buffer(G.point(-180 + 2 * 72 + 3 + 30.0, -90 + 36 + 4 + 14.0), 1.0))
    out = execute_sql(spark, "SELECT fid, n_name, minx, miny, maxx, maxy, foo "
                             "FROM footprints_v", layers={"footprints_v": fps},
                      spatial_filter=flt)
    return out.selectExpr("fid", "n_name", "foo")


SQL_SPATIAL_FILTER = f"""
WITH nb AS ({_ORACLE_NB})
SELECT fid, n_name, foo FROM nb
WHERE minx <= {-180 + 2 * 72 + 3 + 31.0} AND maxx >= {-180 + 2 * 72 + 3 + 29.0}
  AND miny <= {-90 + 36 + 4 + 15.0} AND maxy >= {-90 + 36 + 4 + 13.0}
"""


# ---------------------------------------------------------------------------
# 23. stats_approx — approximate statistics block-row sampling
#     (godal_test.go:4144-4160 semantics at engine tile granularity)
# ---------------------------------------------------------------------------

def q_stats_approx(spark, sf_dir):
    from godal_spark.operators.raster_stats import compute_statistics

    img = _images_meta(spark, sf_dir, where=RASTER_SUBSET)
    # build real tile rows (payload) at 32x32 so the sampler sees block rows
    grid = tiling.with_block_grid(img, bw=32, bh=32)

    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in ("image_id", "band", "level", "block_x", "block_y",
                                   "x0", "y0", "bw", "bh", "w", "h", "dtype",
                                   "payload", "caption")}
            for r in pdf.itertuples(index=False):
                y, x = np.mgrid[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw]
                v = ((y * r.w + x) % 256).astype(np.float64)
                out["image_id"].append(str(r.image_id))
                out["band"].append(0)
                out["level"].append(0)
                out["block_x"].append(r.block_x)
                out["block_y"].append(r.block_y)
                out["x0"].append(r.x0)
                out["y0"].append(r.y0)
                out["bw"].append(r.bw)
                out["bh"].append(r.bh)
                out["w"].append(r.w)
                out["h"].append(r.h)
                out["dtype"].append("float64")
                out["payload"].append(v.tobytes())
                out["caption"].append("")
            yield pd.DataFrame(out)

    tiles = grid.mapInPandas(gen, schema=tiling.TILE_SCHEMA)
    st = compute_statistics(tiles, approximate=True)
    return st.selectExpr("cast(image_id as bigint) as image_id", "n",
                         "min as px_min", "max as px_max",
                         "round(mean, 4) as mean", "round(std, 4) as std")


SQL_STATS_APPROX = f"""
WITH img AS (SELECT cast(p_partkey as bigint) AS image_id, {IMG_W} AS w, {IMG_H} AS h
             FROM part WHERE {RASTER_SUBSET}),
meta AS (SELECT image_id, w, h,
                cast(floor(sqrt(ceil(h / 32.0))) AS bigint) AS rate FROM img),
py AS (SELECT image_id, w, h, rate, unnest(range(0, h)) AS y FROM meta),
sel AS (SELECT image_id, w, y FROM py WHERE (y // 32) % rate = 0),
px AS (SELECT image_id, w, y, unnest(range(0, w)) AS x FROM sel),
v AS (SELECT image_id, cast((y * w + x) % 256 AS double) AS v FROM px)
SELECT image_id, count(*) AS n, min(v) AS px_min, max(v) AS px_max,
       round(sum(v) / count(*), 4) AS mean,
       round(sqrt(sum(v * v) / count(*) - (sum(v) / count(*)) * (sum(v) / count(*))), 4) AS std
FROM v GROUP BY image_id
"""


# ---------------------------------------------------------------------------
# 24. events_json — JSON field extraction (props column)
# ---------------------------------------------------------------------------

def q_events_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("k").cast("bigint").alias("sum_k"),
                 F.max("k").cast("bigint").alias("max_k")))


SQL_EVENTS_JSON = """
SELECT event_type, count(*) AS n,
       cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
       max(cast(json_extract_string(props, '$.k') AS bigint)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# 25. sql_window — window functions through the ExecuteSQL surface
# ---------------------------------------------------------------------------

_SQL_WINDOW = """
SELECT o_custkey,
       cast(o_orderkey AS bigint) AS o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       cast(row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS bigint) AS rn
FROM orders
"""


def q_sql_window(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_WINDOW).selectExpr(
        "cast(o_custkey as bigint) as o_custkey", "o_orderkey",
        "running_total", "rn")


SQL_SQL_WINDOW = _SQL_WINDOW.replace(
    "SELECT o_custkey,", "SELECT cast(o_custkey AS bigint) AS o_custkey,")


# ---------------------------------------------------------------------------
# rows-only entries (no SQL-expressible oracle; driver records a weaker
# rows-only check — approximate/iterative/hash-seeded operators)
# ---------------------------------------------------------------------------

def q_polygonize_diag(spark, sf_dir):
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import polygonize as PZ, tiling as TL

    images = datagen.images_df(spark, [datagen.image_row("diag", datagen.pixels_diag(8), "raw8")])
    tiles = TL.explode_tiles(images, bw=256, bh=256)
    feats = PZ.polygonize(tiles, eight=False)
    return feats.groupBy("value").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum("n_pixels").cast("bigint").alias("n_pixels"))


# 8x8, value 128 on the diagonal over 64 background, 4-connectivity
# (godal_test.go:2205-2281 semantics): diagonal pixels touch only
# diagonally → 8 single-pixel features; the background is cut into the
# two 28-px triangles. Constant table derived from the connectivity rule,
# not from engine output.
SQL_POLYGONIZE_DIAG = """
SELECT * FROM (VALUES (64.0, cast(2 AS bigint), cast(56 AS bigint)),
                      (128.0, cast(8 AS bigint), cast(8 AS bigint)))
  t(value, n_features, n_pixels)
"""


def q_polygonize_dist(spark, sf_dir):
    """Cross-tile distributed polygonize (no per-image gather): the same
    8x8 diag raster split into 4x4 tiles must dissolve border components
    back to the identical feature table."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import polygonize as PZ, tiling as TL

    images = datagen.images_df(spark, [datagen.image_row("diag", datagen.pixels_diag(8), "raw8")])
    tiles = TL.explode_tiles(images, bw=4, bh=4)
    feats = PZ.polygonize_tiles(tiles, eight=False)
    return feats.groupBy("value").agg(
        F.count("*").cast("bigint").alias("n_features"),
        F.sum("n_pixels").cast("bigint").alias("n_pixels"))


def q_sieve(spark, sf_dir):
    """Distributed SieveFilter over a 16x24 categorical raster split into
    8x8 tiles: a 6-px run straddling a tile seam must survive threshold 5
    (global size), a 1-px speck and a 4-px blob must merge into the
    background. Per-value pixel counts after the sieve."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.zeros((16, 24), dtype=np.uint8)
    arr[3, 6:12] = 7       # 6 px across the bw=8 seam → survives
    arr[10, 10] = 9        # 1 px → background
    arr[12:14, 15:17] = 5  # 4 px → background
    arr[0:6, 20:24] = 3    # 24 px → survives
    images = datagen.images_df(spark, [datagen.image_row("sv", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    out = PZ.sieve_tiles(tiles, 5)

    def cnt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals, ns = [], []
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.payload, np.uint8)
                u, c = np.unique(a, return_counts=True)
                vals.extend(float(v) for v in u)
                ns.extend(int(v) for v in c)
            yield pd.DataFrame({"value": vals, "n": ns})

    return (out.mapInPandas(cnt, schema="value double, n bigint")
            .groupBy("value").agg(F.sum("n").alias("n_pixels")))


# hand-derived from the sieve rule (never from engine output): 384 px
# total; 9 and the 5-blob merge into the surrounding 0-background.
SQL_SIEVE = """
SELECT * FROM (VALUES (0.0, cast(354 AS bigint)),
                      (3.0, cast(24 AS bigint)),
                      (7.0, cast(6 AS bigint)))
  t(value, n_pixels)
"""


def q_warp_mode(spark, sf_dir):
    """warp -r mode (forward value voting), 2:1 aligned downscale of a
    deterministic categorical image: every target cell is the majority
    of its 2x2 source block — fully SQL-derivable (the oracle recomputes
    the vote with a window, not a constant table)."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import warp as WP

    y, x = np.mgrid[0:16, 0:24]
    base = (((x // 2) + (y // 2)) % 4 * 10).astype(np.uint8)
    over = (x % 2 == 1) & (y % 2 == 1) & (((x // 2) + (y // 2)) % 3 == 0)
    arr = np.where(over, 77, base).astype(np.uint8)  # 3-vs-1 blocks, no ties
    images = datagen.images_df(spark, [
        datagen.image_row("cat", arr, "raw8", gt=[0.0, 1.0, 0.0, 16.0, 0.0, -1.0])])
    tiles = WP.warp(spark, images, ["-ts", "12", "8", "-r", "mode"], block=5)

    def px(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tys, txs, vs = [], [], []
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.payload, np.dtype(r.dtype)).reshape(r.bh, r.bw)
                yy, xx = np.mgrid[0:r.bh, 0:r.bw]
                tys.extend((yy + r.y0).ravel().tolist())
                txs.extend((xx + r.x0).ravel().tolist())
                vs.extend(float(v) for v in a.ravel())
            yield pd.DataFrame({"ty": tys, "tx": txs, "value": vs})

    return tiles.mapInPandas(px, schema="ty bigint, tx bigint, value double")


SQL_WARP_MODE = """
WITH gy AS (SELECT unnest(range(0, 16)) AS y),
gxy AS (SELECT y, unnest(range(0, 24)) AS x FROM gy),
px AS (SELECT y, x,
         CASE WHEN x % 2 = 1 AND y % 2 = 1 AND ((x // 2) + (y // 2)) % 3 = 0
              THEN 77.0
              ELSE (((x // 2) + (y // 2)) % 4 * 10)::DOUBLE END AS v
       FROM gxy),
votes AS (SELECT y // 2 AS ty, x // 2 AS tx, v, count(*) AS c
          FROM px GROUP BY 1, 2, 3),
ranked AS (SELECT ty, tx, v,
                  row_number() OVER (PARTITION BY ty, tx
                                     ORDER BY c DESC, v ASC) AS rk
           FROM votes)
SELECT ty, tx, v AS value FROM ranked WHERE rk = 1
"""


def q_jpeg_ingest(spark, sf_dir):
    """Real-world JPEG ingest contract: 4:4:4, 4:2:0, and 4:2:0+restart
    encodings of the same deterministic image all decode through the
    Spark path with the right shape and luma PSNR >= 40 (round 2 raised
    on anything but 4:4:4); plus a progressive (SOF2) 4:2:0 stream."""
    _ensure_workers_can_import(spark)
    import base64

    from godal_spark.functions import jpeg as J
    from godal_spark.functions.jpeg_fixtures import (
        JAVA_BASELINE_420_Q95, JAVA_PROGRESSIVE_420_Q95)

    y, x = np.mgrid[0:32, 0:32]
    src = np.stack([100 + y // 2, 80 + x // 2, 90 + (x + y) // 4],
                   axis=-1).astype(np.uint8)
    variants = [("r444", {}), ("r420", {"subsampling": "420"}),
                ("r420dri", {"subsampling": "420", "restart_interval": 2}),
        ("rprog", {"subsampling": "420", "progressive": True})]
    bufs = [J.encode_jpeg(src, quality=95, **kw) for _, kw in variants]
    # externally-encoded rows (javax.imageio bytes pinned in
    # jpeg_fixtures.py; decoded against the KNOWN 64x48 test card, so a
    # shared encoder/decoder convention cannot cancel — r3 verdict #1)
    names = [v for v, _ in variants] + ["xjava_base", "xjava_prog"]
    bufs += [base64.b64decode(JAVA_BASELINE_420_Q95),
             base64.b64decode(JAVA_PROGRESSIVE_420_Q95)]
    shapes = [(32, 32)] * 4 + [(48, 64)] * 2
    pdf = pd.DataFrame({"variant": names, "buf": bufs,
                        "eh": [s[0] for s in shapes],
                        "ew": [s[1] for s in shapes]})
    df = spark.createDataFrame(
        pdf, "variant string, buf binary, eh int, ew int")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import jpeg as JJ

        def card(h, w):
            if (h, w) == (32, 32):
                yy, xx = np.mgrid[0:32, 0:32]
                return np.stack([100 + yy // 2, 80 + xx // 2,
                                 90 + (xx + yy) // 4], axis=-1).astype(np.uint8)
            yy, xx = np.mgrid[0:h, 0:w]
            return np.stack([120 + yy // 4, 90 + xx // 4,
                             100 + (xx + yy) // 8], axis=-1).astype(np.uint8)

        def luma(a):
            return (0.299 * a[..., 0] + 0.587 * a[..., 1]
                    + 0.114 * a[..., 2])

        for pdf2 in batches:
            out = {"variant": [], "ok": []}
            for r in pdf2.itertuples(index=False):
                exp = card(int(r.eh), int(r.ew))
                dec = JJ.decode_jpeg_real(bytes(r.buf))
                mse = float(np.mean((luma(dec)
                                     - luma(exp.astype(np.float64)
                                            .astype(np.uint8))) ** 2))
                p = 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)
                out["variant"].append(r.variant)
                out["ok"].append(bool(dec.shape == exp.shape and p >= 40.0))
            yield pd.DataFrame(out)

    return df.mapInPandas(check, schema="variant string, ok boolean")


SQL_JPEG_INGEST = """
SELECT * FROM (VALUES ('r444', true), ('r420', true), ('r420dri', true),
                      ('rprog', true), ('xjava_base', true),
                      ('xjava_prog', true))
  t(variant, ok)
"""


# constructed span-dedup corpus: BLOCK1 shared by 3 docs at different
# alignments (the fixed-stride failure mode), BLOCK2 by 2 docs; ascii,
# no quotes (embedded verbatim in the SQL oracle)
_SPAN_BLOCK1 = ("this exact license paragraph is reproduced verbatim across "
                "several documents in the corpus")
_SPAN_BLOCK2 = "another shared header block of respectable length here"
_SPAN_DOCS = [
    (0, "alpha opening words " + _SPAN_BLOCK1 + " tail zero"),
    (1, "b " + _SPAN_BLOCK1 + " something else entirely at the end one"),
    (2, "ccc prefix of other length " + _SPAN_BLOCK1),
    (3, "unrelated document with completely unique contents number three"),
    (4, "intro " + _SPAN_BLOCK2 + " outro four"),
    (5, "x " + _SPAN_BLOCK2 + " epilogue five"),
    (6, "short"),
]


def q_substring_dedup(spark, sf_dir):
    """Span-level exact substring dedup (winnowing anchors -> gram join
    -> maximal extension): per doc pair, the longest shared substring of
    >= 40 chars. Oracle = brute-force stride-1 window join with
    diagonal-partitioned run coalescing — ground truth, not a replica of
    the winnowing plan."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import dedup as DD

    docs = spark.createDataFrame(_SPAN_DOCS, "doc_id long, text string")
    spans = DD.substring_duplicate_spans(docs, min_span=40)
    return (spans.groupBy("id_a", "id_b")
            .agg(F.max("span_len").cast("bigint").alias("max_span")))


def _span_sql_values() -> str:
    return ", ".join(f"({i}, '{t}')" for i, t in _SPAN_DOCS)


SQL_SUBSTRING_DEDUP = f"""
WITH docs(doc_id, txt) AS (VALUES {_span_sql_values()}),
pos AS (SELECT doc_id, txt, unnest(range(0, length(txt) - 40 + 1)) AS p
        FROM docs WHERE length(txt) >= 40),
win AS (SELECT doc_id, p, substr(txt, p + 1, 40) AS w FROM pos),
m AS (SELECT a.doc_id AS id_a, a.p AS pa, b.doc_id AS id_b, b.p AS pb
      FROM win a JOIN win b ON a.w = b.w AND a.doc_id < b.doc_id),
r AS (SELECT *, pb - pa AS diag,
        CASE WHEN lag(pa) OVER (PARTITION BY id_a, id_b, pb - pa
                                ORDER BY pa) = pa - 1
             THEN 0 ELSE 1 END AS brk
      FROM m),
g AS (SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, diag ORDER BY pa
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM r),
sp AS (SELECT id_a, id_b, diag, run, max(pa) - min(pa) + 40 AS span
       FROM g GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, cast(max(span) AS bigint) AS max_span
FROM sp GROUP BY id_a, id_b
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive closure over a duplicate-pair graph (the clustering
    tail of every dedup family: a pair list alone can't drop documents
    — survivors come from component labels). Chain components of
    diameter 4 over the embeddings ids: multi-hop closure, on the driver
    union-find at this size (pointer doubling above
    driver_side.MAX_ROWS); the oracle derives each node's component
    label in closed form."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import dedup as DD

    ids = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id").filter(F.col("vec_id") < 200))
    edges = (ids.filter(F.col("vec_id") % 5 != 4)
             .select(F.col("vec_id").alias("id_a"),
                     (F.col("vec_id") + 1).alias("id_b")))
    return (DD.duplicate_clusters(edges)
            .select(F.col("id").cast("long").alias("id"),
                    F.col("cluster").cast("long").alias("cluster")))


SQL_DEDUP_CLUSTERS = """
SELECT cast(vec_id AS bigint) AS id,
       cast((vec_id // 5) * 5 AS bigint) AS cluster
FROM embeddings WHERE vec_id < 200
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup executed AS A STREAM inside the gate: the
    documents table replayed as availableNow micro-batches (4 files) →
    stream_exact_dedup (built-in stateful dropDuplicates keyed on the
    content hash) → memory sink. Emitting only the text makes the
    survivor SET deterministic regardless of which arrival wins:
    oracle = SELECT DISTINCT text."""
    _ensure_workers_can_import(spark)
    import os
    import tempfile
    import uuid

    from godal_spark.streaming.events import stream_exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    import hashlib

    mtime = int(os.path.getmtime(f"{sf_dir}/documents.parquet"))
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]  # stable across
    # processes (builtin hash() is salted per run -> cache never hits)
    src = os.path.join(tempfile.gettempdir(),
                       f"godal_streamdedup_{key}_{mtime}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        # write to a per-process dir and atomically rename into place:
        # two concurrent gate runs must never read a half-written cache
        import shutil

        tmp = f"{src}.tmp.{os.getpid()}"
        docs.repartition(4).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, src)
        except OSError:
            if os.path.exists(os.path.join(src, "_SUCCESS")):
                # another process won the race; use its complete copy
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # src is a stale half-written dir from a crashed run —
                # replace it (self-healing, like mode=overwrite was)
                shutil.rmtree(src, ignore_errors=True)
                os.rename(tmp, src)
    stream = (spark.readStream.schema("text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    qname = f"sd_{uuid.uuid4().hex[:8]}"
    q = (stream_exact_dedup(stream)
         .writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        raise RuntimeError("stream_dedup: query did not finish within 120 s")
    return spark.table(qname).select("text")


SQL_STREAM_DEDUP = "SELECT DISTINCT text FROM documents"


def q_simhash_pairs(spark, sf_dir):
    """Simhash bucket join over a constructed corpus: 15 docs with
    disjoint vocabularies + an exact copy of each. Exact copies have
    identical simhash (hamming 0, guaranteed by construction);
    disjoint-vocab docs are ~32 bits apart, far outside max_hamming=3 —
    so the exact output is derivable without running the engine."""
    from godal_spark.operators import dedup as DD

    rows = [(i, " ".join(f"tok{i}x{j}" for j in range(40))) for i in range(15)]
    rows += [(i + 1000, t) for i, t in rows[:15]]
    # NOTE r6: a coalesce(4) here measured ~2x SLOWER interleaved
    # (1.5-1.6 s vs 0.7-1.0 s) — merging the createDataFrame slices
    # costs more than the near-empty Arrow tasks it saves on this path
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return DD.simhash_dedup(docs, max_hamming=3) \
        .selectExpr("id_a", "id_b", "cast(hamming as bigint) as hamming")


SQL_SIMHASH_PAIRS = """
SELECT cast(i AS bigint) AS id_a, cast(i + 1000 AS bigint) AS id_b,
       cast(0 AS bigint) AS hamming
FROM (SELECT unnest(range(0, 15)) AS i)
"""


def q_ann_ivf(spark, sf_dir):
    """IVF ANN with nprobe == nlist (exhaustive probing): exercises the
    whole IVF machinery — centroid training, list assignment, probe
    join, rerank — while the result provably equals exact brute-force
    top-k, so it oracle-checks against the same cross-join SQL.
    (The recall-oriented nprobe < nlist path is pytest-verified against
    brute_force_topk in tests/test_training_ops.py.)"""
    from godal_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.ivf_topk(emb, query_ids=list(range(10)), k=5, nlist=8, nprobe=8)
    return out.selectExpr("qid", "pid", "cast(rank as bigint) as rank",
                          "round(sim, 4) as sim_r")


SQL_ANN_IVF = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings),
d AS (SELECT qid, pid,
             (SELECT sum(cast(a.e AS double) * cast(b.e AS double))
              FROM (SELECT unnest(qe) AS e, generate_subscripts(qe, 1) AS i) a
              JOIN (SELECT unnest(pe) AS e, generate_subscripts(pe, 1) AS i) b USING (i)) /
             (sqrt((SELECT sum(cast(e AS double) * cast(e AS double)) FROM unnest(qe) AS t(e))) *
              sqrt((SELECT sum(cast(e AS double) * cast(e AS double)) FROM unnest(pe) AS t(e)))) AS sim
      FROM q CROSS JOIN p WHERE qid <> pid),
r AS (SELECT qid, pid, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, pid) AS rank FROM d)
SELECT qid, pid, cast(rank AS bigint) AS rank, round(sim, 4) AS sim_r
FROM r WHERE rank <= 5
"""


def q_lang_id(spark, sf_dir):
    from godal_spark.operators import text as TX

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return (TX.with_lang_id(docs).groupBy("lang_pred")
            .agg(F.count("*").cast("bigint").alias("n")))


def _sql_stop_score(lang_words):
    lst = ", ".join(f"'{w}'" for w in lang_words)
    return (f"cast(len(list_filter(w, x -> list_contains([{lst}], x))) AS double)"
            f" / greatest(len(w), 1)")


def _sql_lang_id():
    """DuckDB replica of with_lang_id's stopword-ratio argmax (the CJK
    branch is dead on this ASCII corpus; tie-break = first language in
    sorted order, matching the Python loop over sorted(STOPWORDS))."""
    from godal_spark.operators.text import STOPWORDS

    s = {lg: _sql_stop_score(ws) for lg, ws in STOPWORDS.items() if ws}
    return f"""
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sc AS (SELECT doc_id, {s['de']} AS s_de, {s['en']} AS s_en,
              {s['es']} AS s_es, {s['fr']} AS s_fr FROM d),
lp AS (SELECT CASE
         WHEN greatest(s_de, s_en, s_es, s_fr) <= 0.02 THEN 'unknown'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr' END AS lang_pred
       FROM sc)
SELECT lang_pred, count(*) AS n FROM lp GROUP BY lang_pred
"""


SQL_LANG_ID = _sql_lang_id()


def q_image_phash(spark, sf_dir):
    """Decode + perceptual hash over all three codecs, with a DERIVABLE
    oracle: 32x32 row-major ramp pixels are the consecutive values
    0..1023 mod 256 — exactly four full cycles, so the true mean is
    127.5 for the lossless codecs (lossy jpeg rows emit NULL mean); and
    an exact byte copy of each image must produce the identical
    phash (phash_match), lossy or not. Exercises decode_image_features'
    real decode+hash path end-to-end against constructed truth."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import multimodal as MM

    ramp = datagen.pixels_ramp(32, 32)
    fmts = ("raw8", "png", "jpeg")
    rows = []
    for i in range(36):
        rows.append(datagen.image_row(f"ph_{i:03d}", ramp, fmts[i % 3]))
        dup = dict(rows[-1])
        dup["image_id"] = f"ph_{i:03d}_copy"
        rows.append(dup)
    images = datagen.images_df(spark, rows)
    feats = MM.decode_image_features(images)
    base = feats.filter(~F.col("image_id").endswith("_copy"))
    copies = feats.filter(F.col("image_id").endswith("_copy")).select(
        F.expr("substring(image_id, 1, length(image_id) - 5)").alias("image_id"),
        F.col("phash64").alias("phash_copy"))
    out = base.join(copies, "image_id")
    is_lossless = ~F.col("image_id").isin(
        [f"ph_{i:03d}" for i in range(36) if i % 3 == 2])
    return out.select(
        "image_id",
        F.col("w").cast("bigint").alias("w"),
        F.col("h").cast("bigint").alias("h"),
        F.col("bands").cast("bigint").alias("bands"),
        F.when(is_lossless, F.round("px_mean", 4)).alias("px_mean"),
        (F.col("phash64") == F.col("phash_copy")).alias("phash_match"))


SQL_IMAGE_PHASH = """
SELECT 'ph_' || lpad(cast(i AS varchar), 3, '0') AS image_id,
       cast(32 AS bigint) AS w, cast(32 AS bigint) AS h,
       cast(1 AS bigint) AS bands,
       CASE WHEN i % 3 = 2 THEN NULL ELSE cast(127.5 AS double) END AS px_mean,
       true AS phash_match
FROM (SELECT unnest(range(0, 36)) AS i)
"""


# ---------------------------------------------------------------------------
# §2.7 analytic family: Dem / Viewshed / Grid / FillNoData / Nearblack
# (round 5). Oracles are constant tables hand-derived from the documented
# kernels / reference goldens (godal_test.go:5243-5359, 4472-4592,
# 4279-4332, 2285-2363, 4638-4780) — never from engine output. Kernels
# run distributed (image_kernel_pixels / grid_tiles in operators/fill.py).
# ---------------------------------------------------------------------------

def q_dem_plane(spark, sf_dir):
    """All six gdaldem scalar modes over the analytic plane z = 2x + y
    (12x12): Horn gradients are exact on a plane (dzdx=2, dzdy=1), so
    every interior pixel is one closed-form constant and edges are the
    documented nodata (0, or -9999 for aspect). Per-(mode, value) pixel
    counts, values rounded to 4 dp on both sides."""
    _ensure_workers_can_import(spark)
    from functools import reduce

    from godal_spark import datagen
    from godal_spark.operators import fill as FL

    yy, xx = np.mgrid[0:12, 0:12]
    z = (2 * xx + yy).astype(np.uint8)  # max 33, uint8-safe
    imgs = datagen.images_df(spark, [datagen.image_row("demp", z, "raw8")])
    kernels = [
        ("hillshade", lambda a: FL.dem_hillshade(a)),
        ("slope", lambda a: FL.dem_slope(a)),
        ("aspect", lambda a: FL.dem_aspect(a)),
        ("tri", lambda a: FL.dem_tri(a)),
        ("tpi", lambda a: FL.dem_tpi(a)),
        ("roughness", lambda a: FL.dem_roughness(a)),
    ]
    parts = [
        FL.image_kernel_pixels(imgs, fn)
          .select(F.lit(m).alias("mode"), F.round("value", 4).alias("value"))
        for m, fn in kernels]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.groupBy("mode", "value").agg(
        F.count("*").cast("bigint").alias("n_pixels"))


# Hand derivation (formulas from the module docstrings, math module —
# independent of the numpy kernels): slope = degrees(atan(hypot(2,1)))
# = 65.90515744788931 → 65.9052; aspect: atan2(1,-2) → 153.43494882°,
# >90 → 450-asp = 296.565051177078 → 296.5651; hillshade: az=135°,
# alt=45°, shade = sin·cos + cos·sin·cos(az-aspect) = 0.901048...,
# floor(1+254·shade+0.5) = 230; tri Riley = sqrt(sum dz² over the 8
# neighbors: 9+1+1+4+4+1+1+9=30) = 5.47722557 → 5.4772; Wilson not
# queried; tpi = 0 (plane symmetric); roughness = max-min = 6.
# 12x12 ⇒ 44 edge px, 100 interior px. 4-dp margins all ≥ 1e-6
# (nearest boundary: aspect, 1.18e-6) — cross-libm-safe.
SQL_DEM_PLANE = """
SELECT * FROM (VALUES
  ('hillshade', cast(0.0 AS double),     cast(44 AS bigint)),
  ('hillshade', cast(230.0 AS double),   cast(100 AS bigint)),
  ('slope',     cast(0.0 AS double),     cast(44 AS bigint)),
  ('slope',     cast(65.9052 AS double), cast(100 AS bigint)),
  ('aspect',    cast(-9999.0 AS double), cast(44 AS bigint)),
  ('aspect',    cast(296.5651 AS double), cast(100 AS bigint)),
  ('tri',       cast(0.0 AS double),     cast(44 AS bigint)),
  ('tri',       cast(5.4772 AS double),  cast(100 AS bigint)),
  ('tpi',       cast(0.0 AS double),     cast(144 AS bigint)),
  ('roughness', cast(0.0 AS double),     cast(44 AS bigint)),
  ('roughness', cast(6.0 AS double),     cast(100 AS bigint)))
  t(mode, value, n_pixels)
"""


# the reference viewshed golden DEM and its observable-height table
# (godal_test.go:4472-4592; also pinned in tests/test_fill_ops.py)
_VS_IN = np.array([
    -1, 0, 1, 0, -1,
    -1, 2, 0, 4, -1,
    -1, 1, 0, -1, -1,
    0, 3, 0, 2, 0,
    -1, 0, 0, 3, -1], dtype=np.int8).reshape(5, 5)
_VS_OBSERVABLE = np.array([
    4, 2, 0, 4, 8,
    3, 2, 0, 4, 3,
    2, 1, 0, -1, -2,
    4, 3, 0, 2, 1,
    6, 3, 0, 2, 4], dtype=float).reshape(5, 5)


def q_viewshed_modes(spark, sf_dir):
    """Viewshed, all three height modes (normal / MinTargetHeightFromDem
    / MinTargetHeightFromGround) over the reference golden 5x5 DEM,
    observer (2,2). Full 25-px table per mode. The DEM rides the images
    table biased +10 into uint8 (raw8 is unsigned); the kernel stage
    un-biases before running."""
    _ensure_workers_can_import(spark)
    from functools import reduce

    from godal_spark import datagen
    from godal_spark.operators import fill as FL

    imgs = datagen.images_df(spark, [datagen.image_row(
        "vs", (_VS_IN.astype(np.int16) + 10).astype(np.uint8), "raw8")])
    parts = [
        FL.image_kernel_pixels(
            imgs, lambda a, m=m: FL.viewshed(a - 10.0, 2, 2, 0.0, mode=m))
          .select(F.lit(m).alias("mode"), "y", "x", "value")
        for m in ("normal", "dem", "ground")]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _vs_oracle_rows():
    """Golden-table derivation (mode rules from godal.go:4188-4219):
    normal → 127 where z >= observable else 0; dem → max(0, observable);
    ground → max(0, observable - z)."""
    rows = []
    for mode in ("normal", "dem", "ground"):
        for y in range(5):
            for x in range(5):
                z = float(_VS_IN[y, x])
                ob = float(_VS_OBSERVABLE[y, x])
                if mode == "normal":
                    v = 127.0 if z >= ob else 0.0
                elif mode == "dem":
                    v = max(0.0, ob)
                else:
                    v = max(0.0, ob - z)
                rows.append((mode, y, x, v))
    return rows


SQL_VIEWSHED_MODES = ("SELECT * FROM (VALUES " + ", ".join(
    f"('{m}', {y}, {x}, cast({v!r} AS double))"
    for m, y, x, v in _vs_oracle_rows()) + ") t(mode, y, x, value)")


def q_grid_linear(spark, sf_dir):
    """GridCreate linear (Delaunay barycentric) 256x256 from the 4-corner
    point set, computed DISTRIBUTED (grid_tiles: spark.range over 64x64
    windows, broadcast points, zero shuffles), probed at the reference
    golden pixels incl. the 1/256 half-pixel-offset corners
    (godal_test.go:4279-4332). All probe values are exact dyadic floats."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import fill as FL

    g = FL.grid_tiles(spark, "linear",
                      [0.0, 1.0, 0.0, 1.0], [0.0, 0.0, 1.0, 1.0],
                      [1.0, 0.0, 0.0, 1.0],
                      256, 256, 0.0, 1.0, 0.0, 1.0, block=64)
    cond = F.lit(False)
    for py_, px_ in ((0, 0), (0, 255), (255, 0), (255, 255), (127, 255)):
        cond = cond | ((F.col("y") == py_) & (F.col("x") == px_))
    return g.filter(cond).select("y", "x", "value")


SQL_GRID_LINEAR = """
SELECT * FROM (VALUES
  (0,   0,   cast(1.0 AS double)),
  (0,   255, cast(0.00390625 AS double)),
  (255, 0,   cast(0.00390625 AS double)),
  (255, 255, cast(1.0 AS double)),
  (127, 255, cast(0.5 AS double)))
  t(y, x, value)
"""


def q_fillnodata(spark, sf_dir):
    """FillNoData over the reference 1000x1000 zero raster with a uniform
    128 patch at the center (godal_test.go:2285-2363): probes mirror the
    reference assertions — MaxDistance 100 fills (595,500) but not
    (604,509); MaxDistance 10 leaves (595,500) empty but fills the
    diagonal (510,510). Probe pushdown: only 2 pixels per config cross
    Arrow (image_kernel_pixels probes=...)."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import fill as FL

    arr = np.zeros((1000, 1000), np.uint8)
    arr[495:505, 495:505] = 128
    imgs = datagen.images_df(spark, [
        datagen.image_row("fnd", arr, "raw8", nodata=0.0)])
    p100 = FL.image_kernel_pixels(
        imgs, lambda a: FL.fillnodata(a, a != 0, 100),
        probes=[(595, 500), (604, 509)])
    p10 = FL.image_kernel_pixels(
        imgs, lambda a: FL.fillnodata(a, a != 0, 10),
        probes=[(595, 500), (510, 510)])
    return (p100.select(F.lit("d100").alias("cfg"), "y", "x", "value")
            .unionByName(
                p10.select(F.lit("d10").alias("cfg"), "y", "x", "value")))


# uniform sources fill exactly to the uniform value; reachability along
# the 8 search rays: (595,500) is 91 px below the patch (<=100, >10);
# (604,509) is 100·sqrt(2) diagonal (>100); (510,510) is 6·sqrt(2)=8.49
# diagonal (<=10).
SQL_FILLNODATA = """
SELECT * FROM (VALUES
  ('d100', 595, 500, cast(128.0 AS double)),
  ('d100', 604, 509, cast(0.0 AS double)),
  ('d10',  595, 500, cast(0.0 AS double)),
  ('d10',  510, 510, cast(128.0 AS double)))
  t(cfg, y, x, value)
"""


def q_nearblack(spark, sf_dir):
    """Nearblack black + white ramps (godal_test.go:4638-4780) and the
    border-connectivity rule (an interior dark pixel NOT connected to the
    border survives). Per-(cfg, value) pixel counts; the oracle
    recomputes the collapse rule relationally over range(256)."""
    _ensure_workers_can_import(spark)
    from functools import reduce

    from godal_spark import datagen
    from godal_spark.operators import fill as FL

    ramp = np.tile(np.arange(256, dtype=np.uint8), (4, 1))
    interior = np.full((9, 9), 100, np.uint8)
    interior[4, 4] = 2
    ib = datagen.images_df(spark, [datagen.image_row("nb_b", ramp, "raw8")])
    iw = datagen.images_df(spark, [datagen.image_row(
        "nb_w", (255 - ramp).astype(np.uint8), "raw8")])
    ii = datagen.images_df(spark, [datagen.image_row("nb_i", interior, "raw8")])
    parts = [
        FL.image_kernel_pixels(ib, lambda a: FL.nearblack(a, 10))
          .select(F.lit("black").alias("cfg"), "value"),
        FL.image_kernel_pixels(iw, lambda a: FL.nearblack(a, 10, white=True))
          .select(F.lit("white").alias("cfg"), "value"),
        FL.image_kernel_pixels(ii, lambda a: FL.nearblack(a, 10))
          .select(F.lit("interior").alias("cfg"), "value"),
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.groupBy("cfg", "value").agg(
        F.count("*").cast("bigint").alias("n_pixels"))


SQL_NEARBLACK = """
WITH xs AS (SELECT unnest(range(0, 256)) AS x),
raw AS (
  SELECT 'black' AS cfg,
         CASE WHEN x <= 10 THEN cast(0 AS double)
              ELSE cast(x AS double) END AS value,
         4 AS n FROM xs
  UNION ALL
  SELECT 'white',
         CASE WHEN 255 - x >= 245 THEN cast(255 AS double)
              ELSE cast(255 - x AS double) END,
         4 FROM xs
  UNION ALL SELECT 'interior', cast(2 AS double), 1
  UNION ALL SELECT 'interior', cast(100 AS double), 80
)
SELECT cfg, value, cast(sum(n) AS bigint) AS n_pixels
FROM raw GROUP BY cfg, value
"""


def q_audio_wav(spark, sf_dir):
    """REAL WAV/PCM audio decode (round 5, functions/wav.py): a 440 Hz
    sine (1 s at 8 kHz, amplitude 0.5) encoded to 16-bit PCM WAV decodes
    through the Spark path; per-clip features. The oracle RECOMPUTES the
    features relationally — the int16 quantization formula
    round(0.5·sin(2π·440·i/8000)·32767)/32768 is shared verbatim, so
    rate/length/duration/RMS/peak/zero-crossings all derive in SQL."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import wav as WAV
    from godal_spark.operators import multimodal as MM

    t = np.arange(8000) / 8000.0
    payload = WAV.encode_wav(0.5 * np.sin(2 * np.pi * 440.0 * t), 8000)
    aud = spark.createDataFrame(
        pd.DataFrame({"audio_id": ["sine"], "bytes": [payload]}))
    s = MM.audio_summary(aud)
    return s.select(
        "audio_id", "sample_rate",
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
        F.round("peak", 4).alias("peak"),
        F.round(F.col("zcr") * (F.col("n_samples") - 1))
         .cast("bigint").alias("zc"))


SQL_AUDIO_WAV = """
WITH s AS (SELECT unnest(range(0, 8000)) AS i),
q AS (SELECT i, round(0.5 * sin(2 * pi() * 440 * i / 8000.0) * 32767)
              / 32768.0 AS v FROM s),
z AS (SELECT count(*) AS zc FROM (
        SELECT (v < 0) AS neg,
               lag(v < 0) OVER (ORDER BY i) AS prev_neg FROM q)
      WHERE prev_neg IS NOT NULL AND neg != prev_neg)
SELECT 'sine' AS audio_id, cast(8000 AS int) AS sample_rate,
       cast(8000 AS bigint) AS n_samples,
       cast(1.0 AS double) AS duration_s,
       round(sqrt(avg(v * v)), 4) AS rms,
       round(max(abs(v)), 4) AS peak,
       (SELECT zc FROM z) AS zc
FROM q
"""


# ---------------------------------------------------------------------------
# round-5 widening: BuildVRT / scale-offset / geometry containers /
# color-relief / web-mercator transform — §2 rows that rested on golden
# pytest only get driver-gate entries too.
# ---------------------------------------------------------------------------

def q_build_vrt(spark, sf_dir):
    """BuildVRT (godal.go:3962-3995): union of two tile sets over the
    same grid, later source wins per (band, level, block) via row_number
    — no pixel copy. Source A = 8x8 of 10s (4 blocks at bw=4), source
    B = 4x4 of 20s (one block): the collision block reads 20, the other
    three read A. Per-block mean + count."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen, dataset as DS
    from godal_spark.operators import tiling as TL

    a = datagen.images_df(spark, [datagen.image_row(
        "vrt", np.full((8, 8), 10, np.uint8), "raw8")])
    b = datagen.images_df(spark, [datagen.image_row(
        "vrt", np.full((4, 4), 20, np.uint8), "raw8")])
    vrt = DS.build_vrt([TL.explode_tiles(a, bw=4, bh=4),
                        TL.explode_tiles(b, bw=4, bh=4)])

    def agg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"block_x": [], "block_y": [], "value": [], "n_pixels": []}
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.payload, np.dtype(r.dtype))
                out["block_x"].append(r.block_x)
                out["block_y"].append(r.block_y)
                out["value"].append(float(arr.mean()))
                out["n_pixels"].append(len(arr))
            yield pd.DataFrame(out)

    return vrt.mapInPandas(
        agg, schema="block_x int, block_y int, value double, n_pixels bigint")


SQL_BUILD_VRT = """
SELECT * FROM (VALUES
  (0, 0, cast(20.0 AS double), cast(16 AS bigint)),
  (1, 0, cast(10.0 AS double), cast(16 AS bigint)),
  (0, 1, cast(10.0 AS double), cast(16 AS bigint)),
  (1, 1, cast(10.0 AS double), cast(16 AS bigint)))
  t(block_x, block_y, value, n_pixels)
"""


def q_scale_offset(spark, sf_dir):
    """Band scale/offset unscaled read (godal.go:216-232,
    dataset.py:123-130 convention: physical = raw * scale + offset),
    applied DISTRIBUTED over the 4x4 ramp with scale 0.5 / offset 3.
    The oracle recomputes the ramp formula (y*4+x) relationally."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import fill as FL

    imgs = datagen.images_df(spark, [datagen.image_row(
        "so", datagen.pixels_ramp(4, 4), "raw8")])
    out = FL.image_kernel_pixels(imgs, lambda a: a * 0.5 + 3.0)
    return out.select("y", "x", "value")


SQL_SCALE_OFFSET = """
SELECT cast(i // 4 AS int) AS y, cast(i % 4 AS int) AS x,
       i * 0.5 + 3.0 AS value
FROM (SELECT unnest(range(0, 16)) AS i)
"""


def q_geom_containers(spark, sf_dir):
    """Geometry container surface (godal_test.go:3106-3151): GeometryCount
    / SubGeometry / ForceToPolygon / ForceToMultiPolygon / AddGeometry +
    WKT io, run inside the Arrow-batched stage over a WKT row. Results
    as (op, result-string) rows; the oracle is the reference golden
    table verbatim."""
    _ensure_workers_can_import(spark)
    mp_wkt = ("MULTIPOLYGON(((1 1,5 1,5 5,1 5,1 1),(2 2,2 3,3 3,3 2,2 2)),"
              "((6 3,9 2,9 4,6 3)))")
    src = spark.createDataFrame(pd.DataFrame({"wkt": [mp_wkt]}))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mp = G.from_wkt(r.wkt)
                sub0 = G.sub_geometry(mp, 0)
                sub1 = G.sub_geometry(mp, 1)
                poly = G.force_to_polygon(mp)
                m1 = G.from_wkt("MULTIPOLYGON (((1 1,5 1,5 5,1 5,1 1)))")
                tri = G.from_wkt("POLYGON((6 3,9 2,9 4,6 3))")
                m2 = G.add_geometry(m1, tri)
                rows += [
                    ("area", str(mp.area())),
                    ("count", str(G.geometry_count(mp))),
                    ("sub0_type", sub0.type),
                    ("sub0_area", str(sub0.area())),
                    ("sub1_area", str(sub1.area())),
                    ("force_poly_rings", str(len(poly.coords))),
                    ("force_poly_valid", str(poly.is_valid)),
                    ("force_multi_count", str(G.geometry_count(
                        G.force_to_multipolygon(sub1)))),
                    ("add_count", str(G.geometry_count(m2))),
                    ("add_sub1_wkt", G.to_wkt(G.sub_geometry(m2, 1))),
                ]
            yield pd.DataFrame(rows, columns=["op", "result"])

    return src.mapInPandas(gen, schema="op string, result string")


# reference golden table (godal_test.go:3106-3151): areas 18/15/3, count
# 2, forced polygon has 3 rings and is invalid (outside ring), added
# sub-geometry round-trips to OGR-style WKT
SQL_GEOM_CONTAINERS = """
SELECT * FROM (VALUES
  ('area', '18.0'), ('count', '2'),
  ('sub0_type', 'Polygon'), ('sub0_area', '15.0'), ('sub1_area', '3.0'),
  ('force_poly_rings', '3'), ('force_poly_valid', 'False'),
  ('force_multi_count', '1'), ('add_count', '2'),
  ('add_sub1_wkt', 'POLYGON ((6 3,9 2,9 4,6 3))'))
  t(op, result)
"""


def q_color_relief(spark, sf_dir):
    """gdaldem color-relief (godal.go:4099-4127 pass-through), both
    interpolated and stepped, over the golden elevation row
    [0,50,100,150,-10] with ramp (0→black, 100→(200,100,50)). Rides the
    images table biased +10 into uint8; full (mode, x, r, g, b) table
    from the reference-golden derivation (linear mixing + clamping)."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import fill as FL

    z = np.array([[0.0, 50.0, 100.0, 150.0, -10.0]])
    imgs = datagen.images_df(spark, [datagen.image_row(
        "cr", (z + 10).astype(np.uint8), "raw8")])
    ramp = [(0.0, 0, 0, 0), (100.0, 200, 100, 50)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import codecs
        for pdf in batches:
            out = {"mode": [], "x": [], "r": [], "g": [], "b": []}
            for row in pdf.itertuples(index=False):
                arr = codecs.decode(row.bytes, row.fmt, row.w, row.h)
                zz = arr.astype(np.float64) - 10.0
                for mode, interp in (("interp", True), ("stepped", False)):
                    rgb = FL.dem_color_relief(zz, ramp, interpolate=interp)
                    for x in range(rgb.shape[1]):
                        out["mode"].append(mode)
                        out["x"].append(x)
                        out["r"].append(int(rgb[0, x, 0]))
                        out["g"].append(int(rgb[0, x, 1]))
                        out["b"].append(int(rgb[0, x, 2]))
            yield pd.DataFrame(out)

    return imgs.mapInPandas(
        gen, schema="mode string, x int, r int, g int, b int")


# hand derivation: interp mixes linearly (50 → half of (200,100,50) =
# (100,50,25)), above-ramp clamps to the last stop, below-ramp to the
# first; stepped takes the nearest stop BELOW (50 → stop 0)
SQL_COLOR_RELIEF = """
SELECT * FROM (VALUES
  ('interp', 0, 0, 0, 0),   ('interp', 1, 100, 50, 25),
  ('interp', 2, 200, 100, 50), ('interp', 3, 200, 100, 50),
  ('interp', 4, 0, 0, 0),
  ('stepped', 0, 0, 0, 0),  ('stepped', 1, 0, 0, 0),
  ('stepped', 2, 200, 100, 50), ('stepped', 3, 200, 100, 50),
  ('stepped', 4, 0, 0, 0))
  t(mode, x, r, g, b)
"""


def q_crs_3857(spark, sf_dir):
    """TransformEx batch path (godal.go:2151-2233) against a TRUE SQL
    oracle: synthetic customer points 4326 → 3857; spherical Mercator is
    closed-form so DuckDB recomputes it exactly (shared derivation
    formulas; 4 dp both sides)."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import crs as CRS

    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .filter("c_custkey % 30 = 0")
            .selectExpr("c_custkey", f"{CUST_LON} AS lon", f"{CUST_LAT} AS lat"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x, y, ok = CRS.transform_points(
                pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
                "EPSG:4326", "EPSG:3857")
            yield pd.DataFrame({"c_custkey": pdf["c_custkey"],
                                "mx": np.round(x, 4), "my": np.round(y, 4),
                                "ok": ok})

    return cust.mapInPandas(
        gen, schema="c_custkey bigint, mx double, my double, ok boolean")


SQL_CRS_3857 = f"""
SELECT c_custkey,
       round(({CUST_LON}) * pi() / 180.0 * 6378137.0, 4) AS mx,
       round(6378137.0 * ln(tan(pi() / 4.0 + ({CUST_LAT}) * pi() / 360.0)), 4) AS my,
       true AS ok
FROM customer WHERE c_custkey % 30 = 0
"""


def q_crs_world(spark, sf_dir):
    """Round-5 CRS widening against TRUE SQL oracles: the same synthetic
    customer points through (a) EPSG:3395 World Mercator — the
    ELLIPSOIDAL Mercator, EPSG method 9804, validated against both EPSG
    Guidance 7-2 worked examples in pytest — and (b) the MODIS
    sinusoidal grid (+proj=sinu +R=6371007.181). Both forwards are
    closed-form, so DuckDB recomputes them exactly from the shared
    formulas (isometric latitude for 3395; R·dlam·cos(phi) / R·phi for
    sinusoidal). Reference: godal srs.go NewSpatialRefFromProj4 +
    godal.go TransformEx."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import crs as CRS

    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .filter("c_custkey % 30 = 0")
            .selectExpr("c_custkey", f"{CUST_LON} AS lon",
                        f"{CUST_LAT} AS lat"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lon = pdf["lon"].to_numpy()
            lat = pdf["lat"].to_numpy()
            mx, my, _ = CRS.transform_points(lon, lat,
                                             "EPSG:4326", "EPSG:3395")
            sx, sy, _ = CRS.transform_points(
                lon, lat, "EPSG:4326",
                "+proj=sinu +R=6371007.181 +lon_0=0 +x_0=0 +y_0=0")
            yield pd.DataFrame({"c_custkey": pdf["c_custkey"],
                                "mx": np.round(mx, 4),
                                "my": np.round(my, 4),
                                "sx": np.round(sx, 4),
                                "sy": np.round(sy, 4)})

    return cust.mapInPandas(
        gen,
        schema="c_custkey bigint, mx double, my double, "
               "sx double, sy double")


# e = sqrt(f(2-f)), f = 1/298.257223563 (WGS84) — recomputed IN SQL so
# the oracle shares only the published ellipsoid constants
SQL_CRS_WORLD = f"""
WITH pts AS (
  SELECT c_custkey, ({CUST_LON}) AS lon, ({CUST_LAT}) AS lat
  FROM customer WHERE c_custkey % 30 = 0),
consts AS (
  SELECT 6378137.0 AS a, 6371007.181 AS r,
         sqrt((1.0/298.257223563) * (2 - 1.0/298.257223563)) AS e)
SELECT c_custkey,
       round(a * lon * pi() / 180.0, 4) AS mx,
       round(a * ln(tan(pi()/4.0 + lat * pi()/360.0)
                    * power((1 - e * sin(lat * pi()/180.0))
                            / (1 + e * sin(lat * pi()/180.0)), e/2.0)),
             4) AS my,
       round(r * lon * pi() / 180.0 * cos(lat * pi()/180.0), 4) AS sx,
       round(r * lat * pi() / 180.0, 4) AS sy
FROM pts, consts
"""


def q_geom_overlay(spark, sf_dir):
    """Boolean overlay surface (godal_test.go:2960-3021 squares golden):
    intersection / union / both differences of boxes (0,0)-(2,2) and
    (1,1)-(3,3), run through the REAL concave+holes overlay machinery
    (geom.py) inside the Arrow stage. The oracle recomputes every area
    from the rectangle algebra (shared coordinates, no constants from
    the engine)."""
    _ensure_workers_can_import(spark)
    src = spark.createDataFrame(pd.DataFrame(
        {"ax0": [0.0], "ay0": [0.0], "ax1": [2.0], "ay1": [2.0],
         "bx0": [1.0], "by0": [1.0], "bx1": [3.0], "by1": [3.0]}))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = G.box(r.ax0, r.ay0, r.ax1, r.ay1)
                b = G.box(r.bx0, r.by0, r.bx1, r.by1)
                rows += [
                    ("intersection", round(G.intersection(a, b).area(), 4)),
                    ("union", round(G.union(a, b).area(), 4)),
                    ("difference_ab", round(G.difference(a, b).area(), 4)),
                    ("difference_ba", round(G.difference(b, a).area(), 4)),
                ]
            yield pd.DataFrame(rows, columns=["op", "area"])

    return src.mapInPandas(gen, schema="op string, area double")


SQL_GEOM_OVERLAY = """
WITH b AS (SELECT 0.0 AS ax0, 0.0 AS ay0, 2.0 AS ax1, 2.0 AS ay1,
                  1.0 AS bx0, 1.0 AS by0, 3.0 AS bx1, 3.0 AS by1),
c AS (SELECT greatest(0, least(ax1, bx1) - greatest(ax0, bx0))
             * greatest(0, least(ay1, by1) - greatest(ay0, by0)) AS inter,
             (ax1 - ax0) * (ay1 - ay0) AS area_a,
             (bx1 - bx0) * (by1 - by0) AS area_b FROM b)
SELECT 'intersection' AS op, round(inter, 4) AS area FROM c
UNION ALL SELECT 'union', round(area_a + area_b - inter, 4) FROM c
UNION ALL SELECT 'difference_ab', round(area_a - inter, 4) FROM c
UNION ALL SELECT 'difference_ba', round(area_b - inter, 4) FROM c
"""


def q_gcps_fit(spark, sf_dir):
    """GCPsToGeoTransform (godal.go:4404-4458; golden
    godal_test.go:5191-5241): least-squares affine recovery, one fit per
    image via applyInPandas (the distributed shape — GCP sets gather per
    image). GCPs are GENERATED from two known geotransforms, so the
    fitted coefficients are the generators themselves."""
    _ensure_workers_can_import(spark)
    gts = {"img_a": [100.0, 0.5, 0.1, 200.0, -0.2, -0.5],
           "img_b": [-50.0, 2.0, 0.0, 10.0, 0.0, -3.0]}
    pts = [(0, 0), (10, 0), (0, 10), (7, 3)]
    rows = []
    for iid, gt in gts.items():
        for px_, py_ in pts:
            rows.append({"image_id": iid, "px": float(px_), "py": float(py_),
                         "gx": gt[0] + px_ * gt[1] + py_ * gt[2],
                         "gy": gt[3] + px_ * gt[4] + py_ * gt[5]})
    src = spark.createDataFrame(pd.DataFrame(rows))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from godal_spark.functions import crs as CRS
        gcps = [(r.px, r.py, r.gx, r.gy) for r in pdf.itertuples()]
        coefs = CRS.fit_gcps(gcps)
        return pd.DataFrame({"image_id": pdf["image_id"].iloc[0],
                             "coef": range(6),
                             "value": [round(c, 6) for c in coefs]})

    return (src.groupBy("image_id")
            .applyInPandas(fit, schema="image_id string, coef int, value double"))


SQL_GCPS_FIT = """
SELECT * FROM (VALUES
  ('img_a', 0, cast(100.0 AS double)), ('img_a', 1, cast(0.5 AS double)),
  ('img_a', 2, cast(0.1 AS double)),   ('img_a', 3, cast(200.0 AS double)),
  ('img_a', 4, cast(-0.2 AS double)),  ('img_a', 5, cast(-0.5 AS double)),
  ('img_b', 0, cast(-50.0 AS double)), ('img_b', 1, cast(2.0 AS double)),
  ('img_b', 2, cast(0.0 AS double)),   ('img_b', 3, cast(10.0 AS double)),
  ('img_b', 4, cast(0.0 AS double)),   ('img_b', 5, cast(-3.0 AS double)))
  t(image_id, coef, value)
"""


def q_reproject_bounds(spark, sf_dir):
    """reprojectBounds corner quirk (srs.go:74-106: EXACTLY the 4
    corners, min/max, no edge densification) for (5,45)-(15,55) into
    web mercator. Closed-form, so the oracle recomputes the corner
    transform relationally with the same min/max rule."""
    _ensure_workers_can_import(spark)
    src = spark.createDataFrame(pd.DataFrame(
        {"minx": [5.0], "miny": [45.0], "maxx": [15.0], "maxy": [55.0]}))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import crs as CRS
        for pdf in batches:
            out = {"minx": [], "miny": [], "maxx": [], "maxy": []}
            for r in pdf.itertuples(index=False):
                b = CRS.reproject_bounds((r.minx, r.miny, r.maxx, r.maxy),
                                         "EPSG:4326", "EPSG:3857")
                for k, v in zip(("minx", "miny", "maxx", "maxy"), b):
                    out[k].append(round(v, 4))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        gen, schema="minx double, miny double, maxx double, maxy double")


SQL_REPROJECT_BOUNDS = """
WITH corners AS (
  SELECT x * pi() / 180.0 * 6378137.0 AS mx,
         6378137.0 * ln(tan(pi() / 4.0 + y * pi() / 360.0)) AS my
  FROM (VALUES (5.0, 45.0), (15.0, 45.0), (5.0, 55.0), (15.0, 55.0)) c(x, y))
SELECT round(min(mx), 4) AS minx, round(min(my), 4) AS miny,
       round(max(mx), 4) AS maxx, round(max(my), 4) AS maxy
FROM corners
"""


def q_vector_translate(spark, sf_dir):
    """VectorTranslate through a real format sink (godal.go:3886-3936
    surface): nation footprints → CSV with WKT geometry → read back →
    re-parse WKT and recompute each box area. Exercises the
    write-read-reparse loop distributed; oracle = rectangle algebra on
    the shared derivation."""
    _ensure_workers_can_import(spark)
    import os
    import tempfile

    from godal_spark.operators import vector as V

    fps = _nation_footprints(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="godal_vt_")
    out_dir = os.path.join(tmp, "nations_csv")
    V.vector_translate(fps.select("fid", "foo", "geometry"), out_dir, "csv")
    back = spark.read.option("header", True).csv(out_dir)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"fid": [], "foo": [], "area": []}
            for r in pdf.itertuples(index=False):
                g = G.from_wkt(r.geometry)
                out["fid"].append(int(r.fid))
                out["foo"].append(r.foo)
                out["area"].append(round(g.area(), 4))
            yield pd.DataFrame(out)

    return _read_then_remove(
        back.mapInPandas(gen, schema="fid bigint, foo string, area double"),
        tmp)


SQL_VECTOR_TRANSLATE = f"""
WITH nb AS ({_ORACLE_NB})
SELECT fid, foo, round((maxx - minx) * (maxy - miny), 4) AS area FROM nb
"""


def q_reproject_layer(spark, sf_dir):
    """Geometry.Reproject over a whole layer (godal.go:3637-3657):
    nation boxes 4326 → 3857, per-feature bounds. Web mercator is
    axis-separable, so a reprojected box is still a box and the oracle
    recomputes its corners relationally (shared derivations, 4 dp).
    Rows 0 and 4 of the nation grid cross the ±85.05 mercator latitude
    domain — transform_points error-firsts there (the reference's
    per-point failure semantics), so both sides take rows 1-3."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import vector as V

    fps = (_nation_footprints(spark, sf_dir)
           .filter("fid BETWEEN 5 AND 19").select("fid", "geometry"))
    rp = V.reproject_layer(fps, "EPSG:4326", "EPSG:3857")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"fid": [], "minx": [], "miny": [], "maxx": [], "maxy": []}
            for r in pdf.itertuples(index=False):
                b = G.from_wkb(bytes(r.geometry)).bounds()
                out["fid"].append(r.fid)
                for k, v in zip(("minx", "miny", "maxx", "maxy"), b):
                    out[k].append(round(v, 4))
            yield pd.DataFrame(out)

    return rp.mapInPandas(
        gen, schema="fid bigint, minx double, miny double, "
                    "maxx double, maxy double")


SQL_REPROJECT_LAYER = f"""
WITH nb AS ({_ORACLE_NB})
SELECT fid,
       round(minx * pi() / 180.0 * 6378137.0, 4) AS minx,
       round(6378137.0 * ln(tan(pi() / 4.0 + miny * pi() / 360.0)), 4) AS miny,
       round(maxx * pi() / 180.0 * 6378137.0, 4) AS maxx,
       round(6378137.0 * ln(tan(pi() / 4.0 + maxy * pi() / 360.0)), 4) AS maxy
FROM nb WHERE fid BETWEEN 5 AND 19
"""


def q_feature_crud(spark, sf_dir):
    """Feature CRUD + CopyLayer (godal.go:3397-3410, 3658-3720 surface,
    relational form): copy the nation layer, CREATE a feature (union),
    UPDATE one (recode foo for fid 3), DELETE one (fid 7), then read
    back (fid, foo, area). The oracle applies the same edits in SQL."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import vector as V

    fps = _nation_footprints(spark, sf_dir)
    layer = V.copy_layer(fps.select("fid", "foo", "geometry"))
    new = spark.createDataFrame(pd.DataFrame(
        {"fid": [9999], "foo": ["new"],
         "geometry": [G.to_wkb(G.box(0.0, 0.0, 2.0, 5.0))]}))
    layer = (layer.unionByName(new)
             .withColumn("foo", F.when(F.col("fid") == 3, F.lit("edited"))
                         .otherwise(F.col("foo")))
             .filter(F.col("fid") != 7))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"fid": [], "foo": [], "area": []}
            for r in pdf.itertuples(index=False):
                out["fid"].append(r.fid)
                out["foo"].append(r.foo)
                out["area"].append(round(G.from_wkb(bytes(r.geometry)).area(), 4))
            yield pd.DataFrame(out)

    return layer.mapInPandas(gen, schema="fid bigint, foo string, area double")


SQL_FEATURE_CRUD = f"""
WITH nb AS ({_ORACLE_NB}),
edited AS (
  SELECT fid, CASE WHEN fid = 3 THEN 'edited' ELSE foo END AS foo,
         round((maxx - minx) * (maxy - miny), 4) AS area
  FROM nb WHERE fid != 7
  UNION ALL SELECT 9999, 'new', 10.0)
SELECT fid, foo, area FROM edited
"""


def q_warp_into(spark, sf_dir):
    """WarpInto partial coverage (godal_test.go:1945-1982 semantics): a
    4x3 source of 155s warped INTO a 4x6 base of 200s on the same grid —
    only the overlapped left half is overwritten, the rest keeps the
    base value. Per-value pixel counts; the split is derivable from the
    extents alone."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import tiling as TL, warp as WP

    gt = [45.0, 1.0, 0.0, 35.0, 0.0, -1.0]
    base_images = datagen.images_df(spark, [datagen.image_row(
        "out", np.full((4, 6), 200, np.uint8), "raw8", gt=gt)])
    src_images = datagen.images_df(spark, [datagen.image_row(
        "in", np.full((4, 3), 155, np.uint8), "raw8", gt=gt)])
    out = WP.warp(spark, src_images, [], block=256,
                  into_tiles=TL.explode_tiles(base_images, bw=256, bh=256),
                  into_meta={"gt": gt, "w": 6, "h": 4, "srs": "EPSG:4326"})

    def cnt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals, ns = [], []
            for r in pdf.itertuples(index=False):
                a = np.frombuffer(r.payload, np.dtype(r.dtype))
                u, c = np.unique(a, return_counts=True)
                vals.extend(float(v) for v in u)
                ns.extend(int(v) for v in c)
            yield pd.DataFrame({"value": vals, "n": ns})

    return (out.mapInPandas(cnt, schema="value double, n bigint")
            .groupBy("value").agg(F.sum("n").alias("n_pixels")))


# overlap = 4 rows x 3 columns = 12 px overwritten with 155; the other
# 12 px keep the base 200
SQL_WARP_INTO = """
SELECT * FROM (VALUES (155.0, cast(12 AS bigint)),
                      (200.0, cast(12 AS bigint)))
  t(value, n_pixels)
"""


def q_lineage_resume(spark, sf_dir):
    """Transactions / checkpoint-resume (plans/lineage.py; Iceberg
    snapshot-commit contract over parquet + atomic markers). A first run
    completes partitions 0 and 1 of a region-keyed write, each with a
    MARKER row (9000+key) standing in for that run's output, then
    "dies". The resume loop processes only pending keys (2-4) WITHOUT
    markers. Exactly-once evidence is relational: marker rows survive
    precisely in the pre-completed partitions — if resume recomputed
    them, the markers would vanish; if it skipped too much, regions 2-4
    would be missing."""
    _ensure_workers_can_import(spark)
    import tempfile

    from godal_spark.plans import lineage as LN

    nat = _t(spark, sf_dir, "nation").selectExpr(
        "cast(n_nationkey AS bigint) AS n_nationkey",
        "cast(n_regionkey AS bigint) AS n_regionkey")

    def df_for_key(k, marked):
        d = nat.filter(F.col("n_regionkey") == k)
        if marked:
            d = d.unionByName(spark.createDataFrame(
                pd.DataFrame({"n_nationkey": [9000 + k],
                              "n_regionkey": [k]}),
                schema="n_nationkey bigint, n_regionkey bigint"))
        return d

    tmp = tempfile.mkdtemp(prefix="godal_lineage_")
    w = LN.CheckpointedWriter(tmp)
    for k in (0, 1):  # first run, then crash
        w.write_partition(k, df_for_key(k, marked=True))
    LN.run_partitioned(w, [0, 1, 2, 3, 4],
                       lambda k: df_for_key(k, marked=False))
    return _read_then_remove(
        w.read_all(spark)
        .groupBy("n_regionkey")
        .agg(F.count("*").cast("bigint").alias("n_rows"),
             F.max("n_nationkey").cast("bigint").alias("max_key")), tmp)


SQL_LINEAGE_RESUME = """
SELECT cast(n_regionkey AS bigint) AS n_regionkey,
       cast(count(*) + CASE WHEN n_regionkey < 2 THEN 1 ELSE 0 END
            AS bigint) AS n_rows,
       cast(CASE WHEN n_regionkey < 2 THEN 9000 + n_regionkey
                 ELSE max(n_nationkey) END AS bigint) AS max_key
FROM nation GROUP BY n_regionkey
"""


def q_catalog_lod(spark, sf_dir):
    """Catalog tile layout + LOD read (sources/catalog.py; the VSI/
    Iceberg stand-in): real tiles + overview pyramid written through
    write_tiles's (level, cell_bucket) partitioned layout, read back
    with the level filter (partition pruning path), per-image tile
    counts at levels 0 and 2. Derivation: ceil(w/2^k/16)·ceil(h/2^k/16)
    on fixed 40x40 / 64x48 images, bw=16."""
    _ensure_workers_can_import(spark)
    import os
    import tempfile

    from godal_spark import datagen
    from godal_spark.operators import tiling as TL
    from godal_spark.sources import catalog as CAT

    imgs = datagen.images_df(spark, [
        datagen.image_row("cat_a", datagen.pixels_ramp(40, 40), "raw8"),
        datagen.image_row("cat_b", datagen.pixels_ramp(64, 48), "raw8")])
    t0 = TL.explode_tiles(imgs, bw=16, bh=16)
    ov = TL.build_overviews(t0, min_size=16, block=16)
    tmp = tempfile.mkdtemp(prefix="godal_cat_")
    dst = os.path.join(tmp, "tiles")
    CAT.write_tiles(t0.unionByName(ov), dst, mode="overwrite")
    parts = []
    for lv in (0, 2):
        parts.append(
            CAT.read_tiles(spark, dst, level=lv)
            .groupBy("image_id")
            .agg(F.count("*").cast("bigint").alias("n_tiles"))
            .withColumn("level", F.lit(lv)))
    return _read_then_remove(
        parts[0].unionByName(parts[1]).select("image_id", "level", "n_tiles"),
        tmp)


# level 0: ceil(40/16)^2 = 9, ceil(64/16)*ceil(48/16) = 12;
# level 2 dims halve: 20x20 -> 2x2 = 4, 32x24 -> 2x2 = 4
SQL_CATALOG_LOD = """
SELECT * FROM (VALUES
  ('cat_a', 0, cast(9 AS bigint)),  ('cat_b', 0, cast(12 AS bigint)),
  ('cat_a', 2, cast(4 AS bigint)),  ('cat_b', 2, cast(4 AS bigint)))
  t(image_id, level, n_tiles)
"""


def q_token_bpe(spark, sf_dir):
    """GPT-2-style pretokenizer count (operators/text.py
    token_count_bpe_ish — the BPE-proxy token counter). Fixture
    sentences with HAND-DERIVED counts from the published pattern rules
    (cross-checked against an independent regex engine, not the Spark
    one): contractions split, single leading space folds into the
    word, `\\s+(?!\\S)` absorbs interior runs leaving one space for the
    next token."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import text as TX

    docs = spark.createDataFrame(pd.DataFrame({
        "sid": [1, 2, 3, 4, 5],
        "text": ["Hello world", "I'm fine.", "It's 2026!!",
                 "a  b", "don't stop"]}))
    return TX.token_count_bpe_ish(docs).select(
        F.col("sid").cast("bigint").alias("sid"), "n_pretokens")


SQL_TOKEN_BPE = """
SELECT * FROM (VALUES
  (cast(1 AS bigint), cast(2 AS bigint)),
  (cast(2 AS bigint), cast(4 AS bigint)),
  (cast(3 AS bigint), cast(4 AS bigint)),
  (cast(4 AS bigint), cast(3 AS bigint)),
  (cast(5 AS bigint), cast(3 AS bigint)))
  t(sid, n_pretokens)
"""


def q_fingerprint(spark, sf_dir):
    """Document fingerprinting (operators/text.py with_fingerprint:
    xxhash64 of whitespace-collapsed lowercased text + winnowing min
    8-gram hash). Semantics checked relationally: an uppercased,
    space-doubled copy of each document must fingerprint IDENTICALLY
    (normalization invariance), so the fp_full self-join at offset
    +1000 recovers exactly one pair per source doc."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import text as TX

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").filter("doc_id < 40"))
    mod = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"))
    fp = TX.with_fingerprint(docs.unionByName(mod))
    a = fp.select(F.col("doc_id").alias("id_a"),
                  F.col("fp_full").alias("fa"))
    b = fp.select(F.col("doc_id").alias("id_b"),
                  F.col("fp_full").alias("fb"))
    return (a.join(b, (a.fa == b.fb) & (a.id_a + 1000 == b.id_b))
            .select("id_a", "id_b"))


SQL_FINGERPRINT = """
SELECT doc_id AS id_a, doc_id + 1000 AS id_b
FROM documents WHERE doc_id < 40
"""


def q_crs_osgb(spark, sf_dir):
    """The TM-on-Airy projection chain against a PUBLISHED constant: the
    OS 'Guide to coordinate systems in Great Britain' worked example
    (OSGB36 geographic 52°39'27.2531\"N 1°43'4.5177\"E → grid E
    651409.903, N 313177.270). Both CRSes are PROJ4 strings WITHOUT
    +towgs84 (the input is already OSGB36 geographic), exercising the
    round-5 from_proj4 surface distributed; 3-dp output equals the
    guide's printed values."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import crs as CRS

    src_crs = "+proj=longlat +ellps=airy"
    dst_crs = ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
               "+x_0=400000 +y_0=-100000 +ellps=airy")
    pts = spark.createDataFrame(pd.DataFrame({
        "name": ["os_worked_example", "grid_origin"],
        "lon": [1 + 43 / 60 + 4.5177 / 3600, -2.0],
        "lat": [52 + 39 / 60 + 27.2531 / 3600, 49.0]}))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            e, n, ok = CRS.transform_points(
                pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
                src_crs, dst_crs)
            yield pd.DataFrame({"name": pdf["name"],
                                "easting": np.round(e, 3),
                                "northing": np.round(n, 3)})

    return pts.mapInPandas(
        gen, schema="name string, easting double, northing double")


SQL_CRS_OSGB = """
SELECT * FROM (VALUES
  ('os_worked_example', cast(651409.903 AS double),
   cast(313177.270 AS double)),
  ('grid_origin', cast(400000.0 AS double), cast(-100000.0 AS double)))
  t(name, easting, northing)
"""


def q_cog_roundtrip(spark, sf_dir):
    """The cogify sink (round 5, REAL GeoTIFF bytes): constant-7 40x40
    image → tile explode → overview pyramid → cog_write
    (functions/tiff.py COG: tiled IFD chain, deflate, metadata ahead of
    pixels, geo tags) → a second Spark stage decodes the IFD chain.
    Derivation: level dims are ceil(40/2^k) down to min_size 16; a
    constant image's average pyramid stays constant, so every level is
    all 7s; the geotransform survives the container."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import tiling as TL

    gt = [10.0, 0.5, 0.0, 50.0, 0.0, -0.5]
    imgs = datagen.images_df(spark, [datagen.image_row(
        "cogq", np.full((40, 40), 7, np.uint8), "raw8",
        gt=gt, srs="EPSG:4326")])
    t0 = TL.explode_tiles(imgs, bw=16, bh=16)
    ov = TL.build_overviews(t0, min_size=16, block=16)
    cogs = TL.cog_write(t0.unionByName(ov), images_meta=imgs, tile_size=16)

    def read_back(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import tiff as TF
        for pdf in batches:
            out = {"level_idx": [], "w": [], "h": [], "n_px7": [],
                   "gt0": [], "gt1": [], "epsg": []}
            for r in pdf.itertuples(index=False):
                arrays, metas = TF.decode_tiff_all(bytes(r.cog))
                for k, a in enumerate(arrays):
                    out["level_idx"].append(k)
                    out["h"].append(a.shape[0])
                    out["w"].append(a.shape[1])
                    out["n_px7"].append(int((a == 7).sum()))
                    out["gt0"].append(metas[0]["gt"][0])
                    out["gt1"].append(metas[0]["gt"][1])
                    out["epsg"].append(metas[0]["epsg"])
            yield pd.DataFrame(out)

    return cogs.mapInPandas(
        read_back, schema="level_idx int, w int, h int, n_px7 bigint, "
                          "gt0 double, gt1 double, epsg int")


SQL_COG_ROUNDTRIP = """
SELECT * FROM (VALUES
  (0, 40, 40, cast(1600 AS bigint), cast(10.0 AS double),
   cast(0.5 AS double), 4326),
  (1, 20, 20, cast(400 AS bigint), cast(10.0 AS double),
   cast(0.5 AS double), 4326),
  (2, 10, 10, cast(100 AS bigint), cast(10.0 AS double),
   cast(0.5 AS double), 4326))
  t(level_idx, w, h, n_px7, gt0, gt1, epsg)
"""


def q_tiff_ingest(spark, sf_dir):
    """Real-world TIFF ingest contract (the reference's native format):
    four encodings of the deterministic 61x43 card — strip-deflate,
    strip-LZW, strip-PackBits, tiled-deflate-predictor2 — all decode
    through the Spark path to identical shape and pixel sum. The oracle
    recomputes the card sum relationally from the shared formula
    (120 + y//4 + x//3) % 256."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import tiff as TF

    yy, xx = np.mgrid[0:43, 0:61]
    card = ((120 + yy // 4 + xx // 3) % 256).astype(np.uint8)
    encs = {
        "strip_deflate": TF.encode_tiff(card, compression="deflate"),
        "strip_lzw": TF.encode_tiff(card, compression="lzw"),
        "strip_packbits": TF.encode_tiff(card, compression="packbits"),
        "tiled_pred": TF.encode_tiff(card, tile=(16, 16),
                                     compression="deflate", predictor=2),
    }
    src = spark.createDataFrame(pd.DataFrame(
        {"enc": list(encs), "bytes": list(encs.values())}))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import codecs
        for pdf in batches:
            out = {"enc": [], "w": [], "h": [], "px_sum": []}
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(bytes(r.bytes), "tiff")
                out["enc"].append(r.enc)
                out["h"].append(arr.shape[0])
                out["w"].append(arr.shape[1])
                out["px_sum"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        gen, schema="enc string, w int, h int, px_sum bigint")


SQL_TIFF_INGEST = """
WITH px AS (
  SELECT (120 + y // 4 + x // 3) % 256 AS v
  FROM (SELECT unnest(range(0, 43)) AS y)
  CROSS JOIN (SELECT unnest(range(0, 61)) AS x)),
tot AS (SELECT cast(sum(v) AS bigint) AS s FROM px)
SELECT enc, 61 AS w, 43 AS h, (SELECT s FROM tot) AS px_sum
FROM (VALUES ('strip_deflate'), ('strip_lzw'), ('strip_packbits'),
             ('tiled_pred')) e(enc)
"""


def q_cog_jpeg(spark, sf_dir):
    """Lossy JPEG-COG export contract (round 5): deterministic smooth
    40x40 gradient card → tile explode → overview pyramid →
    cog_write(compression='jpeg', quality 95 — new-style JPEG-in-TIFF,
    compression 7) → a second Spark stage decodes the IFD chain and
    checks the north-rule lossy-pixel invariant: PSNR ≥ 40 dB per
    level against the pre-encode pyramid (rebuilt in the worker via
    the same iterated 2x2-average the overview stage uses). Level
    dims are relational (ceil-halving from 40 down to min_size 16);
    the PSNR bound is the BASELINE north rule's decoded-pixel
    contract for lossy tiles."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen
    from godal_spark.operators import tiling as TL

    yy, xx = np.mgrid[0:40, 0:40]
    card = (30 + 4 * yy + xx).astype(np.uint8)  # smooth, no wraps
    imgs = datagen.images_df(spark, [datagen.image_row(
        "cogj", card, "raw8", gt=[0.0, 1.0, 0.0, 0.0, 0.0, -1.0],
        srs="EPSG:32630")])
    t0 = TL.explode_tiles(imgs, bw=16, bh=16)
    ov = TL.build_overviews(t0, min_size=16, block=16)
    cogs = TL.cog_write(t0.unionByName(ov), images_meta=imgs,
                        tile_size=16, compression="jpeg", quality=95)

    def read_back(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import tiff as TF
        from godal_spark.functions.resampling import resample
        y2, x2 = np.mgrid[0:40, 0:40]
        exp = (30 + 4 * y2 + x2).astype(np.uint8)
        for pdf in batches:
            out = {"level_idx": [], "w": [], "h": [], "bits": [],
                   "compression": [], "psnr_ge_40": []}
            for r in pdf.itertuples(index=False):
                buf = bytes(r.cog)
                arrays, _ = TF.decode_tiff_all(buf)
                _, tag_list = TF._walk_ifds(buf)
                ref = exp
                for k, a in enumerate(arrays):
                    if k > 0:
                        ref = resample(ref, ref.shape[1] // 2,
                                       ref.shape[0] // 2, "average",
                                       path="overview")
                    mse = np.mean((a.astype(np.float64)
                                   - ref.astype(np.float64)) ** 2)
                    ps = 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2
                                                             / mse)
                    out["level_idx"].append(k)
                    out["h"].append(a.shape[0])
                    out["w"].append(a.shape[1])
                    out["bits"].append(
                        int(tag_list[k][TF._T_BITS_PER_SAMPLE][0]))
                    out["compression"].append(
                        int(tag_list[k][TF._T_COMPRESSION][0]))
                    out["psnr_ge_40"].append(bool(ps >= 40.0))
            yield pd.DataFrame(out)

    return cogs.mapInPandas(
        read_back, schema="level_idx int, w int, h int, bits int, "
                          "compression int, psnr_ge_40 boolean")


SQL_COG_JPEG = """
SELECT * FROM (VALUES
  (0, 40, 40, 8, 7, TRUE),
  (1, 20, 20, 8, 7, TRUE),
  (2, 10, 10, 8, 7, TRUE))
  t(level_idx, w, h, bits, compression, psnr_ge_40)
"""


def q_video_avi(spark, sf_dir):
    """REAL uncompressed-AVI video decode (round 5, functions/avi.py):
    six constant gray frames (value 10k) in a RIFF/AVI container,
    frame-sampled every 2 through the Spark path. Frame means are
    analytic (mean of a constant frame IS the constant), so the oracle
    derives (frame_idx, mean) relationally."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import avi as AV
    from godal_spark.operators import multimodal as MM

    payload = AV.encode_avi(
        [np.full((12, 16), 10 * k, np.uint8) for k in range(6)], rate=5)
    vids = spark.createDataFrame(pd.DataFrame(
        {"video_id": ["clip"], "bytes": [payload]}))
    out = MM.frame_sample_video(vids, every_n=2, total_frames=100)
    return out.select("video_id", "frame_idx",
                      F.round("mean", 4).alias("mean"))


SQL_VIDEO_AVI = """
SELECT 'clip' AS video_id, cast(2 * i AS int) AS frame_idx,
       cast(20.0 * i AS double) AS mean
FROM (SELECT unnest(range(0, 3)) AS i)
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition filters (operators/text.py
    repetition_stats): per-document top-2-gram / duplicate-2-gram /
    top-3-gram token fractions over the documents table, averaged per
    language. The Spark side is a pure relational plan (n-gram explode
    + two keyed groupBys); the oracle recomputes the same n-gram
    statistics independently in DuckDB list SQL."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = TX.repetition_stats(docs)
    return (rep.groupBy("lang")
            .agg(F.round(F.avg("top2gram_frac"), 4).alias("avg_top2"),
                 F.round(F.avg("dup2gram_frac"), 4).alias("avg_dup2"),
                 F.round(F.avg("top3gram_frac"), 4).alias("avg_top3"),
                 F.count("*").alias("n_docs"))
            .orderBy("lang"))


SQL_REPETITION = r"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM t WHERE len(toks) >= 2
),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
m2 AS (SELECT doc_id,
         round(max(c)::DOUBLE / sum(c), 6) AS top2,
         round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE
               / sum(c), 6) AS dup2
       FROM c2 GROUP BY 1),
g3 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
  FROM t WHERE len(toks) >= 3
),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
m3 AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top3
       FROM c3 GROUP BY 1)
SELECT t.lang,
       round(avg(coalesce(m2.top2, 0)), 4) AS avg_top2,
       round(avg(coalesce(m2.dup2, 0)), 4) AS avg_dup2,
       round(avg(coalesce(m3.top3, 0)), 4) AS avg_top3,
       count(*) AS n_docs
FROM t
LEFT JOIN m2 USING (doc_id)
LEFT JOIN m3 USING (doc_id)
GROUP BY t.lang
ORDER BY t.lang
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/text.py decontaminate): the
    GPT-3 appendix-C n-gram overlap procedure. A deterministic
    'benchmark' is derived from the corpus itself — every 37th document
    (doc_id % 37 == 3) contributes its first 12 normalized tokens — so
    contamination provably exists and BOTH engines can construct the
    identical eval set. The Spark side hashes grams (xxhash64 broadcast
    set); the oracle recomputes overlap from the gram STRINGS in DuckDB
    list SQL, so hash-vs-string agreement is itself part of the check."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import text as TX
    from godal_spark.operators.text import _norm_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = (docs.filter(F.col("doc_id") % 37 == 3)
             .select(F.concat_ws(
                 " ", F.slice(_norm_tokens(F.col("text")), 1, 12))
                 .alias("text")))
    r = TX.decontaminate(docs, bench, n=8)
    return (r.groupBy("lang")
            .agg(F.sum("n_gram_hits").cast("bigint").alias("sum_hits"),
                 F.sum("n_distinct_hits").cast("bigint")
                 .alias("sum_distinct_hits"),
                 F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
                 .cast("bigint").alias("n_contaminated"),
                 F.count("*").alias("n_docs"))
            .orderBy("lang"))


SQL_DECONTAMINATE = r"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
bench AS (
  SELECT array_to_string(toks[1:12], ' ') AS btext
  FROM t WHERE doc_id % 37 = 3
),
btoks AS (
  SELECT list_filter(string_split_regex(lower(btext), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM bench
),
bgrams AS (
  SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 6),
                         i -> array_to_string(toks[i:i+7], ' '))) AS g
  FROM btoks WHERE len(toks) >= 8
),
dgrams AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
                        i -> array_to_string(toks[i:i+7], ' '))) AS g
  FROM t WHERE len(toks) >= 8
),
hits AS (
  SELECT doc_id, count(*) AS nh, count(DISTINCT g) AS nd
  FROM dgrams JOIN bgrams USING (g) GROUP BY 1
)
SELECT t.lang,
       sum(coalesce(hits.nh, 0))::BIGINT AS sum_hits,
       sum(coalesce(hits.nd, 0))::BIGINT AS sum_distinct_hits,
       sum(CASE WHEN coalesce(hits.nd, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_contaminated,
       count(*) AS n_docs
FROM t LEFT JOIN hits USING (doc_id)
GROUP BY t.lang
ORDER BY t.lang
"""


def q_pii_scrub(spark, sf_dir):
    """PII detection + scrubbing (operators/text.py pii_stats): every
    document gets a deterministic injected email / IPv4 / phone span
    (constructed from doc_id with the SAME string expression on both
    sides), then the engine counts and masks them with JVM regexp
    built-ins. n_residual proves the scrub converged (no pattern
    matches its own placeholder); the oracle recomputes counts and the
    residual with RE2 in DuckDB — the patterns are restricted to the
    Java-regex/RE2 common subset, and that restriction is what this
    entry locks in."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com from 10."),
                 (F.col("doc_id") % 200).cast("string"),
                 F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
                 F.lit(" or +1 555 010 "),
                 (F.lit(1000) + F.col("doc_id") % 9000).cast("string")))
    r = TX.pii_stats(injected)
    return (r.groupBy("lang")
            .agg(F.sum("n_email").cast("bigint").alias("sum_emails"),
                 F.sum("n_ipv4").cast("bigint").alias("sum_ipv4"),
                 F.sum("n_phone").cast("bigint").alias("sum_phones"),
                 F.sum("n_residual").cast("bigint").alias("sum_residual"),
                 F.sum(F.length("text_scrubbed")).cast("bigint")
                 .alias("sum_scrubbed_len"),
                 F.count("*").alias("n_docs"))
            .orderBy("lang"))


SQL_PII_SCRUB = r"""
WITH inj AS (
  SELECT lang,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
              || '.0.' || CAST(doc_id % 250 AS VARCHAR)
              || ' or +1 555 010 ' || CAST(1000 + doc_id % 9000 AS VARCHAR)
           AS text
  FROM documents
),
pat AS (
  SELECT '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS email,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b' AS ipv4,
         '\+[0-9][0-9 ()-]{6,18}[0-9]' AS phone
),
scrubbed AS (
  SELECT lang,
         len(regexp_extract_all(text, email)) AS n_email,
         len(regexp_extract_all(text, ipv4)) AS n_ipv4,
         len(regexp_extract_all(text, phone)) AS n_phone,
         regexp_replace(regexp_replace(regexp_replace(
             text, email, '<EMAIL>', 'g'),
             ipv4, '<IPV4>', 'g'),
             phone, '<PHONE>', 'g') AS ts
  FROM inj, pat
)
SELECT lang,
       sum(n_email)::BIGINT AS sum_emails,
       sum(n_ipv4)::BIGINT AS sum_ipv4,
       sum(n_phone)::BIGINT AS sum_phones,
       sum(len(regexp_extract_all(ts, email))
           + len(regexp_extract_all(ts, ipv4))
           + len(regexp_extract_all(ts, phone)))::BIGINT AS sum_residual,
       sum(len(ts))::BIGINT AS sum_scrubbed_len,
       count(*) AS n_docs
FROM scrubbed, pat
GROUP BY lang
ORDER BY lang
"""


def q_buildvrt(spark, sf_dir):
    """BuildVRT (dataset.build_vrt, reference godal.go:3962-3995): a
    virtual mosaic = union of tile sets where LATER sources win on
    (band, level, block) collisions via a row_number window — no data
    copy. Two overlapping deterministic tile sets are derived from
    orders (base) and lineitem (partial overlay); the oracle recomputes
    the priority rule as a FULL OUTER JOIN + COALESCE in DuckDB."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # DuckDB's CAST(double AS BIGINT) ROUNDS while Spark's truncates
    # (round-5 ADVICE, medium): replicate the oracle's semantics with an
    # explicit half-up round — floor(x + 0.5) — so src0's block_y agrees
    # cell-for-cell at EVERY scale factor, not only where src1's
    # coalesce masks the divergence (verified identical to DuckDB over
    # the first 2M keys; x can never be exactly .5 since 23 is odd)
    src0 = (o.selectExpr("o_orderkey % 23 AS block_x",
                         "cast(floor(o_orderkey / 23 + 0.5) as bigint) % 17 AS block_y",
                         "1 AS band", "0 AS level", "o_totalprice AS v")
            .groupBy("block_x", "block_y", "band", "level")
            .agg(F.max("v").alias("px")))
    src1 = (li.filter("l_suppkey % 3 = 0")
            .selectExpr("l_orderkey % 23 AS block_x",
                        "l_partkey % 17 AS block_y",
                        "1 AS band", "0 AS level", "l_extendedprice AS v")
            .groupBy("block_x", "block_y", "band", "level")
            .agg(F.max("v").alias("px")))
    from godal_spark import dataset as DS

    v = DS.build_vrt([src0, src1])
    return v.agg(F.count("*").cast("bigint").alias("n_blocks"),
                 F.round(F.sum("px"), 2).alias("sum_px"),
                 F.sum(F.col("block_x") * 31 + F.col("block_y"))
                 .cast("bigint").alias("key_checksum"))


SQL_BUILDVRT = """
WITH src0 AS (
  SELECT o_orderkey % 23 AS block_x,
         CAST(o_orderkey / 23 AS BIGINT) % 17 AS block_y,
         max(o_totalprice) AS px
  FROM orders GROUP BY 1, 2
),
src1 AS (
  SELECT l_orderkey % 23 AS block_x, l_partkey % 17 AS block_y,
         max(l_extendedprice) AS px
  FROM lineitem WHERE l_suppkey % 3 = 0 GROUP BY 1, 2
),
vrt AS (
  SELECT coalesce(src1.block_x, src0.block_x) AS block_x,
         coalesce(src1.block_y, src0.block_y) AS block_y,
         coalesce(src1.px, src0.px) AS px
  FROM src0 FULL OUTER JOIN src1 USING (block_x, block_y)
)
SELECT count(*)::BIGINT AS n_blocks, round(sum(px), 2) AS sum_px,
       sum(block_x * 31 + block_y)::BIGINT AS key_checksum
FROM vrt
"""


def q_geom_boolean(spark, sf_dir):
    """Geometry booleans (functions/geom.py intersection/union/
    difference — the general concave+holes overlay): three constructed
    pairs whose exact areas are hand-derivable (rectilinear shapes:
    square-with-hole vs overlapping rect; L-shape vs square; operand
    fully inside the other's hole). The oracle is the constant table of
    those closed-form areas — the sieve/viewshed precedent for kernels
    SQL cannot express."""
    _ensure_workers_can_import(spark)
    cases = [
        ("hole_rect",
         "POLYGON ((0 0,10 0,10 10,0 10,0 0),(4 4,4 6,6 6,6 4,4 4))",
         "POLYGON ((8 -5,14 -5,14 15,8 15,8 -5))"),
        ("l_square",
         "POLYGON ((0 0,6 0,6 2,2 2,2 6,0 6,0 0))",
         "POLYGON ((1 1,5 1,5 5,1 5,1 1))"),
        ("in_hole",
         "POLYGON ((0 0,8 0,8 8,0 8,0 0),(2 2,2 6,6 6,6 2,2 2))",
         "POLYGON ((3 3,5 3,5 5,3 5,3 3))"),
    ]
    rows = [(c, wa, wb, op) for c, wa, wb in cases
            for op in ("intersection", "union", "difference")]
    df = spark.createDataFrame(
        rows, "case_id string, wkt_a string, wkt_b string, op string")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import geom as G
        for pdf in batches:
            out = {"case_id": [], "op": [], "area": []}
            for r in pdf.itertuples(index=False):
                a, b = G.from_wkt(r.wkt_a), G.from_wkt(r.wkt_b)
                g = getattr(G, r.op)(a, b)
                out["case_id"].append(r.case_id)
                out["op"].append(r.op)
                out["area"].append(round(g.area(), 6))
            yield pd.DataFrame(out)

    return df.repartition(3, "case_id").mapInPandas(
        compute, schema="case_id string, op string, area double")


SQL_GEOM_BOOLEAN = """
SELECT * FROM (VALUES
  ('hole_rect', 'intersection', 20.0),
  ('hole_rect', 'union',       196.0),
  ('hole_rect', 'difference',   76.0),
  ('l_square',  'intersection',  7.0),
  ('l_square',  'union',        29.0),
  ('l_square',  'difference',   13.0),
  ('in_hole',   'intersection',  0.0),
  ('in_hole',   'union',        52.0),
  ('in_hole',   'difference',   48.0)
) AS t(case_id, op, area)
"""


def q_vector_roundtrip(spark, sf_dir):
    """VectorTranslate round-trip (operators/vector.vector_translate,
    reference godal.go:3997-4044): nation footprints written as
    WKT-encoded CSV, read back with Spark's csv reader, geometries
    re-parsed from WKT and re-measured — per-foo-class feature counts
    and exact box areas must survive the format hop. The oracle
    recomputes areas straight from the nation-derived box formula."""
    _ensure_workers_can_import(spark)
    import os
    import tempfile

    from godal_spark.operators import vector as V

    fps = _nation_footprints(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="godal_vt_")
    out = os.path.join(tmp, "nations_csv")
    V.vector_translate(fps, out, fmt="csv")
    back = spark.read.option("header", True).csv(out)

    def areas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from godal_spark.functions import geom as G
        for pdf in batches:
            o = {"foo": [], "area": []}
            for r in pdf.itertuples(index=False):
                o["foo"].append(r.foo)
                o["area"].append(G.from_wkt(r.geometry).area())
            yield pd.DataFrame(o)

    per = back.mapInPandas(areas, schema="foo string, area double")
    return _read_then_remove(
        per.groupBy("foo")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.round(F.sum("area"), 4).alias("sum_area"))
        .orderBy("foo"), tmp)


SQL_VECTOR_ROUNDTRIP = """
WITH fp AS (
  SELECT CASE WHEN n_nationkey % 2 = 0 THEN 'bar' ELSE 'baz' END AS foo,
         60.0 * 28.0 AS area
  FROM nation
)
SELECT foo, count(*)::BIGINT AS n, round(sum(area), 4) AS sum_area
FROM fp GROUP BY foo ORDER BY foo
"""


def q_scale_offset_stats(spark, sf_dir):
    """Band Scale/Offset (dataset.set_scale_offset/apply_scale_offset,
    reference godal.go:216-232, golden godal_test.go:569-589): six raw8
    ramp images opened through the catalog facade, per-band scale and
    offset attached, physical values = raw * scale + offset. The oracle
    regenerates the ramp AND the scale formula in SQL — a real
    recomputation, not a constant table."""
    _ensure_workers_can_import(spark)
    from godal_spark import datagen, dataset as DS

    rows = []
    for i in range(6):
        arr = ((np.arange(17 * 24) * (i + 3)) % 251) \
            .astype(np.uint8).reshape(17, 24)
        rows.append(datagen.image_row(f"im{i}", arr, "raw8"))
    cat = DS.RasterCatalog(spark, datagen.images_df(spark, rows), block=16)
    out = []
    for i in range(6):
        ds = cat.open(f"im{i}")
        ds.set_scale_offset(0, 0.5 + i * 0.25, -3.0 + i)
        if i == 5:            # Clear resets to the 1.0/0.0 identity
            ds.clear_scale_offset(0)
        phys = ds.apply_scale_offset(0)
        out.append((f"im{i}", round(float(phys.mean()), 4),
                    round(float(phys.min()), 4),
                    round(float(phys.max()), 4)))
    return spark.createDataFrame(
        out, "image_id string, mean double, mn double, mx double")


SQL_SCALE_OFFSET_STATS = """
WITH i AS (SELECT unnest(range(0, 6)) AS i),
px AS (SELECT i, unnest(range(0, 408)) AS k FROM i),
v AS (
  SELECT i,
         CAST((k * (i + 3)) % 251 AS DOUBLE)
           * (CASE WHEN i = 5 THEN 1.0 ELSE 0.5 + i * 0.25 END)
           + (CASE WHEN i = 5 THEN 0.0 ELSE -3.0 + i END) AS p
  FROM px
)
SELECT 'im' || CAST(i AS VARCHAR) AS image_id,
       round(avg(p), 4) AS mean, round(min(p), 4) AS mn,
       round(max(p), 4) AS mx
FROM v GROUP BY i
"""


def q_crs_bounds(spark, sf_dir):
    """reprojectBounds (functions/crs.reproject_bounds, reference
    srs.go:74-106): corner-only bounds reprojection — exactly the 4
    corners, min/max, NO densification (the reference quirk). 25
    nation-derived lon/lat boxes to EPSG:3857; the oracle recomputes
    the spherical-Mercator forward formulas directly in SQL
    (x = R*radians(lon), y = R*ln(tan(pi/4 + lat/2)); rounding at 2
    decimals absorbs last-ULP libm differences)."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import crs as C

    keys = [r.n_nationkey for r in spark.read.parquet(
        f"{sf_dir}/nation.parquet").select("n_nationkey").collect()]
    out = []
    for n in sorted(keys):
        minx = -170.0 + (n * 13) % 330
        miny = -80.0 + (n * 7) % 155
        box = (minx, miny, minx + 5.0, miny + 3.0)
        bx = C.reproject_bounds(box, "EPSG:4326", "EPSG:3857")
        # + 0.0 folds IEEE -0.0 to +0.0 (ln(tan(pi/4)) at lat 0 can
        # land on either side of zero depending on the libm)
        out.append((n, round(bx[0], 2) + 0.0, round(bx[1], 2) + 0.0,
                    round(bx[2], 2) + 0.0, round(bx[3], 2) + 0.0))
    return spark.createDataFrame(
        out, "n_nationkey long, minx double, miny double, "
             "maxx double, maxy double")


SQL_CRS_BOUNDS = """
WITH b AS (
  SELECT n_nationkey,
         -170.0 + (n_nationkey * 13) % 330 AS lon0,
         -80.0 + (n_nationkey * 7) % 155 AS lat0
  FROM nation
)
SELECT n_nationkey,
       round(6378137.0 * radians(lon0), 2) + 0 AS minx,
       round(6378137.0 * ln(tan(pi() / 4 + radians(lat0) / 2)), 2) + 0
         AS miny,
       round(6378137.0 * radians(lon0 + 5.0), 2) + 0 AS maxx,
       round(6378137.0 * ln(tan(pi() / 4 + radians(lat0 + 3.0) / 2)), 2) + 0
         AS maxy
FROM b
"""


def q_gcps_affine(spark, sf_dir):
    """GCPsToGeoTransform (functions/crs.fit_gcps, reference
    godal.go:4404-4458, golden godal_test.go:5191-5241): least-squares
    affine from ground control points. Each case's GCP grid is
    generated from a known affine, so the exactly-consistent system
    recovers that affine to machine precision — the oracle is the
    constant table of the generating coefficients."""
    _ensure_workers_can_import(spark)
    from godal_spark.functions import crs as C

    affines = [("ident_ish", [10.0, 0.5, 0.1, 20.0, -0.2, 0.8]),
               ("rotated", [-3.5, 0.0, 2.0, 7.25, -1.5, 0.0]),
               ("scaled", [100.0, 30.0, 0.0, -50.0, 0.0, -30.0])]
    out = []
    for name, gt in affines:
        gcps = []
        for p in (0.0, 5.0, 11.0):
            for l in (0.0, 7.0, 13.0):
                gcps.append((p, l, gt[0] + gt[1] * p + gt[2] * l,
                             gt[3] + gt[4] * p + gt[5] * l))
        c = C.fit_gcps(gcps)
        out.append((name, *[round(x, 6) + 0.0 for x in c]))
    return spark.createDataFrame(
        out, "case_id string, c0 double, c1 double, c2 double, "
             "c3 double, c4 double, c5 double")


SQL_GCPS_AFFINE = """
SELECT * FROM (VALUES
  ('ident_ish', 10.0, 0.5, 0.1, 20.0, -0.2, 0.8),
  ('rotated', -3.5, 0.0, 2.0, 7.25, -1.5, 0.0),
  ('scaled', 100.0, 30.0, 0.0, -50.0, 0.0, -30.0)
) AS t(case_id, c0, c1, c2, c3, c4, c5)
"""


def q_salted_agg(spark, sf_dir):
    """Skew salting (plans/skew.salted_join): lineitem joined to a
    3-row dimension on l_returnflag — maximal key skew, the shape that
    motivates salting at 100 TB — through the S=8 salted join, then a
    keyed aggregation. The oracle is the plain unsalted join in DuckDB:
    salted == unsalted is the operator's entire contract, checked
    inside the driver gate (not just pytest)."""
    from godal_spark.plans import skew

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_returnflag", "l_quantity")
    dim = (li.select("l_returnflag").distinct()
           .withColumn("wt", (F.ascii(F.substring("l_returnflag", 1, 1))
                              - F.lit(60)).cast("double")))
    j = skew.salted_join(li, dim, on="l_returnflag", salt=8)
    return (j.groupBy("l_returnflag")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum(F.col("l_quantity") * F.col("wt")), 2)
                 .alias("wsum"))
            .orderBy("l_returnflag"))


SQL_SALTED_AGG = """
WITH dim AS (
  SELECT DISTINCT l_returnflag,
         CAST(ascii(substr(l_returnflag, 1, 1)) - 60 AS DOUBLE) AS wt
  FROM lineitem
)
SELECT li.l_returnflag, count(*)::BIGINT AS n,
       round(sum(li.l_quantity * dim.wt), 2) AS wsum
FROM lineitem li JOIN dim USING (l_returnflag)
GROUP BY li.l_returnflag
ORDER BY li.l_returnflag
"""


def q_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd k-means (similarity.kmeans_fit/kmeans_assign —
    the SemDeDup semantic-clustering building block; every iteration is
    one distributed assignment + one (cluster, dim) keyed aggregation).
    The instance is three well-separated balls with min-id init placing
    one seed per ball, so convergence to the exact ball means is
    provable and the oracle recomputes those means (and sizes) straight
    from the generating formula in SQL."""
    _ensure_workers_can_import(spark)
    from godal_spark.operators import similarity as SIM

    df = spark.range(90).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 5), d -> CAST("
        "  CASE WHEN d = id % 3 THEN 10.0"
        "       WHEN d = 3 + id % 3 THEN ((id * 7) % 5) / 100.0"
        "       ELSE 0.0 END AS double)) AS embedding").cache()
    C, _ = SIM.kmeans_fit(df, 3, max_iters=10)
    a = SIM.kmeans_assign(df, C)
    sizes = {r.cluster_id: r["n"] for r in
             a.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()}
    rows = [(int(j), int(sizes[j]), *[round(float(x), 6) + 0.0 for x in C[j]])
            for j in range(3)]
    df.unpersist()
    return spark.createDataFrame(
        rows, "cluster_id int, n bigint, c0 double, c1 double, c2 double, "
              "c3 double, c4 double, c5 double")


SQL_KMEANS_CLUSTERS = """
WITH pts AS (
  SELECT i % 3 AS ball, ((i * 7) % 5) / 100.0 AS jit
  FROM (SELECT unnest(range(0, 90)) AS i)
)
SELECT ball AS cluster_id, count(*)::BIGINT AS n,
       round(avg(CASE WHEN ball = 0 THEN 10.0 ELSE 0.0 END), 6) AS c0,
       round(avg(CASE WHEN ball = 1 THEN 10.0 ELSE 0.0 END), 6) AS c1,
       round(avg(CASE WHEN ball = 2 THEN 10.0 ELSE 0.0 END), 6) AS c2,
       round(avg(CASE WHEN ball = 0 THEN jit ELSE 0.0 END), 6) AS c3,
       round(avg(CASE WHEN ball = 1 THEN jit ELSE 0.0 END), 6) AS c4,
       round(avg(CASE WHEN ball = 2 THEN jit ELSE 0.0 END), 6) AS c5
FROM pts GROUP BY ball ORDER BY ball
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY = (
    # (name, query, oracle SQL) in driver verification order: the
    # correctness gate checks the FIRST 50 entries only, and rounds 1-5
    # grew the registry past the cap — everything after color_relief had
    # never appeared in a driver artifact (round-5 verdict #1). The 29
    # previously-unchecked entries therefore come FIRST; the
    # long-verified round-1/2 block follows. docs/COVERAGE.md lists the
    # window (tests/test_oracle_parity.py checks it).
    ("crs_3857", q_crs_3857, SQL_CRS_3857),
    ("crs_world", q_crs_world, SQL_CRS_WORLD),
    ("geom_overlay", q_geom_overlay, SQL_GEOM_OVERLAY),
    ("gcps_fit", q_gcps_fit, SQL_GCPS_FIT),
    ("reproject_bounds", q_reproject_bounds, SQL_REPROJECT_BOUNDS),
    ("vector_translate", q_vector_translate, SQL_VECTOR_TRANSLATE),
    ("reproject_layer", q_reproject_layer, SQL_REPROJECT_LAYER),
    ("feature_crud", q_feature_crud, SQL_FEATURE_CRUD),
    ("warp_into", q_warp_into, SQL_WARP_INTO),
    ("lineage_resume", q_lineage_resume, SQL_LINEAGE_RESUME),
    ("catalog_lod", q_catalog_lod, SQL_CATALOG_LOD),
    ("token_bpe", q_token_bpe, SQL_TOKEN_BPE),
    ("fingerprint", q_fingerprint, SQL_FINGERPRINT),
    ("crs_osgb", q_crs_osgb, SQL_CRS_OSGB),
    ("cog_roundtrip", q_cog_roundtrip, SQL_COG_ROUNDTRIP),
    ("tiff_ingest", q_tiff_ingest, SQL_TIFF_INGEST),
    ("cog_jpeg", q_cog_jpeg, SQL_COG_JPEG),
    ("repetition", q_repetition, SQL_REPETITION),
    ("decontaminate", q_decontaminate, SQL_DECONTAMINATE),
    ("pii_scrub", q_pii_scrub, SQL_PII_SCRUB),
    ("buildvrt", q_buildvrt, SQL_BUILDVRT),
    ("geom_boolean", q_geom_boolean, SQL_GEOM_BOOLEAN),
    ("vector_roundtrip", q_vector_roundtrip, SQL_VECTOR_ROUNDTRIP),
    ("scale_offset_stats", q_scale_offset_stats, SQL_SCALE_OFFSET_STATS),
    ("crs_bounds", q_crs_bounds, SQL_CRS_BOUNDS),
    ("gcps_affine", q_gcps_affine, SQL_GCPS_AFFINE),
    ("salted_agg", q_salted_agg, SQL_SALTED_AGG),
    ("kmeans_clusters", q_kmeans_clusters, SQL_KMEANS_CLUSTERS),
    ("video_avi", q_video_avi, SQL_VIDEO_AVI),
    ("block_grid", q_block_grid, SQL_BLOCK_GRID),
    ("overview_plan", q_overview_plan, SQL_OVERVIEW_PLAN),
    ("overview_tiles", q_overview_tiles, SQL_OVERVIEW_TILES),
    ("pip_count", q_pip_count, SQL_PIP_COUNT),
    ("knn", q_knn, SQL_KNN),
    ("raster_stats", q_raster_stats, SQL_RASTER_STATS),
    ("histogram", q_histogram, SQL_HISTOGRAM),
    ("rasterize", q_rasterize, SQL_RASTERIZE),
    ("rasterize_tiles", q_rasterize_tiles, SQL_RASTERIZE_TILES),
    ("sieve", q_sieve, SQL_SIEVE),
    ("warp_mode", q_warp_mode, SQL_WARP_MODE),
    ("jpeg_ingest", q_jpeg_ingest, SQL_JPEG_INGEST),
    ("substring_dedup", q_substring_dedup, SQL_SUBSTRING_DEDUP),
    ("dedup_clusters", q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    ("stream_dedup", q_stream_dedup, SQL_STREAM_DEDUP),
    ("translate_resize", q_translate_resize, SQL_TRANSLATE_RESIZE),
    ("bounds", q_bounds, SQL_BOUNDS),
    ("geom_area", q_geom_area, SQL_GEOM_AREA),
    ("sql_q1", q_sql_q1, SQL_Q1),
    ("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT),
    ("text_stats", q_text_stats, SQL_TEXT_STATS),
    ("ann_topk", q_ann_topk, SQL_ANN_TOPK),
    ("events_window", q_events_window, SQL_EVENTS_WINDOW),
    ("spatial_filter", q_spatial_filter, SQL_SPATIAL_FILTER),
    ("stats_approx", q_stats_approx, SQL_STATS_APPROX),
    ("events_json", q_events_json, SQL_EVENTS_JSON),
    ("sql_window", q_sql_window, SQL_SQL_WINDOW),
    ("dedup_minhash", q_dedup_minhash, SQL_DEDUP_MINHASH),
    ("events_sessions", q_events_sessions, SQL_EVENTS_SESSIONS),
    ("warp_mosaic", q_warp_mosaic, SQL_WARP_MOSAIC),
    ("overview_pixels", q_overview_pixels, SQL_OVERVIEW_PIXELS),
    ("translate_window", q_translate_window, SQL_TRANSLATE_WINDOW),
    ("knn_fine", q_knn_fine, SQL_KNN),
    ("quality_filter", q_quality_filter, SQL_QUALITY_FILTER),
    ("polygonize_diag", q_polygonize_diag, SQL_POLYGONIZE_DIAG),
    ("polygonize_dist", q_polygonize_dist, SQL_POLYGONIZE_DIAG),
    ("simhash_pairs", q_simhash_pairs, SQL_SIMHASH_PAIRS),
    ("ann_ivf", q_ann_ivf, SQL_ANN_IVF),
    ("lang_id", q_lang_id, SQL_LANG_ID),
    ("image_phash", q_image_phash, SQL_IMAGE_PHASH),
    ("dem_plane", q_dem_plane, SQL_DEM_PLANE),
    ("viewshed_modes", q_viewshed_modes, SQL_VIEWSHED_MODES),
    ("grid_linear", q_grid_linear, SQL_GRID_LINEAR),
    ("fillnodata", q_fillnodata, SQL_FILLNODATA),
    ("nearblack", q_nearblack, SQL_NEARBLACK),
    ("audio_wav", q_audio_wav, SQL_AUDIO_WAV),
    ("build_vrt", q_build_vrt, SQL_BUILD_VRT),
    ("scale_offset", q_scale_offset, SQL_SCALE_OFFSET),
    ("geom_containers", q_geom_containers, SQL_GEOM_CONTAINERS),
    ("color_relief", q_color_relief, SQL_COLOR_RELIEF),
)
