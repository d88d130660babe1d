"""kNN join: the exact top-k nearest points per query (north_rule
operator; absent in the reference — godal's closest analogue is Grid's
invdistnn neighbor search, godal.go:4001-4084).

Euclidean degree metric, `sqrt((qx-px)^2 + (qy-py)^2)` with no longitude
wrap (consistent with the oracle); ties broken by (dist, p_id). Rows with
a null or non-finite coordinate are dropped on both sides: such a point
is nobody's neighbor, and such a query produces no output rows.

Two physical paths. The broadcast tier runs whenever the point side
holds at most BROADCAST_BUDGET points; the ring tiers run above it.

Broadcast tier (one job plus the caller's action):

  P is collected to the driver as Arrow in one job
  (`limit(BROADCAST_BUDGET + 1)`) and sorted by p_id, so index order is
  id order. The arrays are broadcast and ONE `mapInArrow` over the query
  side computes the exact top-k per Arrow batch by brute force: every
  query's distance to every point, the k-th smallest by partition, and
  the k nearest (plus ties with the k-th) ordered by (dist, index). No
  auto_res, ring join, checkpoint, isEmpty or re-probe job, and
  `complete` is `|P| >= k`. Its cost is |Q|·|P| distances, so it only
  pays while P is small: see BROADCAST_BUDGET.

Ring tiers (P above the budget), each orders of magnitude smaller than
the one before:

  1. ring pass — index both sides at one resolution (JVM arithmetic);
     explode each query point to its ring-0..R candidate cells (built-in
     sequence cross), equi-join on cell, distance (codegen),
     `row_number()` top-k.
  2. guaranteed re-probe — the ring top-k is only the TRUE top-k when
     the k-th distance is < R·min(cell_w, cell_h): any point outside the
     (2R+1)² block is at least that far away (the query sits somewhere
     inside its own cell, so every block face is ≥ R cells from it).
     Candidates at dist ≥ that bound are therefore dropped BEFORE the
     top-k sort (they can never certify — guide §2.3, sort fewer rows);
     queries left with < k in-bound candidates re-run the ring pass at
     doubling radii (2R, 4R, ...), each pass certified by the same
     argument, until resolved or the radius cap is hit.
  3. brute fallback — queries that found < k candidates in reach (or
     whose re-probe radius exceeds MAX_REPROBE_RINGS) get an exact
     cross-join + window pass. Pathological by construction (k close to
     |P|, or a query in an empty region), so the cross join is tiny.

The ring join's cost is (2R+1)² × |Q| candidate rows BEFORE the join —
explicit and tunable, unlike a cross join's |Q|×|P|. Each tier is an
eager Spark job (checkpoint, isEmpty), about 25 of them per call at the
benchmark's sizes, which is why the broadcast tier exists.

`res=None` picks the ring resolution from point density (like
pip.auto_res): aim for the (2R+1)² ring block to hold ≈ 8k candidates,
estimated from |P| and its bounding box. Too-coarse cells make the ring
pass near-brute-force (the round-1 res=4 configuration probed ~10 % of
all points per query); too-fine cells push every query into the
re-probe tier.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F, types as T

from godal_spark.functions import cellindex
from godal_spark.plans.driver_side import collect_bounded

_XSHIFT = 26
_RSHIFT = 52

# Largest point side the broadcast tier takes. Measured against the
# ring tiers (4-core host, warm session, k = 4, parquet inputs, median of
# 3 walls of knn_join(...).agg().first()): at 1k points the broadcast
# tier won at 10k, 100k and 1M queries (1.3 vs 4.2 s, 1.7 vs 4.8 s, 31
# vs 46 s); at 4k points it won at 10k and 100k queries (1.2 vs 3.3 s,
# 4.3 vs 4.9 s) but lost at 1M (116 vs 84 s); at 16k points it lost from
# 100k queries on (10.9 vs 5.6 s). Brute force is |Q|·|P| distances
# while the ring tiers cost a fixed ~25 jobs plus a few dozen candidates
# per query, so the budget is the largest size measured to win for every
# query side (1k, rounded up to 2^10). Above it the collect probe is wasted:
# 0.25 s on 1M points in 4 parquet splits, against 4.1-4.5 s for the
# ring tiers that follow (10k queries).
BROADCAST_BUDGET = 1 << 10
# distances (query x point) held at once per Arrow batch: 8 MB of float64
_DIST_CAP = 1 << 20
# widest ring radius the re-probe tier doubles to before the brute pass
MAX_REPROBE_RINGS = 64


def _cell_col(res: int):
    return (F.lit(res).cast("long") * F.lit(1 << _RSHIFT).cast("long")
            + F.col("cell_x") * F.lit(1 << _XSHIFT).cast("long") + F.col("cell_y"))


def cell_deg(res: int) -> tuple[float, float]:
    """(cell_w, cell_h) in degrees at resolution `res`."""
    n = 1 << res
    return 360.0 / n, 180.0 / n


def auto_res(points: DataFrame, k: int, rings: int = 2, *,
             lon: str = "lon", lat: str = "lat",
             lo: int = 2, hi: int = 12, target_factor: int = 8) -> int:
    """Resolution from point density: choose res so a query's ring block
    ((2·rings+1)² cells) holds ≈ target_factor·k points, estimating the
    per-cell density from |P| over its bounding-box cell span. One cheap
    metadata agg (count + 4 min/max) — no data collect."""
    st = points.agg(F.count("*").alias("n"),
                    F.min(lon).alias("x0"), F.max(lon).alias("x1"),
                    F.min(lat).alias("y0"), F.max(lat).alias("y1")).first()
    n_pts = st["n"] or 0
    if n_pts == 0:
        return lo
    frac = max(((st["x1"] - st["x0"]) / 360.0) * ((st["y1"] - st["y0"]) / 180.0),
               1e-6)
    block = (2 * rings + 1) ** 2
    # want: block * n_pts / (4^res * frac) ≈ target_factor * k
    want_cells = block * n_pts / (frac * max(target_factor * k, 1))
    res = int(round(math.log(max(want_cells, 1.0), 4)))
    return int(min(hi, max(lo, res)))


# ---------------------------------------------------------------------------
# broadcast tier: per-batch brute force against the broadcast point side
# ---------------------------------------------------------------------------

def _brute_topk(qx: np.ndarray, qy: np.ndarray, px: np.ndarray,
                py: np.ndarray, k: int):
    """Exact top-k by (dist, point index) of every query against every
    point (float64 coordinates, all finite). Returns (query, point index,
    dist, 0-based rank) per output row, sorted by query then rank."""
    n, kk = len(px), min(k, len(px))
    none = np.empty(0, np.int64)
    parts = [(none, none, np.empty(0), none)]
    step = max(1, _DIST_CAP // max(n, 1))
    for s in range(0, len(qx) if n else 0, step):
        # the same formula as _ring_candidates and the SQL oracle
        d = np.sqrt((qx[s:s + step, None] - px) ** 2 + (qy[s:s + step, None] - py) ** 2)
        kth = np.partition(d, kk - 1, axis=1)[:, kk - 1:kk]
        # the kk nearest plus any ties with the kk-th, ordered by
        # (query, dist, index); index order is id order
        q, j = np.nonzero(d <= kth)
        dj = d[q, j]
        o = np.lexsort((j, dj, q))
        q, j, dj = q[o], j[o], dj[o]
        cnt = np.bincount(q, minlength=len(d))
        rank = np.arange(len(q)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        keep = rank < kk
        parts.append((q[keep] + s, j[keep], dj[keep], rank[keep]))
    return tuple(np.concatenate(c) for c in zip(*parts))


def _valid(lon: str, lat: str):
    """Both coordinates non-null and finite. Spark orders NaN above +inf
    and a null comparison is null, so one `abs(c) < inf` per column drops
    null, NaN and ±inf alike."""
    inf = F.lit(float("inf"))
    return (F.abs(F.col(lon)) < inf) & (F.abs(F.col(lat)) < inf)


def _collect_points(points: DataFrame, p_id: str, p_lon: str, p_lat: str):
    """P as (ids, lons, lats) Arrow arrays sorted by id, in ONE job; None
    when P holds more than BROADCAST_BUDGET points. Arrow sorts nulls
    first, like Spark's ascending order."""
    import pyarrow.compute as pc

    tbl = collect_bounded(points.select(
        F.col(p_id).alias("id"), F.col(p_lon).alias("x"),
        F.col(p_lat).alias("y")), BROADCAST_BUDGET)
    if tbl is None:
        return None
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("id", "ascending")],
                                   null_placement="at_start"))
    return [tbl.column(c).combine_chunks() for c in ("id", "x", "y")]


def _broadcast_knn(queries: DataFrame, points: DataFrame, collected, k: int,
                   q_lon: str, q_lat: str, p_id: str, p_lon: str,
                   p_lat: str) -> DataFrame:
    """The exact top-k of every query in one mapInArrow over the query
    side, against the broadcast point side."""
    import pyarrow as pa

    bc = queries.sparkSession.sparkContext.broadcast(collected)
    ptype = {f.name: f.dataType for f in points.schema.fields}
    schema = T.StructType(list(queries.schema.fields) + [
        T.StructField("neighbor_id", ptype[p_id]),
        T.StructField("neighbor_lon", ptype[p_lon]),
        T.StructField("neighbor_lat", ptype[p_lat]),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("complete", T.BooleanType())])
    names = schema.fieldNames()
    ix, iy = queries.columns.index(q_lon), queries.columns.index(q_lat)
    complete = len(collected[0]) >= k

    # built per call: a closure over this call's broadcast (module-level
    # UDFs keep the first SparkContext's state after a restart)
    def topk(batches):
        pid, plon, plat = bc.value
        px, py = (np.asarray(c.to_numpy(zero_copy_only=False), dtype=np.float64)
                  for c in (plon, plat))
        for b in batches:
            qx, qy = (np.asarray(b.column(i).to_numpy(zero_copy_only=False),
                                 dtype=np.float64) for i in (ix, iy))
            q, p, d, rank = _brute_topk(qx, qy, px, py, k)
            q, p = pa.array(q), pa.array(p)
            cols = [c.take(q) for c in b.columns] + [
                pid.take(p), plon.take(p), plat.take(p),
                pa.array(d, pa.float64()), pa.array(rank + 1, pa.int32()),
                pa.array(np.full(len(q), complete))]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return queries.mapInArrow(topk, schema)


def _ring_candidates(q: DataFrame, p: DataFrame, res: int, rings_col,
                     q_id: str, q_lon: str, q_lat: str) -> DataFrame:
    """Explode q to its ring cells (rings_col may be per-row), join on
    cell, compute distance. p must carry (cell, __pid, __plon, __plat)."""
    n = 1 << res
    qx, qy, _ = cellindex.spark_cell_cols(F.col(q_lon), F.col(q_lat), res)
    qq = (q.withColumn("qcx", qx).withColumn("qcy", qy)
          .withColumn("__r", rings_col.cast("int"))
          .withColumn("dx", F.explode(F.sequence(-F.col("__r"), F.col("__r"))))
          .withColumn("dy", F.explode(F.sequence(-F.col("__r"), F.col("__r"))))
          .withColumn("cell_x", F.pmod(F.col("qcx") + F.col("dx"), F.lit(n)).cast("long"))
          .withColumn("cell_y", (F.col("qcy") + F.col("dy")).cast("long"))
          .filter((F.col("cell_y") >= 0) & (F.col("cell_y") < n))
          .withColumn("cell", _cell_col(res))
          .drop("dx", "dy", "qcx", "qcy", "cell_x", "cell_y", "__r"))
    return qq.join(p, "cell").withColumn(
        "dist",
        F.sqrt(F.pow(F.col(q_lon) - F.col("__plon"), 2)
               + F.pow(F.col(q_lat) - F.col("__plat"), 2))).drop("cell")


def _rank_topk(cand: DataFrame, k: int, q_id: str) -> DataFrame:
    w = Window.partitionBy(q_id).orderBy(F.col("dist").asc(), F.col("__pid").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _finalize(ranked: DataFrame, complete_col) -> DataFrame:
    return (ranked.withColumn("complete", complete_col)
            .withColumnRenamed("__pid", "neighbor_id")
            .withColumnRenamed("__plon", "neighbor_lon")
            .withColumnRenamed("__plat", "neighbor_lat"))


def knn_join(queries: DataFrame, points: DataFrame, k: int, *,
             q_id: str, q_lon: str = "lon", q_lat: str = "lat",
             p_id: str, p_lon: str = "lon", p_lat: str = "lat",
             res: int | None = None, rings: int = 2,
             broadcast_points: bool = False) -> DataFrame:
    """Top-k nearest points per query. Output columns: the query's
    columns, neighbor_id/neighbor_lon/neighbor_lat, dist, rank (1-based),
    and `complete`.

    Results are the EXACT top-k and `complete` is `found == k` (false
    only when k > |P|). A point side of at most BROADCAST_BUDGET points
    takes the broadcast tier (one job to collect P, then one Arrow
    stage); `res`, `rings` and `broadcast_points` only shape the ring
    tiers, which run above the budget: candidates beyond the
    certification bound (rings·min cell size) are pruned before the
    top-k sort, and queries left with fewer than k certified candidates
    are re-probed at doubling radii (exact at every step), falling back
    to a cross-join brute pass for the (pathological) remainder.

    Deterministic: ties broken by (dist, p_id). Rows with a null or
    non-finite coordinate are dropped on both sides: a point with one is
    never a neighbor, and a query with one produces no output rows (it
    is not reported as incomplete). Raises ValueError for k < 1 or
    rings < 1 before any job runs.
    """
    if k < 1:
        raise ValueError(f"knn_join: k must be >= 1, got {k}")
    if rings < 1:
        raise ValueError(f"knn_join: rings must be >= 1, got {rings}")
    queries = queries.filter(_valid(q_lon, q_lat))
    points = points.filter(_valid(p_lon, p_lat))

    # the driver tables read as ONE split (guide §2.2) — without this the
    # whole ring pass (explode x broadcast join x top-k sort) ran as a
    # single task (measured 5.2 s of a 5.5 s knn wall in one task at
    # sf1.0), and so would the broadcast tier's Arrow stage; no-op when
    # the query side already has enough splits
    from godal_spark.plans.skew import spread_small_scan

    queries = spread_small_scan(queries)

    collected = _collect_points(points, p_id, p_lon, p_lat)
    if collected is not None:
        return _broadcast_knn(queries, points, collected, k,
                              q_lon, q_lat, p_id, p_lon, p_lat)

    if res is None:
        res = auto_res(points, k, rings, lon=p_lon, lat=p_lat)
    n = 1 << res
    cw, ch = cell_deg(res)
    min_cell = min(cw, ch)
    bound = rings * min_cell

    px, py, pcell = cellindex.spark_cell_cols(F.col(p_lon), F.col(p_lat), res)
    p = points.withColumn("cell", pcell).select(
        "cell", F.col(p_id).alias("__pid"),
        F.col(p_lon).alias("__plon"), F.col(p_lat).alias("__plat"))
    if broadcast_points:
        p = F.broadcast(p)

    cand = _ring_candidates(queries, p, res, F.lit(rings), q_id, q_lon, q_lat)
    # ring cells are distinct, EXCEPT when the ring span wraps the whole
    # longitude range (2*rings+1 >= 2^res): then the pmod wrap aliases
    # cells and the same point appears twice for one query — dedup
    if 2 * rings + 1 >= n:
        cand = cand.dropDuplicates([q_id, "__pid"])

    # EXACT prefilter (guide §2.3 — sort/shuffle fewer rows): a candidate at
    # dist >= bound can never be part of a CERTIFIED top-k (certification
    # requires kth < bound), so drop it before the top-k sort. If a query
    # keeps >= k candidates, its filtered top-k IS the exact global top-k
    # (at least k candidates sit below `bound`, and every point outside the
    # ring block is >= bound away); queries left with < k candidates are
    # re-probed below at doubling radii, each pass certified the same way.
    cand = cand.filter(F.col("dist") < bound)
    # the certification check below is an ACTION; without materialization
    # the ring pass would run once for the check and again for the
    # caller's action. `ranked` is result-sized (≤ |Q|·k rows).
    ranked = _rank_topk(cand, k, q_id).localCheckpoint(eager=True)
    stats = ranked.groupBy(q_id).agg(F.count("*").alias("__found"))
    good_ids = stats.filter(F.col("__found") >= k).select(q_id)
    # bad = fewer than k in-bound candidates (incl. zero -> absent here)
    qcols = queries.columns
    remaining = queries.join(good_ids, q_id, "left_anti").select(*qcols)
    # isEmpty (limit-1 short-circuit), not count(): the dense-corpus fast
    # path only needs the boolean and stops at the first surviving row
    has_bad = not remaining.isEmpty()
    if not has_bad:
        return _finalize(ranked, F.lit(True))

    parts = [_finalize(ranked.join(good_ids, q_id, "left_semi"), F.lit(True))]

    # tier 2: doubling-radius re-probe. Radius r certifies any query that
    # finds >= k candidates at dist < r·min_cell (every point outside the
    # (2r+1)² block is >= r·min_cell away), so each pass is exact for the
    # queries it resolves; the rest widen again. Replaces the old
    # kth-derived single re-probe: with the prefilter above a bad query
    # has no observed kth to derive a radius from, and geometric doubling
    # reaches the same cap in <= log2(MAX_REPROBE_RINGS) passes — each
    # over a strictly shrinking query set.
    r = 2 * rings
    while has_bad and r <= MAX_REPROBE_RINGS:
        rbound = r * min_cell
        rcand = _ring_candidates(remaining, p, res, F.lit(r), q_id, q_lon, q_lat)
        # per-query rings may wrap the grid — always dedup this (small) tier
        rcand = rcand.dropDuplicates([q_id, "__pid"]) \
                     .filter(F.col("dist") < F.lit(rbound))
        rranked = _rank_topk(rcand, k, q_id).localCheckpoint(eager=True)
        rgood = (rranked.groupBy(q_id).agg(F.count("*").alias("__rf"))
                 .filter(F.col("__rf") >= k).select(q_id))
        parts.append(_finalize(
            rranked.join(rgood, q_id, "left_semi"), F.lit(True)))
        remaining = remaining.join(rgood, q_id, "left_anti")
        has_bad = not remaining.isEmpty()
        r *= 2

    if has_bad:
        # tier 3: brute — exact cross join for the pathological remainder
        # (a query with < k neighbors inside the re-probe cap, or k > |P|)
        pb = points.select(F.col(p_id).alias("__pid"),
                           F.col(p_lon).alias("__plon"), F.col(p_lat).alias("__plat"))
        bcand = (F.broadcast(remaining).crossJoin(pb)
                 .withColumn("dist",
                             F.sqrt(F.pow(F.col(q_lon) - F.col("__plon"), 2)
                                    + F.pow(F.col(q_lat) - F.col("__plat"), 2))))
        branked = _rank_topk(bcand, k, q_id)
        bstats = branked.groupBy(q_id).agg(F.max("rank").alias("__bf"))
        parts.append(_finalize(
            branked.join(bstats, q_id).withColumn("c", F.col("__bf") >= k)
            .drop("__bf"), F.col("c")).drop("c"))

    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out
