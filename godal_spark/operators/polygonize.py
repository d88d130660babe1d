"""Raster→vector: Polygonize + SieveFilter (reference godal.go:348-413).

Golden contracts (godal_test.go:2175-2281, 3995-4078):
  * Polygonize: connected components of equal-valued pixels; 4-connected
    default, EightConnected() option; pixels masked out (nodata mask)
    excluded by default, NoMask() keeps them, Mask(band) overrides.
    diag 8x8 → 10 features (4-conn) / 2 (8-conn); masked quarter → 48.
  * SieveFilter: components smaller than threshold take the value of
    their largest neighboring component; mask pixels preserved;
    8-connected diagonal of 10 px survives threshold 3.

Two plans over level-0 tiles:
  * gathered (`polygonize`): the tiles of one (image_id, band) gather
    into one task (`groupBy(...).applyInPandas`) and polygonize_array
    runs on the whole plane. Parallelism comes from the image count;
    each plane must fit one task's memory.
  * tiled (`polygonize_tiles`, `sieve_tiles`): no raster is ever
    gathered. Each tile labels its own components and emits its seam
    strips (_labeled_tiles); _border_pairs pairs pixels across tile
    borders into equivalence edges (one component) and adjacency edges
    (sieve's merge candidates); plans.components.component_roots turns
    the equivalence edges into roots, on the driver while they fit
    driver_side.MAX_ROWS and by distributed pointer doubling beyond;
    then the parts merge per root (dissolved geometry, or the sieve's
    rewrite).

NaN equals nothing, so every NaN pixel is a 1-px component whose value
is NaN on both polygonize paths.

Geometry emission: components trace to rectilinear rings (interior-left
directed edge walk). Components whose 8-conn boundary self-touches
(corner-connected squares) emit MultiPolygon — same feature count and
area as GDAL's self-touching Polygon, structural deviation documented.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from godal_spark.functions import geom as G
from godal_spark.plans import driver_side
from godal_spark.plans.components import _driver_roots, component_roots
from godal_spark.plans.driver_side import collect_bounded, release
from godal_spark.plans.skew import aqe_wrapped


# ---------------------------------------------------------------------------
# connected-component labeling (pure numpy union-find)
# ---------------------------------------------------------------------------

def label_components(arr: np.ndarray, eight: bool = False,
                     valid: np.ndarray | None = None) -> tuple[np.ndarray, int]:
    """Label equal-valued connected regions. Returns (labels, n) where
    labels[y,x] = component id in [0, n) or -1 for invalid pixels."""
    h, w = arr.shape
    if valid is None:
        valid = np.ones((h, w), dtype=bool)
    idx = np.arange(h * w, dtype=np.int64).reshape(h, w)
    parent = np.arange(h * w, dtype=np.int64)

    def pairs(sl_a, sl_b):
        m = valid[sl_a] & valid[sl_b] & (arr[sl_a] == arr[sl_b])
        return idx[sl_a][m], idx[sl_b][m]

    links = [
        pairs(np.s_[:, 1:], np.s_[:, :-1]),   # left
        pairs(np.s_[1:, :], np.s_[:-1, :]),   # up
    ]
    if eight:
        links.append(pairs(np.s_[1:, 1:], np.s_[:-1, :-1]))   # up-left
        links.append(pairs(np.s_[1:, :-1], np.s_[:-1, 1:]))   # up-right

    # vectorized FastSV-style resolution (round-2: the per-link Python
    # union-find loop dominated megapixel rasters): alternate edge
    # min-relaxation with full pointer-doubling compression; converges in
    # O(log diameter) rounds, each a handful of O(area) numpy ops. The
    # fixed point assigns every pixel its component's MINIMUM flat index
    # — identical labels to the old union-by-min code.
    del parent
    flat_valid = valid.ravel()
    lab = np.where(flat_valid, np.arange(h * w, dtype=np.int64), -1)
    if links:
        a_idx = np.concatenate([a for a, _ in links]) if links else np.empty(0, np.int64)
        b_idx = np.concatenate([b for _, b in links]) if links else np.empty(0, np.int64)
        if a_idx.size:
            vmask = lab >= 0
            while True:
                prev = lab.copy()
                # hook ROOTS, not nodes: scattering the neighbor's root
                # onto this node's ROOT lets the next compression pass
                # relabel the node's whole tree at once — O(log n)
                # outer rounds. (Scattering onto the node itself spread
                # merged labels one BFS layer per round = O(diameter):
                # 1,030 rounds / 17 s on a 1024^2 snaky-blob tile,
                # round-4 finding; now 10 rounds / 0.4 s.)
                ra, rb = lab[a_idx], lab[b_idx]
                np.minimum.at(lab, ra, rb)
                np.minimum.at(lab, rb, ra)
                while True:  # path compression to the current roots
                    nxt = lab.copy()
                    nxt[vmask] = lab[lab[vmask]]
                    if np.array_equal(nxt, lab):
                        break
                    lab = nxt
                if np.array_equal(lab, prev):
                    break
    roots = lab
    uniq, labels_flat = np.unique(roots, return_inverse=True)
    # shift so that -1 (invalid) stays -1
    if uniq.size and uniq[0] == -1:
        labels_flat = labels_flat - 1
        n = uniq.size - 1
    else:
        n = uniq.size
    return labels_flat.reshape(h, w).astype(np.int64), int(n)


# ---------------------------------------------------------------------------
# boundary tracing: pixel mask → rectilinear rings
# ---------------------------------------------------------------------------

_DIRS = {(1, 0): 0, (0, 1): 1, (-1, 0): 2, (0, -1): 3}
_DX = np.array([1, 0, -1, 0], dtype=np.int64)
_DY = np.array([0, 1, 0, -1], dtype=np.int64)


def _trace_rings(mask: np.ndarray) -> list[np.ndarray]:
    """Directed-edge walk (interior on the right in y-down space → rings
    are clockwise in y-down = CCW in map space after the gt flip).
    Saddle vertices take the sharpest clockwise turn → simple rings.

    Vectorized (round 5c, shared machinery with _dissolve_pixel_rings):
    boundary-edge extraction and successor resolution are numpy; only
    the ring walk is a pointer chase over Python lists. The previous
    dict-of-lists walk re-scanned deleted slots on every ring start
    (`next(iter(edges))` after deletions is O(tombstones)) — quadratic
    on saddle-dense tiles, 3.8 s → sub-second on a 512² p=0.6
    percolation tile. The CW turn rule now also applies when a ring
    STARTS at a saddle (the dict walk took whichever out-edge was
    appended last there); the edge multiset is identical, only the
    pairing of saddle transits into rings can differ — pinned against
    the dict-walk reference in tests."""
    h, w = mask.shape
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = mask
    core = padded[1:-1, 1:-1]
    sxl, syl, dl = [], [], []
    for dd, m, fx, fy in (
        (0, core & ~padded[:-2, 1:-1], 0, 0),   # top: (x,y)→(x+1,y)
        (1, core & ~padded[1:-1, 2:], 1, 0),    # right: down the right side
        (2, core & ~padded[2:, 1:-1], 1, 1),    # bottom: right-to-left
        (3, core & ~padded[1:-1, :-2], 0, 1),   # left: up the left side
    ):
        ys, xs = np.nonzero(m)
        sxl.append(xs.astype(np.int64) + fx)
        syl.append(ys.astype(np.int64) + fy)
        dl.append(np.full(xs.size, dd, dtype=np.int64))
    sx = np.concatenate(sxl)
    sy = np.concatenate(syl)
    d = np.concatenate(dl)
    if d.size == 0:
        return []
    ex = sx + _DX[d]
    ey = sy + _DY[d]
    succ = _edge_successors(sx, sy, ex, ey, d)
    if succ is None:  # unreachable: a mask boundary graph is 2-regular
        raise AssertionError("trace_rings: open boundary graph")
    rings, _ = _walk_rings(succ, sx, sy, ex, ey)
    return rings


def _merge_collinear(ring: np.ndarray) -> np.ndarray:
    """Drop interior vertices on straight runs (exact test — rectilinear
    rings have integer-grid vertices), matching GDAL's minimal rings.
    Vectorized (round 5c): the per-vertex loop was O(unit-perimeter)
    Python on dissolved mega-components."""
    pts = ring[:-1]
    a = np.roll(pts, 1, axis=0)
    c = np.roll(pts, -1, axis=0)
    cross = ((pts[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
             - (pts[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    keep = cross != 0
    out = pts[keep] if keep.any() else pts
    return np.vstack([out, out[:1]])


def mask_to_geom(mask: np.ndarray, gt=None, x_off: int = 0,
                 y_off: int = 0) -> G.Geom:
    """Pixel mask → Polygon/MultiPolygon in geo coords (or pixel coords
    when gt is None, y-down). x_off/y_off shift the (bbox-local) mask
    back to full-image pixel coordinates before the gt transform."""
    if mask.shape == (1, 1) and mask[0, 0]:
        # 1-px fast path (they dominate high-component tiles: 34k of a
        # 256^2 random-categorical tile's components) — same ring the
        # generic walk produces, byte-equal output
        rings = [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0],
                           [0.0, 1.0], [0.0, 0.0]])]
    else:
        rings = [_merge_collinear(r) for r in _trace_rings(mask)]
    if x_off or y_off:
        for r in rings:
            r[:, 0] += x_off
            r[:, 1] += y_off
    if gt is not None:
        for r in rings:
            x = gt[0] + r[:, 0] * gt[1] + r[:, 1] * gt[2]
            y = gt[3] + r[:, 0] * gt[4] + r[:, 1] * gt[5]
            r[:, 0], r[:, 1] = x, y
    shells, holes = [], []
    for r in rings:
        x, y = r[:-1, 0], r[:-1, 1]
        signed = np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
        # in y-down pixel space shells are CW (negative signed area);
        # after a north-up gt flip (dy<0) they become CCW — classify by
        # majority: the outermost ring is a shell
        holes.append((abs(signed), r, signed))
    if not holes:
        return G.empty("Polygon")
    # classification: ring is a hole iff strictly inside another ring
    holes.sort(key=lambda t: -t[0])
    out_shells: list[list[np.ndarray]] = []
    for _, r, _ in holes:
        placed = False
        mid = r[:-1].mean(axis=0)
        for poly in out_shells:
            if G.points_in_ring([mid[0]], [mid[1]], poly[0])[0]:
                poly.append(r)
                placed = True
                break
        if not placed:
            out_shells.append([r])
    if len(out_shells) == 1:
        return G.Geom("Polygon", out_shells[0])
    return G.Geom("MultiPolygon", out_shells)


def polygonize_array(arr: np.ndarray, *, eight: bool = False,
                     valid: np.ndarray | None = None, gt=None):
    """→ list of (value, n_pixels, Geom) per connected component.

    Pixels are bucketed per component ONCE (argsort) and each component
    traces a bbox-local mask — O(area + Σ bbox) instead of the round-1
    O(n_components × area) full-mask sweep (10x+ on megapixel blobs)."""
    labels, n = label_components(arr, eight=eight, valid=valid)
    if n == 0:
        return []
    h, w = arr.shape
    flat = labels.ravel()
    order = np.argsort(flat, kind="stable")
    sorted_lab = flat[order]
    comp_ids = np.arange(n, dtype=flat.dtype)
    starts = np.searchsorted(sorted_lab, comp_ids, side="left")
    ends = np.searchsorted(sorted_lab, comp_ids, side="right")
    ys_all, xs_all = np.divmod(order, w)
    out = []
    for comp in range(n):
        sl = slice(int(starts[comp]), int(ends[comp]))
        ys, xs = ys_all[sl], xs_all[sl]
        y0, y1 = int(ys.min()), int(ys.max())
        x0, x1 = int(xs.min()), int(xs.max())
        m = np.zeros((y1 - y0 + 1, x1 - x0 + 1), dtype=bool)
        m[ys - y0, xs - x0] = True
        val = arr[int(ys[0]), int(xs[0])]
        out.append((val, int(len(ys)), mask_to_geom(m, gt, x_off=x0, y_off=y0)))
    return out


# ---------------------------------------------------------------------------
# sieve
# ---------------------------------------------------------------------------

def _component_stats(arr: np.ndarray, labels: np.ndarray, n: int):
    """(value, n_pixels) per local label: the value of the label's first
    pixel in scan order (its ORIGINAL value) and its pixel count."""
    fl = labels.ravel()
    iok = np.flatnonzero(fl >= 0)
    first = np.full(n, fl.size, dtype=np.int64)
    np.minimum.at(first, fl[iok], iok)
    return arr.ravel()[first], np.bincount(fl[iok], minlength=n)


def _adjacent_pairs(labels: np.ndarray) -> np.ndarray:
    """Unique (a, b), a < b, label pairs of 4-adjacent pixels in different
    components, masked pixels (-1) excluded — GDAL merges into the
    largest 4-adjacent neighbor. Vectorized (the per-boundary-pixel
    Python zip loop was O(boundary px), round 4)."""
    pairs = []
    for sl_a, sl_b in ((np.s_[:, 1:], np.s_[:, :-1]), (np.s_[1:, :], np.s_[:-1, :])):
        la, lb = labels[sl_a].ravel(), labels[sl_b].ravel()
        m = (la != lb) & (la >= 0) & (lb >= 0)
        pairs.append(np.stack([np.minimum(la[m], lb[m]),
                               np.maximum(la[m], lb[m])], axis=1))
    return np.unique(np.concatenate(pairs), axis=0)


def sieve_array(arr: np.ndarray, threshold: int, *, eight: bool = False,
                valid: np.ndarray | None = None) -> np.ndarray:
    """Replace components < threshold px with their largest neighbor's
    value; masked-out pixels untouched (godal.go:394-413)."""
    out = arr.copy()
    labels, n = label_components(arr, eight=eight, valid=valid)
    if n == 0:
        return out
    comp_val, sizes = _component_stats(arr, labels, n)
    small = np.nonzero(sizes < threshold)[0]
    if small.size == 0:
        return out
    adj: dict[int, set[int]] = {int(s): set() for s in small}
    for a, b in _adjacent_pairs(labels).tolist():
        if a in adj:
            adj[a].add(b)
        if b in adj:
            adj[b].add(a)
    fl = labels.ravel()
    # decision per small component (independent: sizes fixed, values
    # original), then ONE O(area) gather applies every merge — the
    # previous per-component `out[labels == s]` was O(n_small * area)
    new_val = comp_val.copy()
    touched = np.zeros(n, dtype=bool)
    for s in small.tolist():
        nbrs = adj.get(int(s), set())
        if not nbrs:
            continue
        tgt = max(nbrs, key=lambda nb: (sizes[nb], -nb))
        new_val[s] = comp_val[tgt]
        touched[s] = True
    if touched.any():
        sel = (fl >= 0) & touched[np.maximum(fl, 0)]
        of = out.ravel()
        of[sel] = new_val[fl[sel]].astype(out.dtype)
    return out


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = ("image_id string, band int, value double, n_pixels bigint, "
                   "geometry binary, area double")


def _decode_tile(r) -> np.ndarray:
    """A tile row's payload as its read-only (bh, bw) pixel array."""
    return np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(r.bh, r.bw)


def polygonize(tiles: DataFrame, *, eight: bool = False,
               use_nodata_mask: bool = True, nodata: float | None = None,
               images: DataFrame | None = None,
               mask_band: int | None = None) -> DataFrame:
    """tiles (level 0) → feature rows, one per connected component.

    Gathers each (image_id, band)'s tiles into one task (the module
    docstring's gathered plan; polygonize_tiles never gathers). Pass the
    images DataFrame to emit geometries in GEO coordinates (its `gt`
    joins in broadcast-style); otherwise geometries are in pixel space
    (y-down).

    mask_band: the reference's `Mask(band)` option (godal.go:348-369) —
    pixels where that band is ZERO are excluded (GDAL mask semantics);
    overrides the nodata mask. The mask tiles ride along in the same
    gather (one extra band per group), no extra shuffle. A NaN
    component's value is NaN.
    """
    from pyspark.sql import functions as F

    if images is not None and "gt" in images.columns:
        tiles = tiles.join(images.select("image_id", "gt"), "image_id", "left")
    else:
        tiles = tiles.withColumn("gt", F.lit(None).cast("array<double>"))
    if mask_band is not None:
        # regroup by image only: data bands + the mask band gather together
        tiles = tiles.withColumn(
            "__grp_band", F.when(F.col("band") == mask_band, F.lit(-1))
            .otherwise(F.col("band")))

    def _assemble_plane(pdf: pd.DataFrame) -> np.ndarray:
        w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
        dt = np.dtype(pdf["dtype"].iloc[0])
        full = np.zeros((h, w), dtype=dt)
        for r in pdf.itertuples(index=False):
            full[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = _decode_tile(r)
        return full

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, band = key[0], int(key[1])
        mask_valid = None
        if mask_band is not None:
            mrows = pdf[pdf["band"] == mask_band]
            pdf = pdf[pdf["band"] != mask_band]
            if len(pdf) == 0:
                return pd.DataFrame(columns=[
                    "image_id", "band", "value", "n_pixels", "geometry", "area"])
            band = int(pdf["band"].iloc[0])
            if len(mrows):
                mask_valid = _assemble_plane(mrows) != 0
        full = _assemble_plane(pdf)
        valid = mask_valid
        if valid is None and use_nodata_mask and nodata is not None:
            valid = full != nodata
        gt0 = pdf["gt"].iloc[0]
        gt = list(gt0) if gt0 is not None else None
        feats = polygonize_array(full, eight=eight, valid=valid, gt=gt)
        return pd.DataFrame({
            "image_id": [image_id] * len(feats),
            "band": [band] * len(feats),
            "value": [float(v) for v, _, _ in feats],
            "n_pixels": [n for _, n, _ in feats],
            "geometry": [G.to_wkb(g) for _, _, g in feats],
            "area": [g.area() for _, _, g in feats],
        })

    if mask_band is not None:
        # mask rows replicate into every data-band group of the image
        data = tiles.filter(F.col("band") != mask_band)
        mask = tiles.filter(F.col("band") == mask_band).drop("__grp_band")
        bands = data.select("image_id", F.col("band").alias("__grp_band")).distinct()
        mask = mask.join(bands, "image_id")
        both = data.unionByName(mask.select(*data.columns))
        return _nan_value(both.groupBy("image_id", "__grp_band")
                          .applyInPandas(run, schema=FEATURES_SCHEMA))
    return _nan_value(tiles.groupBy("image_id", "band")
                      .applyInPandas(run, schema=FEATURES_SCHEMA))


def _nan_value(feats: DataFrame) -> DataFrame:
    """feats with a null `value` read back as NaN: a component's value
    is never missing, but pandas' NaN crosses Arrow as null."""
    from pyspark.sql import functions as F

    return feats.withColumn("value",
                            F.coalesce("value", F.lit(float("nan"))))


# ---------------------------------------------------------------------------
# cross-tile distributed polygonize (round 2; closes the "single raster
# larger than one task" gap — reference handles any GDAL raster size)
# ---------------------------------------------------------------------------

_P1_SCHEMA = ("kind string, image_id string, band int, cid long, value double, "
              "n_pixels long, wkb binary, area double, "
              "key string, side string, vals array<double>, cids array<long>")

_FEATURES2_SCHEMA = ("image_id string, band int, value double, n_pixels bigint, "
                     "n_parts int, geometry binary, area double")


def _cid_base(bx: int, by: int) -> int:
    """Globally-unique component id prefix: 21 bits each for block x/y
    (tile grids to 2M x 2M blocks), 21 bits of per-tile local labels."""
    return (bx << 42) | (by << 21)


_LOCAL = (1 << 21) - 1  # the local-label bits of a _cid_base global id


def _dissolve_pixel_rings_slow(polys: list) -> "G.Geom":
    """Reference path for the degenerate cases the vectorized dissolve
    rejects (duplicate directed unit edges from overlapping rings):
    decompose every ring segment into unit directed edges and hand them
    to the general fuzzy stitcher."""
    edges = []
    for rings in polys:
        for r in rings:
            ri = np.asarray(r)
            for i in range(len(ri) - 1):
                x0, y0 = int(round(ri[i, 0])), int(round(ri[i, 1]))
                x1, y1 = int(round(ri[i + 1, 0])), int(round(ri[i + 1, 1]))
                dx = (x1 > x0) - (x1 < x0)
                dy = (y1 > y0) - (y1 < y0)
                n = max(abs(x1 - x0), abs(y1 - y0))
                for k in range(n):
                    edges.append(((float(x0 + k * dx), float(y0 + k * dy)),
                                  (float(x0 + (k + 1) * dx),
                                   float(y0 + (k + 1) * dy))))
    out = G._assemble(G._stitch(edges))
    merged = [[_merge_collinear(np.asarray(r, dtype=np.float64))
               for r in rings2] for rings2 in out.polygons()]
    if not merged:
        return G.empty("Polygon")
    if len(merged) == 1:
        return G.Geom("Polygon", merged[0])
    return G.Geom("MultiPolygon", merged)


# successor-direction preference per incoming direction (0:+x, 1:+y,
# 2:-x, 3:-y on raw coords): leftmost turn first — atan2 order +pi/2
# (left), 0 (straight), -pi/2 (right) — exactly geom._stitch's
# max-over-atan2 rule (reverse edges cannot survive cancellation).
# On a 2-regular boundary graph this coincides with _trace_rings'
# "sharpest clockwise" rule: a choice exists only at saddle vertices,
# where straight is never available and both rules pick (d+1)%4.
_TURN_PREF = np.array([[(d + 1) % 4, d, (d + 3) % 4] for d in range(4)],
                      dtype=np.int64)


def _edge_successors(sx, sy, ex, ey, d):
    """Successor edge per directed unit edge of a rectilinear boundary
    graph: at each edge's end vertex pick the first outgoing edge in
    _TURN_PREF order relative to the incoming direction. Vectorized —
    12 searchsorted probes over per-direction sorted start-vertex keys.
    Returns None when the graph is not a permutation (an end vertex
    with no out-edge, or two edges claiming one successor)."""
    E = int(d.size)
    ox = min(int(sx.min()), int(ex.min()))
    oy = min(int(sy.min()), int(ey.min()))
    shift = (max(int(sy.max()), int(ey.max())) - oy + 2).bit_length()
    svkey = ((sx - ox) << shift) | (sy - oy)
    evkey = ((ex - ox) << shift) | (ey - oy)
    by_dir = {}
    for dd in range(4):
        ids = np.nonzero(d == dd)[0]
        o = np.argsort(svkey[ids])
        by_dir[dd] = (svkey[ids][o], ids[o])
    succ = np.full(E, -1, dtype=np.int64)
    for rank in range(3):
        cand = _TURN_PREF[d, rank]
        for dd in range(4):
            m = (cand == dd) & (succ < 0)
            if not m.any():
                continue
            sk, ids = by_dir[dd]
            if sk.size == 0:
                continue
            q = evkey[m]
            p = np.searchsorted(sk, q)
            ok = (p < sk.size) & (sk[np.minimum(p, sk.size - 1)] == q)
            mi = np.nonzero(m)[0][ok]
            succ[mi] = ids[p[ok]]
    if (succ < 0).any() or np.bincount(succ, minlength=E).max() > 1:
        return None
    return succ


def _walk_rings(succ, sx, sy, ex, ey, merge: bool = False):
    """Decompose the successor permutation into vertex rings — the only
    sequential phase of the trace/dissolve pipelines, a pointer chase
    over Python lists, O(perimeter). Returns (rings, ring_of);
    merge=True runs _merge_collinear on each ring as it closes."""
    E = int(succ.size)
    succ_l = succ.tolist()
    exl, eyl = ex.tolist(), ey.tolist()
    sxl, syl = sx.tolist(), sy.tolist()
    seen = bytearray(E)
    ring_of = np.empty(E, dtype=np.int64)
    rings = []
    for s in range(E):
        if seen[s]:
            continue
        ri = len(rings)
        px = [sxl[s]]
        py = [syl[s]]
        c = s
        while True:
            seen[c] = 1
            ring_of[c] = ri
            px.append(exl[c])
            py.append(eyl[c])
            c = succ_l[c]
            if c == s:
                break
        r = np.column_stack([px, py]).astype(np.float64)
        rings.append(_merge_collinear(r) if merge else r)
    return rings, ring_of


def _dissolve_pixel_rings(polys: list) -> "G.Geom":
    """Dissolve per-tile rectilinear rings (integer pixel coords, y-down)
    into one clean geometry. Shared tile-border runs appear as exact
    OPPOSITE unit edges and cancel; surviving edges re-walk into rings
    (leftmost-turn at saddles), collinear runs merge, shells/holes sort
    by shoelace sign (a CW shell in y-down screen space reads CCW under
    the standard shoelace — geom._assemble's convention).

    Round 5c: fully vectorized — unit-edge expansion via repeat/arange,
    cancellation via a composite-key bincount, successor resolution via
    12 searchsorted probes — the per-unit-edge Python loops were
    O(total perimeter) and took 32 s on a 1 Mpx percolating blob
    (kernel-audit class). Only the final ring walk is a pointer chase
    over Python lists (inherently sequential), O(dissolved perimeter).
    Degenerate inputs (duplicate directed edges) fall back to the
    general fuzzy stitcher."""
    segs = []
    for rings in polys:
        for r in rings:
            ri = np.rint(np.asarray(r, dtype=np.float64)).astype(np.int64)
            if len(ri) > 1:
                segs.append(np.hstack([ri[:-1], ri[1:]]))
    if not segs:
        return G.empty("Polygon")
    S = np.concatenate(segs)
    X0, Y0, X1, Y1 = S[:, 0], S[:, 1], S[:, 2], S[:, 3]
    dxs = np.sign(X1 - X0)
    dys = np.sign(Y1 - Y0)
    n = np.maximum(np.abs(X1 - X0), np.abs(Y1 - Y0))
    live = n > 0
    X0, Y0, dxs, dys, n = X0[live], Y0[live], dxs[live], dys[live], n[live]
    if n.size == 0:
        return G.empty("Polygon")

    # unit-edge expansion
    rep = np.repeat(np.arange(n.size), n)
    base = np.concatenate([[0], np.cumsum(n)[:-1]])
    k = np.arange(int(n.sum()), dtype=np.int64) - base[rep]
    edx, edy = dxs[rep], dys[rep]
    ex0 = X0[rep] + k * edx
    ey0 = Y0[rep] + k * edy

    # cancellation: canonical undirected key + sign
    ox = min(int(ex0.min()), int((ex0 + edx).min()))
    oy = min(int(ey0.min()), int((ey0 + edy).min()))
    spany = max(int(ey0.max()), int((ey0 + edy).max())) - oy + 2
    shift = int(spany).bit_length()
    axis = (edy != 0).astype(np.int64)
    pos = (edx > 0) | (edy > 0)
    bx = np.where(pos, ex0, ex0 + edx) - ox
    by = np.where(pos, ey0, ey0 + edy) - oy
    ukey = ((bx << shift) | by) << 1 | axis
    uniqk, inv = np.unique(ukey, return_inverse=True)
    plus = np.bincount(inv, weights=pos.astype(np.float64))
    excess = (2 * plus - np.bincount(inv)).astype(np.int64)  # plus - minus
    if np.abs(excess).max(initial=0) > 1:
        return _dissolve_pixel_rings_slow(polys)  # duplicate rings
    keep = excess != 0
    kkey = uniqk[keep]
    ksign = excess[keep] > 0
    kaxis = kkey & 1
    rest = kkey >> 1
    by = (rest & ((1 << shift) - 1)) + oy
    bx = (rest >> shift) + ox
    dxa = np.where(kaxis == 0, 1, 0)
    dya = np.where(kaxis == 0, 0, 1)
    sx = np.where(ksign, bx, bx + dxa)
    sy = np.where(ksign, by, by + dya)
    ex = np.where(ksign, bx + dxa, bx)
    ey = np.where(ksign, by + dya, by)
    d = np.where(kaxis == 0, np.where(ksign, 0, 2), np.where(ksign, 1, 3))
    E = int(d.size)
    if E == 0:
        return G.empty("Polygon")

    succ = _edge_successors(sx, sy, ex, ey, d)
    if succ is None:
        return _dissolve_pixel_rings_slow(polys)  # not 2-regular
    rings_out, ring_of = _walk_rings(succ, sx, sy, ex, ey, merge=True)
    merged = _assemble_rectilinear(rings_out, ring_of, kaxis, bx, by)
    if merged is None:
        merged = G._assemble(rings_out).polygons()
    if not merged:
        return G.empty("Polygon")
    if len(merged) == 1:
        return G.Geom("Polygon", merged[0])
    return G.Geom("MultiPolygon", merged)


def _assemble_rectilinear(rings_out, ring_of, kaxis, bx, by):
    """Hole→shell assignment for the vectorized dissolve — the generic
    G._assemble ray-casts every hole vertex against every bbox-candidate
    shell, O(holes × shell perimeter): 157 s of a 159 s percolation
    dissolve went there (round 5c profile). The dissolve output is a
    rectilinear planar subdivision of distinct unit edges, so each
    hole's parent is found EXACTLY by one leftward ray-shoot from the
    midpoint of its minimal-x vertical edge: the point just left of
    that edge is in the filled region (else the hole would own an edge
    further left in the same unit row), and the nearest surviving
    vertical edge strictly left in that row bounds that filled region —
    it belongs either to the parent shell's own left boundary or to a
    sibling hole of the same shell. A sibling hit that way always has a
    smaller min-x, so resolving holes in ascending min-x order makes
    every chain one lookup. O(E log E) via one lexsort + one
    searchsorted per hole. Returns polygons() shape
    ([[shell, hole...], ...]) or None on structural anomaly (caller
    falls back to the generic assembler)."""
    areas = np.array([G._signed_ring_area(r) for r in rings_out])
    if (areas == 0).any():
        return None
    shell_ids = np.nonzero(areas > 0)[0]
    hole_ids = np.nonzero(areas < 0)[0]
    if shell_ids.size == 0:
        return None
    polys = {int(s): [rings_out[s]] for s in shell_ids}
    if hole_ids.size == 0:
        return list(polys.values())
    vert = np.nonzero(kaxis == 1)[0]
    vx = bx[vert]
    vy = by[vert]
    vr = ring_of[vert]
    # one surviving vertical unit edge per (row, x) after cancellation
    spanx = int(vx.max()) - int(vx.min()) + 2
    xorg = int(vx.min())
    key = (vy - int(vy.min())) * spanx + (vx - xorg)
    order = np.argsort(key)
    skey = key[order]
    sring = vr[order]
    # minimal-(x, y) vertical edge per ring
    lex = np.lexsort((vy, vx, vr))
    head = np.ones(lex.size, dtype=bool)
    head[1:] = vr[lex][1:] != vr[lex][:-1]
    min_edge = dict(zip(vr[lex][head].tolist(), lex[head].tolist()))
    is_shell = np.zeros(len(rings_out), dtype=bool)
    is_shell[shell_ids] = True
    parent = {}
    holes_sorted = sorted(
        (int(h) for h in hole_ids),
        key=lambda h: int(vx[min_edge[h]]) if h in min_edge else -1)
    for h in holes_sorted:
        e = min_edge.get(h)
        if e is None:
            return None  # closed ring with no vertical edge — malformed
        q = int(key[e])
        pos = int(np.searchsorted(skey, q)) - 1
        if pos < 0 or int(skey[pos]) // spanx != q // spanx:
            return None  # top-level hole — not a valid dissolve output
        r = int(sring[pos])
        if is_shell[r]:
            parent[h] = r
        else:
            pr = parent.get(r)
            if pr is None:
                return None
            parent[h] = pr
    for h, s in parent.items():
        polys[s].append(rings_out[h])
    return list(polys.values())


def _declare_parallelism(df: DataFrame, *keys: str,
                         width_from: DataFrame | None = None) -> DataFrame:
    """Explicit keyed repartition before a Python-heavy applyInPandas:
    AQE's size-based coalescing assumes IO-bound tasks and serializes
    CPU-bound Arrow kernels (PLANS.md round-3 lesson; measured 19 s -> 3 s
    on the overview reduce). Explicit-N repartitions are exempt from
    coalescing and satisfy the grouping's required distribution.

    The width scales with the partition count of `width_from` (default
    `df`). A plan AQE wraps (one with an exchange or a broadcast) gets
    the full width without asking, so the sizing runs no job; pass a
    checkpoint scan as `width_from` to size from its partitions."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    src = df if width_from is None else width_from
    # width scales with the incoming partitioning: a 6-tile toy input
    # doesn't pay for 4*dp empty tasks, a wide scan still fans out to
    # the full 4*dp. Floor is 8 — not dp — because an empty Python task
    # still holds a slot: ~0.05 s on a 4-core host, ~0.22 s before the
    # worker daemon stopped every task re-reading pyspark.zip's
    # directory (the cost once blamed on scheduling); 2x the incoming
    # width keeps mid-size scans at full fan-out.
    width = dp * 4 if aqe_wrapped(src) else min(dp * 4, src.rdd.getNumPartitions() * 2)
    return df.repartition(max(8, width), *keys)


def _attach_roots(comps: DataFrame, edges: DataFrame,
                  held: list[DataFrame]) -> DataFrame:
    """comps + a `root` column from the border-equivalence edges, by
    component_roots; a cid on no edge is its own root."""
    from pyspark.sql import functions as F

    roots = component_roots(edges, "cid_a", "cid_b", ("image_id", "band"),
                            held=held)
    return (comps.join(roots.withColumnRenamed("id", "cid"),
                       ["image_id", "band", "cid"], "left")
            .withColumn("root", F.coalesce("root", "cid")))


def _label_tile(r, eight: bool, nodata: float | None):
    """One tile row → (pixels, local labels, n): payload decode, the
    nodata mask (nodata pixels label -1 when `nodata` is given) and
    label_components. Local labels must fit the 21 low bits of the
    _cid_base global id."""
    arr = _decode_tile(r)
    valid = None if nodata is None else arr != nodata
    labels, n = label_components(arr, eight=eight, valid=valid)
    if n >= (1 << 21):
        raise ValueError(
            f"tile ({r.block_x},{r.block_y}) of image {r.image_id!r} has "
            f"{n} local components — exceeds the 21-bit component-id "
            "budget; use tiles smaller than 2048x1024 px")
    return arr, labels, n


def _seam_strips(r, arr: np.ndarray, labels: np.ndarray, base: int,
                 eight: bool) -> list[tuple]:
    """(key, side, vals, cids) per border line the tile shares with a
    neighbor tile. key names the line in global pixel coords: `v:x:y0`
    (vertical), `h:x0:y` (horizontal) and, under 8-connectivity, the
    tile corners a diagonal neighbor touches (`cd:` down-right, `ca:`
    down-left; one pixel each). Side 'a' is the tile above / left of
    the line, 'b' the one below / right. cids are global component ids,
    -1 for masked pixels.

    A tile with no rows (bh = 0) has no strip to offer a neighbor above
    or below it, nor a tile with no columns one left or right: that is a
    ValueError naming the tile. A zero-height raster (h = 0) has no such
    neighbor and is valid."""
    x0, y0, bw, bh = int(r.x0), int(r.y0), int(r.bw), int(r.bh)
    right, left = x0 + bw < int(r.w), x0 > 0
    below, above = y0 + bh < int(r.h), y0 > 0
    for size, name, axis, sides in ((bh, "bh", "row", below or above),
                                    (bw, "bw", "column", right or left)):
        if size == 0 and sides:
            raise ValueError(
                f"tile ({r.block_x},{r.block_y}) of image {r.image_id!r} has "
                f"an empty {axis} axis ({name}=0) but shares a seam with a "
                f"neighbor tile (x0={x0}, y0={y0} in a {r.w}x{r.h} raster)")
    lines = []
    if right:
        lines.append((f"v:{x0 + bw}:{y0}", "a", np.s_[:, -1]))
    if left:
        lines.append((f"v:{x0}:{y0}", "b", np.s_[:, 0]))
    if below:
        lines.append((f"h:{x0}:{y0 + bh}", "a", np.s_[-1, :]))
    if above:
        lines.append((f"h:{x0}:{y0}", "b", np.s_[0, :]))
    if eight:
        if right and below:
            lines.append((f"cd:{x0 + bw}:{y0 + bh}", "a", np.s_[-1:, -1]))
        if left and above:
            lines.append((f"cd:{x0}:{y0}", "b", np.s_[:1, 0]))
        if left and below:
            lines.append((f"ca:{x0}:{y0 + bh}", "a", np.s_[-1:, 0]))
        if right and above:
            lines.append((f"ca:{x0 + bw}:{y0}", "b", np.s_[:1, -1]))
    return [(key, side, arr[sl].astype(np.float64).tolist(),
             np.where(labels[sl] >= 0, labels[sl] | base, -1).tolist())
            for key, side, sl in lines]


def _labeled_tiles(pdf: pd.DataFrame, eight: bool, nodata: float | None):
    """Phase 1's per-tile front half, shared by polygonize_tiles and
    sieve_tiles: for each tile row of pdf yield (row, local labels,
    cid base, per-label value, per-label pixel count, seam strips)."""
    for r in pdf.itertuples(index=False):
        arr, labels, n = _label_tile(r, eight, nodata)
        base = _cid_base(int(r.block_x), int(r.block_y))
        values, sizes = _component_stats(arr, labels, n)
        yield (r, labels, base, values, sizes,
               _seam_strips(r, arr, labels, base, eight))


def _strips(raw: DataFrame) -> DataFrame:
    """The seam strip rows of a phase-1 frame, in _border_pairs' shape."""
    from pyspark.sql import functions as F

    return raw.filter(F.col("kind") == "strip") \
              .select("image_id", "band", "key", "side", "vals", "cids")


_SEAM_PAIRS = "array<struct<cid_a:bigint,cid_b:bigint,eq:boolean,c0:boolean>>"


def _border_pairs(strips: DataFrame, eight: bool) -> DataFrame:
    """The seam-pairing rule, the one place it is written: which
    components touch across a tile border, and whether they are one
    component.

    The strips (image_id, band, key, side, vals, cids from _seam_strips)
    meet per (image_id, band, key): an interior border line has exactly
    one 'a' and one 'b' strip, so a groupBy with a conditional max pulls
    both into one row with a single exchange. Pixel i of 'a' touches
    pixel i of 'b', and i±1 too under 8-connectivity (a one-pixel corner
    strip touches only its diagonal partner).

    Returns distinct (image_id, band, cid_a, cid_b, eq) rows: eq = true
    is an EQUIVALENCE (equal values, one component across the seam);
    eq = false rows are the 4-adjacent pairs of different values,
    sieve's cross-seam ADJACENCY. Masked pixels (cid < 0) never pair.
    NaN equals nothing, as in label_components: Spark's `=` holds for
    NaN = NaN, and NaN pixels arrive from the Arrow batch as nulls, so
    eq is false for both.

    JVM built-ins only (an aggregation plus higher-order array
    functions); no Python crossing of the strips. Pairs are unique
    within a key, and a cid pair names its two tiles and so one key,
    which makes array_distinct a global distinct without a shuffle."""
    from pyspark.sql import functions as F

    def side(s):
        return F.max(F.when(F.col("side") == s, F.struct("vals", "cids")))

    jo = (strips.groupBy("image_id", "band", "key")
          .agg(side("a").alias("sa"), side("b").alias("sb"))
          .filter(F.col("sa").isNotNull() & F.col("sb").isNotNull()))
    nlen = F.least(F.size("sa.vals"), F.size("sb.vals"))
    corner = F.col("key").startswith("cd:") | F.col("key").startswith("ca:")
    none = F.array().cast(_SEAM_PAIRS)

    def pairs_at(off: int):
        # 1-based i in [1 + max(0, -off), nlen - max(0, off)]; every use
        # below guards nlen so the range never runs backwards
        # (sequence(1, 0) is [1, 0], and element_at on an empty strip
        # throws)
        def pair(i):
            x = F.element_at("sa.vals", i)
            y = F.element_at("sb.vals", i + off)
            return F.struct(
                F.element_at("sa.cids", i).alias("cid_a"),
                F.element_at("sb.cids", i + off).alias("cid_b"),
                F.coalesce((x == y) & ~F.isnan(x), F.lit(False)).alias("eq"),
                F.lit(off == 0).alias("c0"))

        return F.transform(F.sequence(F.lit(1 + max(0, -off)),
                                      nlen - max(0, off)), pair)

    allp = F.when(nlen >= 1, pairs_at(0)).otherwise(none)
    if eight:
        diag = F.when(nlen >= 2, F.concat(pairs_at(1), pairs_at(-1))) \
            .otherwise(none)
        allp = F.when(corner, allp).otherwise(F.concat(allp, diag))
    keep = F.filter(allp, lambda p: (p["cid_a"] >= 0) & (p["cid_b"] >= 0)
                    & (p["eq"] | (p["c0"] & ~corner)))
    dedup = F.array_distinct(F.transform(keep, lambda p: F.struct(
        p["cid_a"].alias("cid_a"), p["cid_b"].alias("cid_b"),
        p["eq"].alias("eq"))))
    return (jo.select("image_id", "band", F.explode(dedup).alias("p"))
            .select("image_id", "band", "p.cid_a", "p.cid_b", "p.eq"))


def polygonize_tiles(tiles: DataFrame, *, eight: bool = False,
                     use_nodata_mask: bool = True, nodata: float | None = None,
                     max_geom_parts: int = 256) -> DataFrame:
    """Distributed polygonize that NEVER gathers an image into one task:

      1. per-tile labeling (mapInPandas, the front half shared with
         sieve_tiles): local connected components, per-component partial
         stats + rectilinear rings in GLOBAL pixel coords, plus the
         tile's border strips (values + component ids); materialized by
         ONE eager localCheckpoint, so every later branch reads it;
      2. border equivalences: the eq pairs of _border_pairs, the seam
         rule sieve_tiles uses too (±1 offsets and tile-corner keys for
         8-connectivity, NaN never equal), in JVM built-ins;
      3. roots: plans.components.component_roots maps every
         provisional id to its root (the minimum cid) and a join
         attaches the map to the components (_attach_roots): while the
         equivalence edges number at most driver_side.MAX_ROWS, one
         bounded Arrow collect, a driver union-find and a broadcast
         join; above it, distributed pointer doubling;
      4. merge: one row per root — n_pixels summed, area summed, and the
         part rings DISSOLVED across tile borders (unit-edge
         decomposition on the integer pixel grid; shared border runs are
         exact opposite edges and cancel) when the component spans
         ≤ max_geom_parts tiles (geometry NULL beyond that: a
         continent-sized component's outline is not a row). Its
         repartition width comes from the phase-1 checkpoint (no job).

    Runs eagerly (phases 2-3 require an action); on the driver path
    that is the checkpoint job, the collect's two, the root map's
    broadcast and the merge's two. The phase-1 checkpoint is dropped
    before the call returns. A NaN component's value is NaN (Arrow hands
    it back as null; one projection restores it).
    """
    from pyspark.sql import functions as F

    mask_nodata = nodata if use_nodata_mask else None

    def phase1(batches):
        for pdf in batches:
            rows = []
            for r, labels, base, values, sizes, strips in _labeled_tiles(
                    pdf, eight, mask_nodata):
                # bboxes in ONE vectorized pass, then trace each
                # component inside ITS bbox slice only. The previous
                # `labels == ci` over the full tile per component was
                # O(n_components * tile_area) — quadratic on
                # high-component tiles (round-4 finding: 28 s for a
                # 256^2 random-categorical tile, 0.6 s now).
                n = sizes.size
                bh_, bw_ = labels.shape
                fl = labels.ravel()
                iok = np.flatnonzero(fl >= 0)
                lo = fl[iok]
                ys_g, xs_g = np.divmod(iok, bw_)
                ymin = np.full(n, bh_, np.int64)
                xmin = np.full(n, bw_, np.int64)
                ymax = np.full(n, -1, np.int64)
                xmax = np.full(n, -1, np.int64)
                np.minimum.at(ymin, lo, ys_g)
                np.minimum.at(xmin, lo, xs_g)
                np.maximum.at(ymax, lo, ys_g)
                np.maximum.at(xmax, lo, xs_g)
                for ci in range(n):
                    y0c, y1c = int(ymin[ci]), int(ymax[ci]) + 1
                    x0c, x1c = int(xmin[ci]), int(xmax[ci]) + 1
                    m = labels[y0c:y1c, x0c:x1c] == ci
                    g = mask_to_geom(m, gt=[float(r.x0), 1.0, 0.0,
                                            float(r.y0), 0.0, 1.0],
                                     x_off=x0c, y_off=y0c)
                    rows.append(("comp", r.image_id, int(r.band), base | ci,
                                 float(values[ci]), int(sizes[ci]),
                                 G.to_wkb(g), g.area(),
                                 None, None, None, None))
                rows += [("strip", r.image_id, int(r.band), 0, 0.0, 0,
                          None, 0.0) + s for s in strips]
            cols = ["kind", "image_id", "band", "cid", "value", "n_pixels",
                    "wkb", "area", "key", "side", "vals", "cids"]
            yield pd.DataFrame(rows, columns=cols)

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        image_id, band, _ = key
        n_parts = len(pdf)
        geom = None
        if n_parts <= max_geom_parts:
            polys = []
            for buf in pdf["wkb"]:
                polys.extend(G.from_wkb(bytes(buf)).polygons())
            if len(polys) == 1:
                g = G.Geom("Polygon", polys[0])
            else:
                # true cross-tile dissolve: shared border runs cancel
                g = _dissolve_pixel_rings(polys)
            geom = G.to_wkb(g)
        return pd.DataFrame({
            "image_id": [image_id], "band": [band],
            "value": [float(pdf["value"].iloc[0])],
            "n_pixels": [int(pdf["n_pixels"].sum())],
            "n_parts": [n_parts], "geometry": [geom],
            "area": [float(pdf["area"].sum())]})

    raw = tiles.select("image_id", "band", "block_x", "block_y",
                       "x0", "y0", "bw", "bh", "w", "h", "dtype",
                       "payload").mapInPandas(phase1, schema=_P1_SCHEMA) \
        .localCheckpoint(eager=True)
    held = [raw]
    try:
        comps = raw.filter(F.col("kind") == "comp") \
                   .select("image_id", "band", "cid", "value",
                           "n_pixels", "wkb", "area")
        edges = _border_pairs(_strips(raw), eight).filter(F.col("eq")) \
            .drop("eq")
        comps = _attach_roots(comps, edges, held)
        out = _declare_parallelism(comps, "image_id", "band", "root",
                                   width_from=raw) \
            .groupBy("image_id", "band", "root").applyInPandas(
            merge, schema=_FEATURES2_SCHEMA)
        return _nan_value(out.localCheckpoint(eager=True))
    finally:
        for c in held:
            release(c)


# ---------------------------------------------------------------------------
# distributed SieveFilter (reference godal.go:394-413 over tiled rasters)
# ---------------------------------------------------------------------------

_SV_SCHEMA = ("kind string, image_id string, band int, cid long, cid_b long, "
              "value double, n_pixels long, "
              "key string, side string, vals array<double>, cids array<long>")


def _sieve_decisions(meta, threshold: int) -> dict:
    """The sieve's merge decisions, solved on the driver from the
    collected phase-1 metadata (an Arrow table of kind, image_id, band,
    cid, cid_b, value, n_pixels rows: 'comp' rows carry a component's
    partial size and value, 'eq' and 'adj' rows a cid pair). The same
    answer as the distributed chain: roots by union-find over the 'eq'
    pairs, global sizes per root, and for each small root with a
    neighbor the ORIGINAL value of the neighbor with the largest
    (size, -root). A NaN value arrives as null and stays NaN.

    Returns {(image_id, band, block_x, block_y): (local labels, new
    values)} for every tile holding a cid that takes a new value."""
    kind, img, band, ca, cb, npx = (meta.column(c).to_pylist() for c in (
        "kind", "image_id", "band", "cid", "cid_b", "n_pixels"))
    val = meta.column("value").to_numpy(zero_copy_only=False)
    rows = list(zip(kind, img, band, ca, cb))
    roots = _driver_roots((i, b, x, y) for k, i, b, x, y in rows if k == "eq")

    def root(i, b, c):
        return i, b, roots.get((i, b, c), c)

    size: dict = {}
    rval: dict = {}
    comps = []
    for (k, i, b, c, _), n, v in zip(rows, npx, val):
        if k == "comp":
            r = root(i, b, c)
            size[r] = size.get(r, 0) + n
            rval[r] = v  # one value per root: eq pairs join equal values
            comps.append((r, i, b, c))
    best: dict = {}  # small root -> ((size, -root) of its best neighbor, value)
    for k, i, b, x, y in rows:
        if k != "adj":
            continue
        ra, rb = root(i, b, x), root(i, b, y)
        if ra == rb:
            continue
        for s, t in ((ra, rb), (rb, ra)):
            if size[s] < threshold:
                rank = (size[t], -t[2])
                if s not in best or rank > best[s][0]:
                    best[s] = (rank, rval[t])
    out: dict = {}
    for r, i, b, c in comps:
        if r in best:
            local, new = out.setdefault((i, b, c >> 42, (c >> 21) & _LOCAL),
                                        ([], []))
            local.append(c & _LOCAL)
            new.append(best[r][1])
    return {t: (np.asarray(lo, np.int64), np.asarray(nv, np.float64))
            for t, (lo, nv) in out.items()}


def _relabel_tile(r, local: np.ndarray, new: np.ndarray, eight: bool,
                  nodata: float | None) -> bytes:
    """A tile row's payload with every pixel of local label local[i]
    set to new[i] (cast to the tile dtype), in one O(area) gather."""
    arr, labels, n = _label_tile(r, eight, nodata)
    hit = np.zeros(n, dtype=bool)
    hit[local] = True
    vals = np.zeros(n, dtype=arr.dtype)
    vals[local] = new.astype(arr.dtype)
    fl = labels.ravel()
    sel = (fl >= 0) & hit[np.maximum(fl, 0)]
    out = arr.ravel().copy()
    out[sel] = vals[fl[sel]]
    return out.tobytes()


def _rewrite_tiles(tiles: DataFrame, decisions: dict, eight: bool,
                   nodata: float | None) -> DataFrame:
    """tiles with the driver's decisions applied: ONE map stage over the
    tiles, the decisions broadcast keyed by (image_id, band, block_x,
    block_y). Tiles without a decision pass through byte-identical."""
    from godal_spark.operators.tiling import TILE_SCHEMA

    bc = tiles.sparkSession.sparkContext.broadcast(decisions)

    def rewrite(batches):
        dec = bc.value
        for pdf in batches:
            payloads = pdf["payload"].tolist()
            for i, r in enumerate(pdf.itertuples(index=False)):
                d = dec.get((r.image_id, int(r.band), int(r.block_x),
                             int(r.block_y)))
                if d is not None:
                    payloads[i] = _relabel_tile(r, *d, eight, nodata)
            yield pdf.assign(payload=payloads)

    return tiles.mapInPandas(rewrite, schema=TILE_SCHEMA)


def sieve_tiles(tiles: DataFrame, threshold: int, *, eight: bool = False,
                use_nodata_mask: bool = True,
                nodata: float | None = None) -> DataFrame:
    """Distributed SieveFilter: components smaller than `threshold`
    (GLOBAL size, summed across tile borders) take the ORIGINAL value of
    their largest neighboring component — sieve_array semantics lifted
    onto the polygonize_tiles border machinery, without ever gathering a
    raster into one task.

    Plan shape:
      1. per-tile labeling (mapInPandas, the front half shared with
         polygonize_tiles): component partials (cid, value, n_pixels),
         border strips, and intra-tile 4-neighbor adjacency label pairs,
         materialized by ONE eager localCheckpoint;
      2. _border_pairs, the seam rule polygonize_tiles uses too: equal
         values across a seam → EQUIVALENCE edges (same component),
         different values → ADJACENCY edges (merge candidates);
      3. while the metadata — component rows, intra-tile adjacency and
         the border pairs — numbers at most driver_side.MAX_ROWS, ONE
         bounded Arrow collect brings it to the driver, which solves
         roots, global sizes and the merge decisions in Python
         (_sieve_decisions, roots by component_roots' union-find), and
         the rewrite is ONE map stage over the tiles with the decisions
         broadcast (_rewrite_tiles): the checkpoint job, the collect's
         two, then the caller's action;
      4. above the bound the decisions stay distributed: the border
         pairs are checkpointed, roots come from _attach_roots
         (component_roots: the driver union-find while the equivalence
         edges alone fit, pointer doubling beyond), global sizes by a
         groupBy(root) sum, the
         decisions by a per-small-root max_by aggregation (sizes fixed +
         values original for the whole pass make smallest-first order
         irrelevant), and a cogrouped applyInPandas relabels each
         touched tile once — no component-count ceiling.

    Every intermediate checkpoint (phase 1, the border pairs, the
    pointer-doubling rounds) is dropped before the call returns.
    Untouched tiles pass through byte-identical; with no decision the
    input `tiles` frame comes back as is. Tie-break on equal neighbor
    sizes, on both paths: smallest global root id (deterministic under
    any partition order; sieve_array's local-label order is
    scan-dependent and cannot be reproduced distributed).
    """
    from pyspark.sql import functions as F

    mask_nodata = nodata if use_nodata_mask else None
    tiles = tiles.select("image_id", "band", "level", "block_x", "block_y",
                         "x0", "y0", "bw", "bh", "w", "h", "dtype",
                         "payload", "caption")

    def phase1(batches):
        for pdf in batches:
            rows = []
            for r, labels, base, values, sizes, strips in _labeled_tiles(
                    pdf, eight, mask_nodata):
                head = (r.image_id, int(r.band))
                rows += [("comp", *head, base | ci, -1, float(values[ci]),
                          int(sizes[ci]), None, None, None, None)
                         for ci in range(sizes.size)]
                rows += [("adj", *head, base | a, base | b, 0.0, 0,
                          None, None, None, None)
                         for a, b in _adjacent_pairs(labels).tolist()]
                rows += [("strip", *head, 0, -1, 0.0, 0) + s for s in strips]
            cols = ["kind", "image_id", "band", "cid", "cid_b", "value",
                    "n_pixels", "key", "side", "vals", "cids"]
            yield pd.DataFrame(rows, columns=cols)

    raw = tiles.mapInPandas(phase1, schema=_SV_SCHEMA).localCheckpoint(eager=True)
    held = [raw]
    try:
        border = _border_pairs(_strips(raw), eight)
        # the metadata the driver path collects: phase 1's 'comp' and
        # intra-tile 'adj' rows, and the border pairs as 'eq' or 'adj' rows
        meta = collect_bounded(
            raw.filter(F.col("kind") != "strip")
               .select("kind", "image_id", "band", "cid", "cid_b", "value",
                       "n_pixels")
               .unionByName(border.select(
                   F.when(F.col("eq"), "eq").otherwise("adj").alias("kind"),
                   "image_id", "band", F.col("cid_a").alias("cid"), "cid_b",
                   F.lit(0.0).alias("value"),
                   F.lit(0).cast("long").alias("n_pixels"))),
            driver_side.MAX_ROWS)
        if meta is not None:
            decisions = _sieve_decisions(meta, threshold)
            if not decisions:
                return tiles
            return _rewrite_tiles(tiles, decisions, eight, mask_nodata)

        comps = raw.filter(F.col("kind") == "comp") \
                   .select("image_id", "band", "cid", "value", "n_pixels")
        adj_local = raw.filter(F.col("kind") == "adj") \
                       .select("image_id", "band",
                               F.col("cid").alias("cid_a"), "cid_b")
        pairs = border.localCheckpoint(eager=True)
        held.append(pairs)
        edges_eq = pairs.filter(F.col("eq")).drop("eq")
        edges_adj = pairs.filter(~F.col("eq")).drop("eq") \
                         .unionByName(adj_local)

        comps = _attach_roots(comps, edges_eq, held)
        cidmap = comps.select("image_id", "band", "cid", "root")
        stats = comps.groupBy("image_id", "band", "root").agg(
            F.sum("n_pixels").alias("size"), F.min("value").alias("value"))

        # adjacency lifted to roots, symmetric, self-loops dropped
        ra = (edges_adj
              .join(cidmap.withColumnRenamed("cid", "cid_a")
                    .withColumnRenamed("root", "ra"),
                    ["image_id", "band", "cid_a"])
              .join(cidmap.withColumnRenamed("cid", "cid_b")
                    .withColumnRenamed("root", "rb"),
                    ["image_id", "band", "cid_b"])
              .select("image_id", "band", "ra", "rb")
              .filter(F.col("ra") != F.col("rb")))
        # no .distinct(): duplicate adjacency rows (one component pair
        # touching several border lines) cannot change the max_by merge
        # decision below, and the distinct cost a full extra exchange +
        # AQE job round-trip
        adj_sym = ra.unionByName(
            ra.select("image_id", "band", F.col("rb").alias("ra"),
                      F.col("ra").alias("rb")))

        small = stats.filter(F.col("size") < threshold)
        # decision inputs: one row per (small root, neighbor) with both
        # endpoints' global size + the neighbor's ORIGINAL value —
        # bounded by the small-component count, never by pixels
        dec_in = (adj_sym
                  .join(small.select("image_id", "band",
                                     F.col("root").alias("ra"),
                                     F.col("size").alias("size_a")),
                        ["image_id", "band", "ra"])
                  .join(stats.select("image_id", "band",
                                     F.col("root").alias("rb"),
                                     F.col("size").alias("size_b"),
                                     F.col("value").alias("value_b")),
                        ["image_id", "band", "rb"]))
        # Merge decisions are INDEPENDENT per small root: sizes are
        # FIXED and values ORIGINAL for the whole pass (a chain A→B→C
        # leaves A with B's old value), so "smallest-first" order never
        # feeds back into later decisions. That makes the solve a pure
        # per-root aggregation: target = the neighbor with max size, ties
        # to the smallest root id.
        ddf = (dec_in.groupBy("image_id", "band", "ra")
               .agg(F.max_by(
                   "value_b",
                   F.struct(F.col("size_b").alias("s"),
                            (-F.col("rb")).alias("nr"))).alias("new_value"))
               .withColumnRenamed("ra", "root"))
        cid_dec = (cidmap.join(ddf, ["image_id", "band", "root"])
                   .withColumn("block_x",
                               F.shiftrightunsigned("cid", 42).cast("int"))
                   .withColumn("block_y",
                               F.shiftrightunsigned("cid", 21).bitwiseAND(
                                   F.lit(_LOCAL).cast("long")).cast("int"))
                   .select("image_id", "band", "block_x", "block_y",
                           "cid", "new_value"))
        # checkpoint the SMALL side: cid_dec is bounded by decision count
        # (metadata rows), so the returned rewrite plan reads only the
        # ORIGINAL tiles input + this checkpoint, and the full-size OUTPUT
        # is never materialized twice (an eager result checkpoint stored
        # the whole payload volume before the consumer read it — measured
        # as the non-scaling slice of the round-4 sieve series)
        cid_dec = cid_dec.localCheckpoint(eager=True)
        if cid_dec.isEmpty():  # free: reads the checkpointed rows
            return tiles

        def rewrite(key, tpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            if len(dpdf) == 0:
                return tpdf
            local = dpdf["cid"].to_numpy() & _LOCAL
            new = dpdf["new_value"].to_numpy(dtype=np.float64)
            return tpdf.assign(payload=[
                _relabel_tile(r, local, new, eight, mask_nodata)
                for r in tpdf.itertuples(index=False)])

        keys = ["image_id", "band", "block_x", "block_y"]
        from godal_spark.operators.tiling import TILE_SCHEMA

        # both sides one width, or the cogroup re-shuffles the narrower
        return (_declare_parallelism(tiles, *keys).groupBy(*keys)
                .cogroup(_declare_parallelism(cid_dec, *keys, width_from=tiles)
                         .groupBy(*keys))
                .applyInPandas(rewrite, schema=TILE_SCHEMA))
    finally:
        # the returned plan reads only `tiles` and checkpoints made from
        # these, so no intermediate checkpoint outlives the call
        for c in held:
            release(c)
