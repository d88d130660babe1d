"""Property-based kernel tests (hypothesis) — invariants the goldens
can't pin: totality, round-trips, conservation laws."""

import numpy as np
from hypothesis import given, settings, strategies as st

from godal_spark.functions import cellindex, codecs, crs, geom as G
from godal_spark.functions.resampling import resample
from godal_spark.operators.polygonize import label_components, polygonize_array, sieve_array
from godal_spark.operators.tiling import block_grid_list, overview_levels


@settings(deadline=None)
@given(st.integers(1, 300), st.integers(1, 300), st.integers(1, 64), st.integers(1, 64))
def test_block_grid_partitions_exactly(w, h, bw, bh):
    grid = block_grid_list(w, h, bw, bh)
    # tiles tile the plane exactly: total area == w*h, no overlaps
    assert sum(t[4] * t[5] for t in grid) == w * h
    seen = set()
    for (bx, by, x0, y0, tw, th) in grid:
        assert 0 < tw <= bw and 0 < th <= bh
        assert x0 + tw <= w and y0 + th <= h
        assert (bx, by) not in seen
        seen.add((bx, by))


@given(st.integers(1, 10**6), st.integers(1, 10**6), st.integers(1, 4096))
def test_overview_levels_monotone(w, h, m):
    lv = overview_levels(w, h, m)
    assert lv == sorted(lv)
    assert all(b == 2 * a for a, b in zip(lv, lv[1:]))
    if lv:
        # final level brings both dims to <= m (by the halving loop def)
        k = len(lv)
        assert (w >> k) <= m and (h >> k) <= m


@given(st.floats(-180, 180), st.floats(-90, 90), st.integers(0, 20))
def test_cell_roundtrip_contains(lon, lat, res):
    cid = cellindex.cell_of(lon, lat, res)
    minlon, minlat, maxlon, maxlat = cellindex.cell_bounds(cid)
    assert minlon - 1e-9 <= lon <= maxlon + 1e-9
    assert minlat - 1e-9 <= lat <= maxlat + 1e-9


@given(st.floats(-179, 179), st.floats(-84, 84))
def test_crs_3857_roundtrip(lon, lat):
    x, y, ok = crs.transform_points([lon], [lat], "EPSG:4326", "EPSG:3857")
    assert ok[0]
    lon2, lat2, ok2 = crs.transform_points(x, y, "EPSG:3857", "EPSG:4326")
    assert abs(lon2[0] - lon) < 1e-9 and abs(lat2[0] - lat) < 1e-9


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 255))
def test_png_roundtrip_any_shape(w, h, fill):
    rng = np.random.default_rng(fill)
    arr = rng.integers(0, 256, (h, w), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(arr)), arr)


@settings(max_examples=25, deadline=None)
@given(st.integers(2, 30), st.integers(2, 30), st.integers(1, 10), st.integers(1, 10),
       st.sampled_from(["nearest", "bilinear", "average", "cubic"]))
def test_resample_shape_and_range(in_w, in_h, out_w, out_h, alg):
    src = np.random.default_rng(1).integers(0, 256, (in_h, in_w), dtype=np.uint8)
    out = resample(src, out_w, out_h, alg=alg, path="io")
    assert out.shape == (out_h, out_w)
    if alg in ("nearest", "bilinear", "average"):
        # convex kernels can't escape [min, max] by more than rounding;
        # cubic/lanczos legitimately overshoot (negative lobes)
        assert out.min() >= max(0, int(src.min()) - 1)
        assert out.max() <= min(255, int(src.max()) + 1)


@settings(max_examples=20, deadline=None)
@given(st.integers(2, 12), st.integers(0, 3), st.booleans())
def test_polygonize_conservation(n, nvals, eight):
    rng = np.random.default_rng(n * 7 + nvals)
    arr = rng.integers(0, nvals + 2, (n, n)).astype(np.uint8)
    feats = polygonize_array(arr, eight=eight)
    # pixel conservation: components partition the raster
    assert sum(npx for _, npx, _ in feats) == n * n
    # area equals pixel count for every component (y-down unit pixels)
    for v, npx, g in feats:
        assert abs(g.area() - npx) < 1e-9


@settings(max_examples=20, deadline=None)
@given(st.integers(2, 12), st.booleans())
def test_labels_agree_with_flood(n, eight):
    rng = np.random.default_rng(n)
    arr = (rng.random((n, n)) < 0.5).astype(np.uint8)
    labels, k = label_components(arr, eight=eight)
    # same label ⇒ same value; adjacency within label is connected (spot:
    # every label's pixel set is non-empty and value-uniform)
    for c in range(k):
        vals = arr[labels == c]
        assert len(vals) > 0 and (vals == vals[0]).all()


@settings(max_examples=20, deadline=None)
@given(st.integers(3, 12), st.integers(1, 4))
def test_sieve_never_increases_component_count(n, thr):
    rng = np.random.default_rng(n * 13 + thr)
    arr = rng.integers(0, 3, (n, n)).astype(np.uint8)
    out = sieve_array(arr, thr)
    _, k_before = label_components(arr)
    _, k_after = label_components(out)
    assert k_after <= k_before


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(st.floats(-100, 100), st.floats(-100, 100)),
                min_size=3, max_size=8, unique=True))
def test_wkt_wkb_roundtrip_polygons(pts):
    g = G.polygon(pts)
    g2 = G.from_wkb(G.to_wkb(g))
    assert g2.type == "Polygon"
    assert abs(g2.area() - g.area()) < 1e-9
    g3 = G.from_wkt(G.to_wkt(g))
    assert abs(g3.area() - g.area()) < 1e-6


def _star(seed, cx, cy, n_min=5, n_max=10, rmax=3.0):
    """Random star polygon — radial with JITTERED-EVEN angles: every
    angular gap stays < pi, which makes the radial construction provably
    simple (a gap > pi lets the closing edge swing past the center and
    self-intersect — the first version of this generator did, producing
    garbage-in failures)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(n_min, n_max + 1))
    angles = 2 * np.pi * (np.arange(n) + rng.uniform(0.05, 0.95, n)) / n
    radii = rng.uniform(0.5, rmax, n)
    pts = np.stack([cx + radii * np.cos(angles), cy + radii * np.sin(angles)], axis=1)
    ring = np.vstack([pts, pts[:1]])
    return G.Geom("Polygon", [np.round(ring, 6)])


@settings(deadline=None, max_examples=25)
@given(st.integers(0, 10_000), st.integers(0, 10_000))
def test_overlay_conservation_random_stars(sa, sb):
    """For ANY pair of simple polygons: area(A∩B) + area(A−B) = area(A),
    area(A∪B) = area(A) + area(B) − area(A∩B), and a membership sample
    agrees with the boolean combination of the inputs."""
    a = _star(sa, 0.0, 0.0)
    b = _star(sb, 1.0, 0.5)
    ai = G.intersection(a, b).area()
    au = G.union(a, b).area()
    ad = G.difference(a, b).area()
    assert abs(ad - (a.area() - ai)) < 1e-6
    assert abs(au - (a.area() + b.area() - ai)) < 1e-6
    rng = np.random.default_rng(sa * 31 + sb)
    x = rng.uniform(-4, 5, 400)
    y = rng.uniform(-4, 5, 400)
    ia = G.points_in_polygon(x, y, a)
    ib = G.points_in_polygon(x, y, b)
    inter = G.intersection(a, b)
    got = (G.points_in_polygon(x, y, inter) if not inter.is_empty
           else np.zeros_like(ia))
    assert (got != (ia & ib)).mean() < 0.01  # boundary-eps disagreements only


@settings(deadline=None, max_examples=40)
@given(st.integers(0, 10**6))
def test_wkb_wkt_roundtrip_random_geometries(seed):
    """Serialization fuzz: random polygons (with holes), multipolygons,
    points and linestrings survive WKB and WKT round-trips with exact
    structure and (for WKB) exact coordinates."""
    rng = np.random.default_rng(seed)
    kind = int(rng.integers(0, 4))
    if kind == 0:
        g = G.point(float(rng.uniform(-180, 180)), float(rng.uniform(-90, 90)))
    elif kind == 1:
        pts = rng.uniform(-100, 100, (int(rng.integers(2, 8)), 2))
        g = G.Geom("LineString", pts)
    elif kind == 2:
        shell = _star(seed, 0.0, 0.0)
        hole = np.array([[0.1, 0.1], [0.2, 0.1], [0.2, 0.2], [0.1, 0.2],
                         [0.1, 0.1]])
        g = G.Geom("Polygon", [shell.coords[0], hole])
    else:
        g = G.multipolygon([_star(seed, 0, 0), _star(seed + 1, 20, 20)])
    rt = G.from_wkb(G.to_wkb(g))
    assert rt.type == g.type
    assert np.allclose(rt._all_points(), g._all_points())
    assert abs(rt.area() - g.area()) < 1e-12
    rt2 = G.from_wkt(G.to_wkt(g, digits=12))
    assert rt2.type == g.type
    assert abs(rt2.area() - g.area()) < 1e-6


def test_coverage_mask_all_touched_rotated_gt():
    """-at on a ROTATED geotransform: the prefilter + exact test must
    reproduce the brute-force EXACT pixel-space reference (geometry
    affine-mapped into pixel space, every non-center pixel's unit square
    tested — GDAL's pixel-space semantics, no AABB approximation) —
    concave polygon, 30-degree rotation."""
    import math

    from godal_spark.functions import crs as CRS, geom as GG
    from godal_spark.operators.rasterize import _coverage_mask

    th = math.radians(30)
    gt = [5.0, math.cos(th), -math.sin(th), 40.0, -math.sin(th),
          -math.cos(th)]
    t = np.linspace(0, 2 * np.pi, 23)
    shell = np.stack([15 + 8 * np.cos(t) + 3 * np.sin(3 * t),
                      20 + 8 * np.sin(t)], axis=1)
    shell[-1] = shell[0]
    g = GG.polygon(shell)
    w = h = 48
    got = _coverage_mask(g, gt, w, h, True)
    cx, cy = np.meshgrid(np.arange(w) + 0.5, np.arange(h) + 0.5)
    gx, gy = CRS.pixel_to_geo(gt, cx.ravel(), cy.ravel())
    ref = GG.points_in_polygon(gx, gy, g).reshape(h, w)
    ys, xs = np.nonzero(~ref)
    pg = GG.map_coords(g, lambda x, y: CRS.geo_to_pixel(gt, x, y))
    hit = GG.boxes_intersect_geom(
        xs.astype(float), ys.astype(float),
        xs + 1.0, ys + 1.0, pg)
    ref[ys[hit], xs[hit]] = True
    assert got.sum() > 0 and np.array_equal(got, ref)
    # the exact test must be strictly tighter than the old geo-space
    # AABB of the pixel corners (which over-covers a rotated pixel)
    corner_x = np.empty((4, len(xs)))
    corner_y = np.empty((4, len(xs)))
    for k, (ox, oy) in enumerate([(0, 0), (1, 0), (1, 1), (0, 1)]):
        corner_x[k], corner_y[k] = CRS.pixel_to_geo(
            gt, xs + float(ox), ys + float(oy))
    aabb_hit = GG.boxes_intersect_geom(
        corner_x.min(axis=0), corner_y.min(axis=0),
        corner_x.max(axis=0), corner_y.max(axis=0), g)
    assert aabb_hit.sum() > hit.sum()  # AABB over-covered; exact is tighter


@settings(deadline=None, max_examples=25)
@given(st.integers(0, 10**6))
def test_rasterize_tile_decomposition_property(seed):
    """The sub-geotransform math the distributed rasterize relies on:
    burning per tile with the tile's translated gt and stitching equals
    the monolithic burn — for random boxes and random tile sizes."""
    from godal_spark.operators.rasterize import _coverage_mask, rasterize_array

    rng = np.random.default_rng(seed)
    w, h = int(rng.integers(6, 40)), int(rng.integers(6, 40))
    bw, bh = int(rng.integers(2, 12)), int(rng.integers(2, 12))
    geoms = []
    for _ in range(int(rng.integers(1, 4))):
        x0, y0 = rng.uniform(-10, 30, 2)
        geoms.append(G.box(x0, y0, x0 + rng.uniform(0.5, 25),
                           y0 + rng.uniform(0.5, 25)))
    te = (0.0, 0.0, float(w), float(h))
    mono, gt = rasterize_array(geoms, te, (w, h), init=0, burn=1)
    stitched = np.zeros((h, w), dtype=np.uint8)
    for ty in range(0, h, bh):
        for tx in range(0, w, bw):
            tw_, th_ = min(bw, w - tx), min(bh, h - ty)
            sub_gt = [gt[0] + tx * gt[1], gt[1], 0.0,
                      gt[3] + ty * gt[5], 0.0, gt[5]]
            acc = np.zeros((th_, tw_), dtype=bool)
            for g in geoms:
                acc |= _coverage_mask(g, sub_gt, tw_, th_, False)
            stitched[ty:ty + th_, tx:tx + tw_] = acc.astype(np.uint8)
    assert np.array_equal(stitched, mono)


# --- frozen reference: the whole-grid coverage kernel, kept verbatim as
# it stood before the centre cast was restricted to each geometry's pixel
# window; the windowed kernel must reproduce it bit for bit. It is also
# what keeps perfbench/prep.py's raster oracle, which calls the live
# kernel through rasterize_array, an independent check of the burn.

def _pixel_centers(gt, w: int, h: int):
    px = np.arange(w) + 0.5
    py = np.arange(h) + 0.5
    gx, gy = np.meshgrid(px, py)
    return crs.pixel_to_geo(gt, gx.ravel(), gy.ravel())


def _coverage_mask_full_grid(geom: G.Geom, gt, w: int, h: int, all_touched: bool) -> np.ndarray:
    CRS = crs
    cx, cy = _pixel_centers(gt, w, h)
    mask = G.points_in_polygon(cx, cy, geom).reshape(h, w)
    if all_touched:
        cand = np.zeros_like(mask)
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
                pg = G.map_coords(
                    geom, lambda x, y: CRS.geo_to_pixel(gt, x, y))
                hit = G.boxes_intersect_geom(fx, fy, fx + 1.0, fy + 1.0, pg)
            else:
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


_MASK_KINDS = ("polygon", "holes", "multi", "sliver", "outside", "cover",
               "big", "lines", "empty", "nan", "unclosed")


def _random_gt(rng):
    """Degree-like grids, plus projected-like origins (1e6, where a
    coordinate's ulp exceeds the 1e-12 on-segment tolerance) and pixels
    down to 1e-7 units wide."""
    scale = rng.choice([200.0, 1e6, 1e-3], p=[0.6, 0.25, 0.15])
    ox, oy = rng.uniform(-scale, scale, 2)
    px, py = rng.uniform(0.01, 5.0, 2) * (1e-5 if scale < 1 else 1.0)
    if rng.random() < 0.4:  # rotated (and sheared) grid
        a, b = rng.uniform(-np.pi, np.pi, 2)
        return [ox, px * np.cos(a), -py * np.sin(b), oy,
                px * np.sin(a), -py * np.cos(b)]
    return [ox, px, 0.0, oy, 0.0, -py]


def _star_px(rng, w, h, n, radius, centre=None):
    """Simple star ring in PIXEL space, vertices sometimes snapped onto
    pixel centres (k + 0.5) or pixel edges (integers)."""
    cx, cy = centre if centre is not None else (
        rng.uniform(-0.5 * w, 1.5 * w), rng.uniform(-0.5 * h, 1.5 * h))
    ang = 2 * np.pi * (np.arange(n) + rng.uniform(0.05, 0.95, n)) / n
    r = radius * rng.uniform(0.4, 1.0, n)
    x, y = cx + r * np.cos(ang), cy + r * np.sin(ang)
    snap = rng.integers(0, 3)
    if snap == 1:
        x, y = np.floor(x) + 0.5, np.floor(y) + 0.5
    elif snap == 2:
        x, y = np.round(x), np.round(y)
    return np.stack([x, y], axis=1)


def _to_geo(gt, ring_px):
    gx, gy = crs.pixel_to_geo(gt, ring_px[:, 0], ring_px[:, 1])
    return np.stack([gx, gy], axis=1)


def _random_mask_geom(rng, kind, gt, w, h):
    r = max(w, h)
    if kind == "polygon":
        return G.polygon(_to_geo(gt, _star_px(rng, w, h, int(rng.integers(3, 12)),
                                              rng.uniform(0.3, r))))
    if kind == "holes":
        c = (rng.uniform(0, w), rng.uniform(0, h))
        shell = _star_px(rng, w, h, 10, rng.uniform(4, r + 4), c)
        hole = _star_px(rng, w, h, 6, 0.3 * np.abs(shell - c).min(), c)
        return G.polygon(_to_geo(gt, shell), [_to_geo(gt, hole)])
    if kind == "multi":
        return G.multipolygon([
            G.polygon(_to_geo(gt, _star_px(rng, w, h, 7, rng.uniform(0.3, r / 2))))
            for _ in range(int(rng.integers(2, 4)))])
    if kind == "sliver":  # a long quad far thinner than a pixel
        (x0, y0), (x1, y1) = rng.uniform(-2, r + 2, (2, 2))
        d = rng.uniform(1e-6, 0.3)
        nx, ny = np.array([y0 - y1, x1 - x0]) / max(np.hypot(x1 - x0, y1 - y0), 1e-9)
        ring = np.array([[x0, y0], [x1, y1], [x1 + d * nx, y1 + d * ny],
                         [x0 + d * nx, y0 + d * ny]])
        return G.polygon(_to_geo(gt, ring))
    if kind == "outside":  # wholly off the tile, on some side of it
        off = rng.choice([-1, 1], 2) * rng.uniform(1.5, 4.0, 2) * (w, h)
        c = (w / 2 + off[0], h / 2 + off[1])
        return G.polygon(_to_geo(gt, _star_px(rng, w, h, 8, rng.uniform(0.3, r), c)))
    if kind == "cover":  # covers the whole tile
        m = rng.uniform(0.0, 3.0)
        ring = np.array([[-m, -m], [w + m, -m], [w + m, h + m], [-m, h + m]])
        return G.polygon(_to_geo(gt, ring))
    if kind == "big":  # >= 256 segments: the banded ray cast
        return G.polygon(_to_geo(gt, _star_px(rng, w, h, int(rng.integers(256, 400)),
                                              rng.uniform(2, r + 2))))
    if kind == "lines":
        pts = _to_geo(gt, rng.uniform(-2, r + 2, (int(rng.integers(2, 6)), 2)))
        return [G.point(*pts[0]), G.Geom("LineString", pts),
                G.Geom("MultiPoint", pts),
                G.Geom("MultiLineString", [pts, pts[::-1] + 0.5])][rng.integers(0, 4)]
    if kind == "empty":
        return [G.empty("Polygon"), G.empty("Point"), G.Geom("MultiPolygon", []),
                G.Geom("Polygon", [np.zeros((0, 2))]),
                G.Geom("LineString", np.zeros((0, 2)))][rng.integers(0, 5)]
    if kind == "nan":  # one non-finite vertex (not the closing one)
        ring = _to_geo(gt, _star_px(rng, w, h, 7, rng.uniform(1, r), (w / 2, h / 2)))
        ring[rng.integers(1, len(ring)), rng.integers(0, 2)] = \
            [np.nan, np.inf, -np.inf][rng.integers(0, 3)]
        return G.polygon(ring)
    if kind == "unclosed":  # a ring whose last vertex is not its first
        ring = _to_geo(gt, _star_px(rng, w, h, 6, rng.uniform(1, r), (w / 2, h / 2)))
        return G.Geom("Polygon", [ring])
    raise ValueError(kind)


def _mask_outcome(kernel, g, gt, w, h, at):
    """The mask, or the type of the error the kernel raised: with a
    non-finite vertex the all-touched boundary sampling raises (its
    int() of a NaN/inf sample count), and both kernels share that."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # nan/inf vertices
        try:
            return kernel(g, gt, w, h, at)
        except (ValueError, OverflowError) as e:
            return type(e)


def _same_outcome(a, b) -> bool:
    if isinstance(a, np.ndarray) and isinstance(b, np.ndarray):
        return a.shape == b.shape and np.array_equal(a, b)
    return a is b


@settings(deadline=None, max_examples=80)
@given(st.integers(0, 10**6), st.sampled_from(_MASK_KINDS))
def test_windowed_coverage_mask_equals_full_grid(seed, kind):
    """The windowed centre cast is bit-equal to the frozen whole-grid
    kernel, centre-point and all-touched, for every geometry shape the
    burn can meet: holes, multipolygons, vertices on pixel centres and
    edges, sub-pixel slivers, geometries off or over the tile, banded
    big rings, points and lines, empties, non-finite vertices and
    unclosed rings, on axis-aligned and rotated grids."""
    from godal_spark.operators.rasterize import _coverage_mask

    rng = np.random.default_rng(seed)
    w, h = int(rng.integers(1, 48)), int(rng.integers(1, 48))
    gt = _random_gt(rng)
    g = _random_mask_geom(rng, kind, gt, w, h)
    for at in (False, True):
        got = _mask_outcome(_coverage_mask, g, gt, w, h, at)
        if kind == "empty":
            # the full cast indexed ring 0 of a ring-less Polygon
            # (IndexError); no vertices now means no cast and no pixel
            assert got.shape == (h, w) and not got.any()
            continue
        ref = _mask_outcome(_coverage_mask_full_grid, g, gt, w, h, at)
        assert _same_outcome(got, ref), (kind, at)


def test_windowed_coverage_mask_fixed_cases():
    """Named cases the random test draws rarely: the whole-tile cover,
    a footprint lighting one pixel of a large tile, a NaN vertex (the
    full cast's mask; all-touched raises as it did), and empties."""
    from godal_spark.operators.rasterize import _coverage_mask

    gt = [0.0, 1.0, 0.0, 64.0, 0.0, -1.0]
    cover = G.box(-1.0, -1.0, 65.0, 65.0)
    assert _coverage_mask(cover, gt, 64, 64, False).all()
    one = G.box(10.2, 20.2, 10.8, 20.8)   # holds the centre of (43, 10)
    m = _coverage_mask(one, gt, 64, 64, False)
    assert m.sum() == 1 and m[43, 10]
    nan_ring = np.array([[2.0, 2.0], [30.0, 2.0], [np.nan, 20.0],
                         [2.0, 30.0], [2.0, 2.0]])
    g = G.Geom("Polygon", [nan_ring])
    for at in (False, True):
        ref = _mask_outcome(_coverage_mask_full_grid, g, gt, 64, 64, at)
        assert _same_outcome(_mask_outcome(_coverage_mask, g, gt, 64, 64, at), ref)
    assert isinstance(_mask_outcome(_coverage_mask, g, gt, 64, 64, False),
                      np.ndarray)
    for e in (G.empty("Polygon"), G.empty("Point"), G.empty("MultiPolygon")):
        for at in (False, True):
            assert not _coverage_mask(e, gt, 64, 64, at).any()


@settings(deadline=None, max_examples=25)
@given(st.integers(0, 10**6))
def test_resample_average_matmul_equals_loop(seed):
    """The vectorized separable box-average must be bit-equal to the
    reference per-pixel loop for any integer image and ratio."""
    from godal_spark.functions.resampling import _box_ranges

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(2, 50)), int(rng.integers(2, 50))
    oh, ow = int(rng.integers(1, h + 4)), int(rng.integers(1, w + 4))
    a = rng.integers(0, 256, (h, w), dtype=np.uint8)
    got = resample(a, ow, oh, alg="average", path="overview",
                   out_dtype=np.uint8)
    want = np.zeros((oh, ow))
    for i, ylo, yhi in _box_ranges(h, oh):
        for j, xlo, xhi in _box_ranges(w, ow):
            want[i, j] = a[ylo:yhi, xlo:xhi].astype(np.float64).mean()
    want = np.clip(np.floor(want + 0.5), 0, 255).astype(np.uint8)
    assert np.array_equal(got, want)


def test_resample_wide_int_exact():
    """int64 values above 2^53: mode must not merge distinct categories
    through a float64 cast, and average must fall back to the exact loop
    when box sums could exceed 2^53 (ADVICE r3)."""
    big = 2 ** 60
    a = np.array([[big, big + 1], [big + 1, big + 1]], dtype=np.int64)
    m = resample(a, 1, 1, alg="mode", path="overview")
    assert m.dtype == np.int64 and m[0, 0] == big + 1
    b = np.full((4, 4), 2 ** 54, dtype=np.int64)
    avg = resample(b, 2, 2, alg="average", path="overview")
    assert (avg == 2 ** 54).all()
    # 2x2 integer-factor mode on int64 also exact (fast path skipped)
    c = np.array([[big, big], [big + 1, big]], dtype=np.int64)
    m2 = resample(c, 1, 1, alg="mode", path="overview")
    assert m2[0, 0] == big


@settings(deadline=None, max_examples=15)
@given(st.integers(0, 10**6))
def test_jpeg_progressive_equals_baseline_property(seed):
    """Progressive and baseline encode the same quantized coefficients,
    so decodes must be bit-identical — any size/quality/sampling."""
    from godal_spark.functions import jpeg as J

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(8, 56)), int(rng.integers(8, 56))
    gray = bool(rng.integers(0, 2))
    img = rng.integers(0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8)
    q = int(rng.choice([35, 70, 95]))
    kw = {} if gray else {"subsampling": str(rng.choice(["444", "420", "422"]))}
    base = J.decode_jpeg_real(J.encode_jpeg(img, quality=q, **kw))
    prog = J.decode_jpeg_real(J.encode_jpeg(img, quality=q,
                                            progressive=True, **kw))
    assert np.array_equal(base, prog)
