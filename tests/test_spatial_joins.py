"""PIP join, kNN join, spatial filter, skew salting, checkpoint/resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from godal_spark import datagen
from godal_spark.functions import geom as G
from godal_spark.operators import knn, pip
from godal_spark.plans import lineage, skew


def _points_df(spark, pts):
    return spark.createDataFrame(
        pd.DataFrame({"pid": range(len(pts)),
                      "lon": [p[0] for p in pts], "lat": [p[1] for p in pts]}),
        "pid long, lon double, lat double")


def test_pip_join_counts(spark):
    # canonical footprints: two identical unit squares [100,0]-[101,1]
    fps = datagen.canonical_footprints(spark)
    pts = _points_df(spark, [(100.5, 0.5), (100.9, 0.1), (99.0, 0.5), (100.5, 5.0)])
    out = pip.pip_join(pts, fps, res=10).collect()
    # 2 inside points x 2 overlapping footprints = 4 pairs
    assert len(out) == 4
    assert sorted({r.pid for r in out}) == [0, 1]
    assert sorted({r.foo for r in out}) == ["bar", "baz"]


def test_pip_join_boundary_inclusive(spark):
    fps = datagen.canonical_footprints(spark)
    pts = _points_df(spark, [(100.0, 0.0), (101.0, 1.0)])
    out = pip.pip_join(pts, fps, res=10, broadcast_footprints=True).collect()
    assert len(out) == 4  # corners count as contained


def test_pip_join_matches_bruteforce(spark):
    fps = datagen.synth_footprints(spark, 60)
    rng = np.random.default_rng(3)
    pts = [(float(lo), float(la)) for lo, la in
           zip(rng.uniform(-170, 170, 300), rng.uniform(-80, 80, 300))]
    # add points inside the hot cluster so the join is non-trivial
    pts += [(10.0 + i / 50, 45.0 + i / 60) for i in range(50)]
    pdf = _points_df(spark, pts)
    got = {(r.pid, r.fid) for r in pip.pip_join(pdf, fps, res=10).collect()}
    # brute force oracle
    fp_rows = fps.collect()
    geoms = [(r.fid, G.from_wkb(bytes(r.geometry))) for r in fp_rows]
    exp = set()
    for pid, (lon, lat) in enumerate(pts):
        for fid, g in geoms:
            if G.points_in_polygon([lon], [lat], g)[0]:
                exp.add((pid, fid))
    assert got == exp


def test_salted_pip_equals_unsalted(spark):
    fps = datagen.synth_footprints(spark, 40)
    fps = pip.with_bbox(fps).cache()
    pts = _points_df(spark, [(10.0 + i / 40, 45.0 + i / 45) for i in range(80)])
    pts = pip.with_point_cells(pts, res=10)
    fcells = pip.explode_footprint_cells(fps, res=10).drop("cell_x", "cell_y")
    plain = pts.join(fcells, "cell")
    salted = skew.salted_join(pts, fcells, on="cell", salt=4, salt_by="pid")
    refine = lambda df: df.filter(  # noqa: E731
        pip.st_contains_point(F.col("geometry"), F.col("lon"), F.col("lat")))
    a = {(r.pid, r.fid) for r in refine(plain).collect()}
    b = {(r.pid, r.fid) for r in refine(salted).collect()}
    assert a == b and len(a) > 0


def test_knn_join_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    qs = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 3, 25), rng.uniform(40, 43, 25))]
    ps = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 3, 200), rng.uniform(40, 43, 200))]
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": range(len(qs)), "lon": [q[0] for q in qs], "lat": [q[1] for q in qs]}))
    pdf = spark.createDataFrame(
        pd.DataFrame({"pid": range(len(ps)), "lon": [p[0] for p in ps], "lat": [p[1] for p in ps]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid", res=6, rings=2).collect()
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.dist))
    assert all(r.complete for r in out)
    for qid, (qx, qy) in enumerate(qs):
        d = sorted((np.hypot(qx - px, qy - py), pid) for pid, (px, py) in enumerate(ps))[:3]
        mine = sorted(got[qid])
        assert [m[1] for m in mine] == [pid for _, pid in d]
        np.testing.assert_allclose([m[2] for m in mine], [dd for dd, _ in d], rtol=1e-9)


def test_knn_guarantee_fine_res(spark):
    """At res 10 / rings 1 cells are ~0.35° wide; neighbors ~1° away sit
    outside the ring block, so the bare ring pass would return wrong
    top-k — the re-probe tier must recover the exact answer (and the
    broadcast tier, which ignores res, must give the same)."""
    rng = np.random.default_rng(7)
    qs = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 10, 20), rng.uniform(40, 50, 20))]
    ps = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 10, 60), rng.uniform(40, 50, 60))]
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": range(len(qs)), "lon": [q[0] for q in qs], "lat": [q[1] for q in qs]}))
    pdf = spark.createDataFrame(
        pd.DataFrame({"pid": range(len(ps)), "lon": [p[0] for p in ps], "lat": [p[1] for p in ps]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid",
                       res=10, rings=1, guarantee=True).collect()
    assert all(r.complete for r in out)
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.dist))
    assert len(got) == len(qs)
    for qid, (qx, qy) in enumerate(qs):
        d = sorted((np.hypot(qx - px, qy - py), pid) for pid, (px, py) in enumerate(ps))[:3]
        mine = sorted(got[qid])
        assert [m[1] for m in mine] == [pid for _, pid in d], f"q{qid}"
        np.testing.assert_allclose([m[2] for m in mine], [dd for dd, _ in d], rtol=1e-9)


def test_knn_no_guarantee_flags_violators(spark):
    """guarantee=False: the bound check must set complete=False when the
    kth distance exceeds rings*min_cell (the round-1 bug certified it)."""
    # query at origin, 3 points ~2 cells away at res 10 (cell ~0.35 deg)
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "lon": [0.05], "lat": [0.05]}))
    pdf = spark.createDataFrame(pd.DataFrame(
        {"pid": [0, 1, 2], "lon": [0.3, 0.31, 0.32], "lat": [0.05, 0.05, 0.05]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid",
                       res=10, rings=1, guarantee=False).collect()
    # kth dist ~0.27 deg > 1 * 0.1758 (min cell at res 10) -> not certified
    assert len(out) == 3 and not any(r.complete for r in out)


def test_knn_auto_res(spark):
    pdf = spark.createDataFrame(pd.DataFrame({
        "pid": range(500),
        "lon": np.linspace(0, 5, 500), "lat": np.linspace(40, 45, 500)}))
    r = knn.auto_res(pdf, k=3, rings=2)
    assert 2 <= r <= 12
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "lon": [2.5], "lat": [42.5]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid", res=None).collect()
    assert len(out) == 3 and all(r_.complete for r_ in out)


def test_knn_incomplete_flag(spark):
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "lon": [0.0], "lat": [0.0]}))
    pdf = spark.createDataFrame(pd.DataFrame({"pid": [0], "lon": [0.1], "lat": [0.1]}))
    out = knn.knn_join(qdf, pdf, k=5, q_id="qid", p_id="pid", res=6, rings=1).collect()
    assert len(out) == 1 and not out[0].complete


@pytest.mark.parametrize("case", [
    test_knn_join_matches_bruteforce, test_knn_guarantee_fine_res,
    test_knn_auto_res, test_knn_incomplete_flag],
    ids=["bruteforce", "guarantee_fine_res", "auto_res", "incomplete_flag"])
def test_knn_ring_tiers(spark, monkeypatch, case):
    """The knn cases above with the broadcast tier off: any non-empty
    point side is then over budget and runs the ring, re-probe and brute
    tiers."""
    monkeypatch.setattr(knn, "BROADCAST_BUDGET", 0)
    case(spark)


def _knn_brute(qs, ps, k):
    """numpy reference: rows (qid, rank, pid, dist) and `complete` per
    query that has rows, same formula and (dist, pid) order; rows with a
    null or non-finite coordinate dropped on both sides."""
    ok = lambda x, y: x is not None and y is not None and np.isfinite([x, y]).all()  # noqa: E731
    ps = [p for p in ps if ok(p[1], p[2])]
    pid = np.array([p[0] for p in ps], dtype=np.int64)
    px = np.array([p[1] for p in ps], dtype=np.float64)
    py = np.array([p[2] for p in ps], dtype=np.float64)
    rows, complete = [], {}
    for qid, qx, qy in qs:
        if not ok(qx, qy):
            continue
        d = np.sqrt((qx - px) ** 2 + (qy - py) ** 2)
        o = np.lexsort((pid, d))[:k]
        rows += [(qid, r + 1, int(pid[j]), float(d[j])) for r, j in enumerate(o)]
        if len(o):
            complete[qid] = len(o) == k
    return sorted(rows), complete


@pytest.mark.parametrize("seed,k,n_p", [(0, 3, 240), (1, 1, 90), (2, 5, 3), (3, 2, 0)])
def test_knn_paths_match_bruteforce_property(spark, monkeypatch, seed, k, n_p):
    """Random inputs through both paths against numpy: exact lattice ties
    and equidistant queries, duplicate points, k > |P|, queries far
    outside P's bbox, points near ±180° (no wrap), null/NaN/inf
    coordinates on either side, and a point side with no valid point.
    Same (qid, rank, neighbor_id), dist bit-equal, same complete flags."""
    rng = np.random.default_rng(seed)
    m = n_p // 3
    x = np.concatenate([rng.integers(0, 6, m).astype(float),        # lattice
                        rng.uniform(-179.999, -179.9, m // 2),
                        rng.uniform(179.9, 179.999, m - m // 2),
                        rng.uniform(0, 6, n_p - 2 * m)])
    y = np.concatenate([rng.integers(40, 46, m).astype(float),
                        rng.uniform(-1, 1, m), rng.uniform(40, 46, n_p - 2 * m)])
    ids = rng.permutation(n_p) * 7 + 3           # id order != row order
    ps = [(int(i), float(a), float(b)) for i, a, b in zip(ids, x, y)]
    ps += [(int(ids[j]) + 1, ps[j][1], ps[j][2]) for j in range(min(5, n_p // 2))]  # duplicates
    ps += [(-1, None, 42.0), (-2, 1.0, float("nan")), (-3, float("inf"), 0.0)]
    qs = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(
        np.concatenate([rng.integers(0, 6, 10) + 0.5, rng.uniform(-1, 7, 15),
                        [179.95, -179.95, 120.0, 3.0]]),
        np.concatenate([rng.integers(40, 46, 10) + 0.5, rng.uniform(39, 47, 15),
                        [0.0, 0.5, -60.0, 89.0]])))]
    qs += [(100, None, 41.0), (101, float("nan"), 42.0), (102, 2.0, float("-inf"))]
    exp_rows, exp_complete = _knn_brute(qs, ps, k)
    qdf = spark.createDataFrame(qs, "qid long, lon double, lat double")
    pdf = spark.createDataFrame(ps, "pid long, lon double, lat double")
    for budget in (knn.BROADCAST_BUDGET, 0):
        monkeypatch.setattr(knn, "BROADCAST_BUDGET", budget)
        out = knn.knn_join(qdf, pdf, k, q_id="qid", p_id="pid", res=8, rings=1).collect()
        got = sorted((r.qid, r.rank, r.neighbor_id, r.dist) for r in out)
        assert [g[:3] for g in got] == [e[:3] for e in exp_rows], f"budget {budget}"
        assert [g[3] for g in got] == [e[3] for e in exp_rows], f"budget {budget}"
        assert {r.qid: r.complete for r in out} == exp_complete


@pytest.mark.parametrize("name", ["rings", "k"])
def test_knn_rejects_bad_k_and_rings(spark, jobs_of, name):
    """rings=0 used to spin the re-probe loop forever (r = 0 never
    doubles); k or rings below 1 raise before any job runs."""
    q = spark.createDataFrame([(0, 0.0, 0.0)], "qid long, lon double, lat double")
    p = spark.createDataFrame([(0, 0.1, 0.1)], "pid long, lon double, lat double")
    args = {"k": 3, "rings": 2, name: 0}

    def call(guarantee):
        with pytest.raises(ValueError, match=name):
            knn.knn_join(q, p, args["k"], q_id="qid", p_id="pid",
                         rings=args["rings"], guarantee=guarantee)

    for guarantee in (True, False):
        assert jobs_of(lambda: call(guarantee))[0] == 0


def test_knn_broadcast_job_budget(spark, jobs_of, tmp_path):
    """The broadcast tier at sf0.001 size (150 points, parquet scans):
    one job collects P, the query side's Arrow stage runs in the
    caller's action. Budget 3 jobs for knn_join(...).collect(): the
    re-probe chain it replaces ran 28 at the benchmark's sizes."""
    rng = np.random.default_rng(5)
    pd.DataFrame({"qid": np.arange(1000), "lon": rng.uniform(-180, 180, 1000),
                  "lat": rng.uniform(-60, 60, 1000)}).to_parquet(tmp_path / "q.parquet")
    pd.DataFrame({"pid": np.arange(150), "lon": rng.uniform(-180, 180, 150),
                  "lat": rng.uniform(-60, 60, 150)}).to_parquet(tmp_path / "p.parquet")
    q = spark.read.parquet(str(tmp_path / "q.parquet"))
    p = spark.read.parquet(str(tmp_path / "p.parquet"))
    n, rows = jobs_of(lambda: knn.knn_join(
        q, p, 3, q_id="qid", p_id="pid").collect())
    assert len(rows) == 3000 and all(r.complete for r in rows)
    assert n <= 3, f"knn_join(...).collect() ran {n} jobs"


def test_spatial_filter_golden(spark):
    # godal_test.go:2620-2634: 2 rows; point filter inside → 1 row
    fps = spark.createDataFrame(pd.DataFrame({
        "fid": [0, 1],
        "geometry": [G.to_wkb(G.box(0, 0, 1, 1)), G.to_wkb(G.box(10, 10, 11, 11))],
    }), "fid long, geometry binary")
    assert fps.count() == 2
    flt = G.to_wkb(G.buffer(G.point(0.5, 0.5), 0.1))
    assert pip.spatial_filter(fps, flt).count() == 1


def test_checkpoint_resume(spark, tmp_path):
    w = lineage.CheckpointedWriter(str(tmp_path / "ckpt"))
    calls = []

    def df_for_key(k):
        calls.append(k)
        return spark.range(10).withColumn("k", F.lit(k))

    metas = lineage.run_partitioned(w, ["a", "b", "c"], df_for_key)
    assert len(metas) == 3 and calls == ["a", "b", "c"]
    # resume: nothing recomputed
    calls.clear()
    metas2 = lineage.run_partitioned(w, ["a", "b", "c", "d"], df_for_key)
    assert calls == ["d"] and len(metas2) == 1
    assert w.read_all(spark).count() == 40
    lin = w.lineage()
    assert {m["key"] for m in lin} == {"a", "b", "c", "d"}
    assert all(m["rows"] == 10 and m["wall_s"] >= 0 for m in lin)


def test_pip_join_salted_param_equals_plain(spark):
    fps = datagen.synth_footprints(spark, 40)
    pts = _points_df(spark, [(10.0 + i / 40, 45.0 + i / 45) for i in range(80)])
    plain = {(r.pid, r.fid) for r in pip.pip_join(pts, fps, res=10).collect()}
    salted = {(r.pid, r.fid) for r in
              pip.pip_join(pts, fps, res=10, salt=4, salt_by="pid").collect()}
    assert plain == salted and len(plain) > 0


def test_lod_pushdown_levels(spark):
    from godal_spark.plans.skew import best_available_level, lod_pushdown
    assert best_available_level([2, 4, 8], 1.0) == 0
    assert best_available_level([2, 4, 8], 3.9) == 2
    assert best_available_level([2, 4, 8], 4.0) == 4
    assert best_available_level([2, 4, 8], 100.0) == 8
    assert best_available_level([], 10.0) == 0
    import pandas as pd
    tiles = spark.createDataFrame(pd.DataFrame(
        {"level": [0, 0, 2, 4], "x": [1, 2, 3, 4]}))
    got = lod_pushdown(tiles, [2, 4], 1.0, 5.0)
    assert [r.level for r in got.collect()] == [4]
