"""Input preparation for the benchmark: one workload's tables from a seed.

Runs in its own process, before the measuring process starts its JVM, so
input generation never shares a heap, a JIT or a page cache warm-up with
the measurement. It writes parquet tables plus ``manifest.json``:

* ``digest`` - sha256 over every written file, so a run records exactly
  which bytes it measured;
* ``expected`` - the answers the measuring process checks each pass
  against, computed here with numpy from the same arrays (never with
  Spark).

The tables follow ``godal_spark.datagen.synth_images`` and
``synth_footprints`` (20% of images in one hot 1-degree cell, 25% of
footprints clustered there, a raw8/png/jpeg format mix) but draw every
free parameter from the seed.

Usage: python3 perfbench/prep.py --workload NAME --seed N --files F --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes per workload and its fixed number of timed passes, which
# items_per_s is the median of. On 4 task slots most of a pass is
# per-job cost (50-100 Spark jobs, many with Python task round trips) and
# JIT compilation, not per-row work, so inputs stay small: a pass takes
# 7-15 s, and a run, JVM launch and cold pass included, under a minute.
SIZES = {
    "tile_join": {"images": 10_000, "footprints": 1_000, "block": 32,
                  "max_dim": 96, "pip_res": 11, "knn_k": 4, "threshold": 0.8,
                  "timed": 2},
    "raster_ingest": {"images": 100, "block": 32, "max_dim": 64, "buckets": 2,
                      "footprints": 300, "width": 512, "height": 256,
                      "raster_block": 128, "sieve": 4, "timed": 1},
}
WORKLOADS = tuple(SIZES)

HOT_LON, HOT_LAT = 10.0, 45.0   # the hot 1-degree cell of datagen
PX_DEG = 0.001                  # image pixel size in degrees (datagen)
SAMPLE = 300                    # rows of the numpy brute-force checks


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def crc(b: bytes) -> int:
    """CRC-32 as Spark's ``crc32`` returns it (java.util.zip.CRC32)."""
    return zlib.crc32(b) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# images (tile_join metadata-only, tile_ingest with pixels)
# ---------------------------------------------------------------------------

def image_meta(rng: np.random.Generator, n: int, max_dim: int) -> dict:
    ids = np.arange(n)
    # a seeded shuffle of fixed size lists: the pixel and tile totals, and
    # so the decode work, stay the same from seed to seed
    w = rng.permutation(16 + ids * (max_dim - 15) // n)
    h = rng.permutation(16 + ids * (max_dim - 15) // n)
    hot = ids % 5 == 0
    lon = np.where(hot, HOT_LON + rng.random(n), -170.0 + 340.0 * rng.random(n))
    lat = np.where(hot, HOT_LAT + rng.random(n), -80.0 + 160.0 * rng.random(n))
    fmt = np.array(["raw8", "png", "jpeg"])[ids % 3]
    cap = [f"caption for img_{i} at ({lo:.4f},{la:.4f})" for i, lo, la in zip(ids, lon, lat)]
    return {"id": ids, "w": w, "h": h, "lon": lon, "lat": lat, "fmt": fmt,
            "caption": cap, "phash": rng.integers(-2**62, 2**62, n)}


def image_pixels(i: int, w: int, h: int, fmt: str, k: int) -> np.ndarray:
    """datagen's per-format pixel formulas with a seed-drawn parameter k."""
    y, x = np.mgrid[0:h, 0:w]
    if fmt == "raw8":
        return ((y * w + x + k) % 256).astype(np.uint8)
    if fmt == "png":
        return ((np.add.outer(np.arange(h), np.arange(w)) * (1 + (i + k) % 7))
                % 256).astype(np.uint8)
    out = np.zeros((h, w, 3), dtype=np.uint8)
    out[:, :, 0] = k % 200
    out[:, :, 1] = 10 + (x * 2) % 32
    out[:, :, 2] = 20 + (y * 3) % 48
    return out


def images_table(m: dict, payloads: list | None) -> pa.Table:
    n = len(m["id"])
    px = PX_DEG
    gt = [[float(lo), px, 0.0, float(la + hh * px), 0.0, -px]
          for lo, la, hh in zip(m["lon"], m["lat"], m["h"])]
    return pa.table({
        "image_id": [f"img_{i:08d}" for i in m["id"]],
        "bytes": pa.array(payloads if payloads is not None else [b""] * n,
                          pa.binary()),
        "w": pa.array(m["w"], pa.int32()),
        "h": pa.array(m["h"], pa.int32()),
        "fmt": m["fmt"].tolist(),
        "caption": m["caption"],
        "phash": pa.array(m["phash"], pa.int64()),
        "gt": pa.array(gt, pa.list_(pa.float64())),
        "srs": ["EPSG:4326"] * n,
        "nodata": pa.nulls(n, pa.float64()),
    })


# ---------------------------------------------------------------------------
# footprints (tile_join, raster_vector)
# ---------------------------------------------------------------------------

def footprints(rng: np.random.Generator, n: int) -> dict:
    """Boxes as in datagen.synth_footprints; one in eight of the spread
    footprints is a diamond instead, so the exact (Python) point-in-polygon
    refine of pip_join has work, as it has on real footprint tables."""
    from godal_spark.functions import geom as G

    ids = np.arange(n)
    hot = ids % 4 == 0
    # the spread footprints are jittered over a regular grid, not uniform:
    # how far kNN must widen its search is set by the emptiest region,
    # and with uniform points that (and so the job count) varies by seed
    m = int((~hot).sum())
    cols = max(1, round(np.sqrt(m * 340.0 / 160.0)))
    rows = -(-m // cols)
    j = np.arange(m)
    cx, cy = np.empty(n), np.empty(n)
    cx[~hot] = -170.0 + (j % cols + 0.25 + 0.5 * rng.random(m)) * (340.0 / cols)
    cy[~hot] = -80.0 + (j // cols + 0.25 + 0.5 * rng.random(m)) * (160.0 / rows)
    cx[hot] = HOT_LON + rng.random(n - m)
    cy[hot] = HOT_LAT + rng.random(n - m)
    s = np.where(hot, 0.02, 0.1 + (ids % 11) * 0.05)
    diamond = ~hot & (ids % 8 == 7)
    wkb = []
    for x, y, r, d in zip(cx, cy, s, diamond):
        if d:
            g = G.from_wkt(f"POLYGON (({x - r!r} {y!r},{x!r} {y - r!r},"
                           f"{x + r!r} {y!r},{x!r} {y + r!r},{x - r!r} {y!r}))")
        else:
            g = G.box(x - r, y - r, x + r, y + r)
        wkb.append(G.to_wkb(g))
    return {"fid": ids, "cx": cx, "cy": cy, "s": s, "diamond": diamond,
            "wkb": wkb}


def footprints_table(f: dict) -> pa.Table:
    n = len(f["fid"])
    return pa.table({
        "fid": pa.array(f["fid"], pa.int64()),
        "geometry": pa.array(f["wkb"], pa.binary()),
        "foo": np.where(f["fid"] % 2 == 0, "bar", "baz").tolist(),
        "srs": ["EPSG:4326"] * n,
        # the write-once bbox columns pip.with_bbox would add
        "minx": f["cx"] - f["s"], "miny": f["cy"] - f["s"],
        "maxx": f["cx"] + f["s"], "maxy": f["cy"] + f["s"],
        "is_rect": pa.array(~f["diamond"], pa.bool_()),
        "cx": f["cx"], "cy": f["cy"],   # centroid, also write-once
    })


def contains(f: dict, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """(points, footprints) containment matrix, brute force."""
    x, y = x[:, None], y[:, None]
    cx, cy, s = f["cx"][None, :], f["cy"][None, :], f["s"][None, :]
    # the bbox test in the arithmetic pip_join uses, then the exact shape
    inside = (x >= cx - s) & (x <= cx + s) & (y >= cy - s) & (y <= cy + s)
    return inside & (~f["diamond"][None, :] | (np.abs(x - cx) + np.abs(y - cy) <= s))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def block_grid(w: int, h: int, b: int):
    for y0 in range(0, h, b):
        for x0 in range(0, w, b):
            yield x0 // b, y0 // b, x0, y0, min(b, w - x0), min(b, h - y0)


def prep_tile_join(rng, cfg, files, out) -> dict:
    """The metadata side of an image+caption table: metadata-only images
    whose captions form a corpus for near-duplicate detection."""
    m = image_meta(rng, cfg["images"], cfg["max_dim"])
    m["caption"], planted = captions(rng, cfg["images"])
    write(images_table(m, None), out, "images", files)
    f = footprints(rng, cfg["footprints"])
    write(footprints_table(f), out, "footprints", files)

    # brute-force PIP over every tile of a sample of images
    b = cfg["block"]
    sample = np.sort(rng.choice(cfg["images"], SAMPLE, replace=False))
    pairs = []
    for i in sample:
        w, h, lon, lat = int(m["w"][i]), int(m["h"][i]), m["lon"][i], m["lat"][i]
        top = lat + h * PX_DEG
        for bx, by, x0, y0, tw, th in block_grid(w, h, b):
            x = lon + (x0 + tw / 2.0) * PX_DEG
            y = top - (y0 + th / 2.0) * PX_DEG
            hit = np.flatnonzero(contains(f, np.array([x]), np.array([y]))[0])
            pairs += [[f"img_{i:08d}", bx, by, int(fid)] for fid in hit]
    # brute-force kNN of image centres against footprint centroids
    k = cfg["knn_k"]
    # image centre in the arithmetic the Spark side uses on `gt`
    qx = m["lon"][sample] + m["w"][sample] * PX_DEG / 2.0
    qy = (m["lat"][sample] + m["h"][sample] * PX_DEG) + m["h"][sample] * -PX_DEG / 2.0
    d = np.sqrt((qx[:, None] - f["cx"][None, :]) ** 2
                + (qy[:, None] - f["cy"][None, :]) ** 2)
    order = np.lexsort((np.broadcast_to(f["fid"], d.shape), d), axis=1)[:, :k]
    knn = {f"img_{i:08d}": [int(p) for p in row] for i, row in zip(sample, order)}
    return {"items": cfg["images"], "sample_ids": [f"img_{i:08d}" for i in sample],
            "pip_pairs": sorted(pairs), "knn": knn,
            "planted": [[f"img_{a:08d}", f"img_{b:08d}"] for a, b in planted]}


def prep_tile_ingest(rng, cfg, files, out) -> dict:
    from godal_spark.functions import codecs
    from godal_spark.operators.tiling import overview_levels

    n, b = cfg["images"], cfg["block"]
    m = image_meta(rng, n, cfg["max_dim"])
    ks = rng.integers(0, 256, n)
    payloads, l0_count, l0_crc, cap_crc, ov_count = [], 0, 0, 0, 0
    min_psnr = float("inf")
    for i in range(n):
        w, h, fmt = int(m["w"][i]), int(m["h"][i]), str(m["fmt"][i])
        arr = image_pixels(i, w, h, fmt, int(ks[i]))
        buf = codecs.encode(arr, fmt)
        payloads.append(buf)
        dec = codecs.decode(buf, fmt, w, h)
        if fmt == "jpeg":
            min_psnr = min(min_psnr, codecs.psnr(arr, dec))
        elif not np.array_equal(arr, dec):
            raise RuntimeError(f"lossless codec {fmt} changed image {i}")
        # lossless images are checked against the ORIGINAL pixels, JPEG
        # ones against the decode (whose PSNR is bounded just above)
        src = dec if fmt == "jpeg" else arr
        planes = [src] if src.ndim == 2 else [src[:, :, c] for c in range(src.shape[2])]
        cap = m["caption"][i]
        for plane in planes:
            for _, _, x0, y0, tw, th in block_grid(w, h, b):
                l0_count += 1
                l0_crc += crc(np.ascontiguousarray(plane[y0:y0 + th, x0:x0 + tw]).tobytes())
                cap_crc += crc(f"img_{i:08d}|{cap}".encode())
            # overview tiles: level 2^k has ceil(ceil(w/2^k)/b) x ... tiles
            for lv in overview_levels(w, h, b):
                ow, oh = -(-w // lv), -(-h // lv)
                ov_count += (-(-ow // b)) * (-(-oh // b))
    if min_psnr < 40.0:
        raise RuntimeError(f"JPEG PSNR {min_psnr:.1f} dB < 40")
    write(images_table(m, payloads), out, "images", files)
    return {"l0_tiles": l0_count, "l0_crc": l0_crc,
            "l0_caption_crc": cap_crc, "overview_tiles": ov_count,
            "jpeg_min_psnr": round(min_psnr, 3)}


def raster_oracle(f: dict, cfg: dict) -> np.ndarray:
    """The burned raster, one rasterize_array call per target tile over
    the footprints whose bbox reaches it (the whole-raster call is the
    same kernel over every pixel for every geometry, too slow to run per
    benchmark input)."""
    from godal_spark.functions import geom as G
    from godal_spark.operators.rasterize import rasterize_array

    W, H, b = cfg["width"], cfg["height"], cfg["raster_block"]
    pw, ph = 360.0 / W, 180.0 / H
    out = np.zeros((H, W), dtype=np.uint8)
    geoms = [G.from_wkb(w) for w in f["wkb"]]
    # pixel range of each bbox, widened by one pixel like rasterize_tiles
    x_lo = ((f["cx"] - f["s"]) + 180.0) / pw - 1.0
    x_hi = ((f["cx"] + f["s"]) + 180.0) / pw + 1.0
    y_lo = (90.0 - (f["cy"] + f["s"])) / ph - 1.0
    y_hi = (90.0 - (f["cy"] - f["s"])) / ph + 1.0
    for _, _, x0, y0, tw, th in block_grid(W, H, b):
        sel = np.flatnonzero((x_hi > x0) & (x_lo < x0 + tw)
                             & (y_hi > y0) & (y_lo < y0 + th))
        if sel.size == 0:
            continue
        te = (-180.0 + x0 * pw, 90.0 - (y0 + th) * ph,
              -180.0 + (x0 + tw) * pw, 90.0 - y0 * ph)
        tile, _ = rasterize_array([geoms[j] for j in sel], te, (tw, th),
                                  init=0, burn=1)
        out[y0:y0 + th, x0:x0 + tw] = tile
    return out


def tiles_crc(arr: np.ndarray, b: int) -> int:
    H, W = arr.shape
    return sum(crc(np.ascontiguousarray(arr[y0:y0 + th, x0:x0 + tw]).tobytes())
               for _, _, x0, y0, tw, th in block_grid(W, H, b))


def prep_raster_vector(rng, cfg, files, out) -> dict:
    from godal_spark.operators.polygonize import polygonize_array, sieve_array

    f = footprints(rng, cfg["footprints"])
    write(footprints_table(f), out, "footprints", files)
    raster = raster_oracle(f, cfg)
    feats = polygonize_array(raster)
    sieved = sieve_array(raster, cfg["sieve"])
    b = cfg["raster_block"]
    return {"raster_tiles": -(-cfg["width"] // b) * -(-cfg["height"] // b),
            "burned_px": int(raster.sum()), "raster_crc": tiles_crc(raster, b),
            "features": len(feats),
            "feature_sizes": sorted([float(v), int(n)] for v, n, _ in feats),
            "area": float(sum(g.area() for _, _, g in feats)),
            "sieve_crc": tiles_crc(sieved, b)}


def _words(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def captions(rng, n: int) -> tuple[list[str], list[list[int]]]:
    """Captions with the properties dedup cost depends on: planted
    near-duplicate clusters (each copy appends one word to a base of at
    least 14 words, so its 5-shingle Jaccard to the base is >= 0.9),
    templated boilerplate that floods LSH with below-threshold candidates,
    and a heavy-tailed length distribution. Returns the texts and the
    planted (base, copy) index pairs."""
    vocab = _words(rng, 6000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    # ~30 captions per template: every pair inside a template is an LSH
    # candidate at Jaccard ~0.45, so candidates grow with the square of it
    templates = [" ".join(_words(rng, 12)) + " {} " + " ".join(_words(rng, 6)) + " {}"
                 for _ in range(max(1, n // 300))]
    lens = np.minimum(6 + rng.lognormal(2.8, 0.8, n).astype(int), 600)
    texts: list[str] = []
    planted: list[list[int]] = []
    # a fixed pattern per 20 captions (the seed draws only the words), so
    # the dedup work - candidates grow with the square of template and
    # cluster sizes - does not change from seed to seed: 2 boilerplate,
    # 2 bases with 2 near copies each, 14 unrelated
    while len(texts) < n:
        i = len(texts)
        slot = i % 20
        if slot in (0, 10):
            t = templates[(i // 10) % len(templates)]
            texts.append(t.format(*rng.choice(vocab, 2, p=zipf)))
        elif slot in (4, 14) and i + 2 < n:
            base = " ".join(rng.choice(vocab, max(14, int(lens[i])), p=zipf))
            texts.append(base)
            for _ in range(2):
                planted.append([i, len(texts)])
                texts.append(base + " " + str(rng.choice(vocab)))
        else:
            texts.append(" ".join(rng.choice(vocab, int(lens[i]), p=zipf)))
    return texts[:n], planted


def prep_raster_ingest(rng, cfg, files, out) -> dict:
    """The two pixel paths: images to decode and pyramid, footprints to
    burn and vectorize. A pass produces the level-0 tiles of both."""
    exp = {**prep_tile_ingest(rng, cfg, files, out),
           **prep_raster_vector(rng, cfg, files, out)}
    exp["items"] = exp["l0_tiles"] + exp["raster_tiles"]
    return exp


PREP = {"tile_join": prep_tile_join, "raster_ingest": prep_raster_ingest}


def write(table: pa.Table, out: str, name: str, files: int) -> None:
    """``files`` parquet files of one row group each: the scan's split
    count, fixed as a multiple of the task slots."""
    d = os.path.join(out, name)
    os.makedirs(d)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(d, f"part-{k:05d}.parquet"))


def digest(out: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(out)):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn == "manifest.json":
                continue
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    os.makedirs(a.out)   # fresh: the caller removes an earlier run's inputs
    cfg = SIZES[a.workload]
    expected = PREP[a.workload](_rng(a.seed, a.workload), cfg, a.files, a.out)
    manifest = {"workload": a.workload, "seed": a.seed, "files": a.files,
                "sizes": cfg, "digest": digest(a.out), "expected": expected}
    with open(os.path.join(a.out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
