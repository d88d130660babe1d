"""The benchmark workloads: pipelines a user would write against
godal_spark's public functions, and the checks of their output.

A workload is opened once per session (the constructors read the
prepared tables) and then run pass after pass (``run``). ``run`` returns
what its final actions produced; ``check`` compares that with the
manifest's expected values (computed by prep.py with numpy) and returns
a list of errors, empty when the pass is correct.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import functions as F

from godal_spark.operators import dedup, knn, pip, polygonize, rasterize, tiling
from godal_spark.plans import lineage
from godal_spark.sources import catalog


def _digest(*cols):
    """Order-independent sum of per-row CRC-32s (no long overflow)."""
    return F.sum(F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])))


class TileJoin:
    """Metadata-only images -> block grid -> tile centre -> PIP join
    against broadcast footprints, and kNN of image centres against
    footprint centroids: the images tiled+joined/s path."""

    spans = ("tiling.grid", "pip.join", "knn.join")

    def __init__(self, spark, d: str, manifest: dict, scratch: str):
        self.cfg, self.exp = manifest["sizes"], manifest["expected"]
        self.images = spark.read.parquet(os.path.join(d, "images"))
        self.fps = spark.read.parquet(os.path.join(d, "footprints"))
        self.sample = self.exp["sample_ids"]

    def run(self, tr) -> dict:
        b = self.cfg["block"]
        gt = F.col("gt")
        with tr.span("tiling.grid"):
            tiles = tiling.with_block_grid(
                self.images.select("image_id", "w", "h", "gt"), bw=b, bh=b)
            tiles = tr.force(tiles.select(
                "image_id", "block_x", "block_y",
                (gt[0] + (F.col("x0") + F.col("bw") / 2.0) * gt[1]).alias("lon"),
                (gt[3] + (F.col("y0") + F.col("bh") / 2.0) * gt[5]).alias("lat")))
        with tr.span("pip.join"):
            joined = pip.pip_join(tiles, self.fps, res=self.cfg["pip_res"],
                                  broadcast_footprints=True)
            pj = joined.agg(
                F.count("*").alias("n"),
                _digest("image_id", "block_x", "block_y", "fid").alias("d"),
                F.collect_list(F.when(
                    F.col("image_id").isin(self.sample),
                    F.array(F.col("image_id"), F.col("block_x").cast("string"),
                            F.col("block_y").cast("string"),
                            F.col("fid").cast("string")))).alias("s")).first()
        with tr.span("knn.join"):
            q = self.images.select(
                "image_id", (gt[0] + F.col("w") * gt[1] / 2.0).alias("lon"),
                (gt[3] + F.col("h") * gt[5] / 2.0).alias("lat"))
            p = self.fps.select("fid", F.col("cx").alias("lon"),
                                F.col("cy").alias("lat"))
            nn = knn.knn_join(q, p, self.cfg["knn_k"], q_id="image_id",
                              p_id="fid")
            kj = nn.agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("complete"), 0).otherwise(1)).alias("incomplete"),
                _digest("image_id", "neighbor_id", "rank").alias("d"),
                F.collect_list(F.when(
                    F.col("image_id").isin(self.sample),
                    F.array(F.col("image_id"), F.col("rank").cast("string"),
                            F.col("neighbor_id").cast("string")))).alias("s")).first()
        return {"pairs": pj["n"], "pairs_digest": pj["d"],
                "sample_pairs": sorted([r[0], int(r[1]), int(r[2]), int(r[3])]
                                       for r in pj["s"]),
                "knn_rows": kj["n"], "knn_incomplete": kj["incomplete"],
                "knn_digest": kj["d"],
                "sample_knn": sorted([r[0], int(r[1]), int(r[2])] for r in kj["s"])}

    def check(self, r: dict, ref: dict | None) -> list[str]:
        err = []
        if r["sample_pairs"] != self.exp["pip_pairs"]:
            err.append("pip pairs of the sampled images differ from brute force")
        want = sorted([q, rank + 1, p] for q, ps in self.exp["knn"].items()
                      for rank, p in enumerate(ps))
        if r["sample_knn"] != want:
            err.append("knn of the sampled images differs from brute force")
        n_q, k = self.cfg["images"], self.cfg["knn_k"]
        if r["knn_rows"] != n_q * k or r["knn_incomplete"]:
            err.append(f"knn returned {r['knn_rows']} rows for {n_q} x {k}")
        err += _same_as_ref(r, ref, ("pairs", "pairs_digest", "knn_digest"))
        return err


class TileIngest:
    """Images with pixels -> decode + tile explode -> overview pyramid ->
    checkpointed write per cell bucket -> read one level back."""

    spans = ("tiling.explode", "tiling.overviews", "lineage.write", "catalog.read")

    def __init__(self, spark, d: str, manifest: dict, scratch: str):
        self.cfg, self.exp = manifest["sizes"], manifest["expected"]
        self.images = catalog.read_images(spark, os.path.join(d, "images"))
        self.spark = spark
        self.scratch = scratch
        self.n = 0

    def run(self, tr) -> dict:
        b, nb = self.cfg["block"], self.cfg["buckets"]
        root = os.path.join(self.scratch, f"pass{self.n}")
        self.n += 1
        # tiles and pyramid are read more than once (overview levels, one
        # write per bucket), so a user persists them
        cached = []
        try:
            with tr.span("tiling.explode"):
                tiles = tiling.explode_tiles(self.images, bw=b, bh=b).persist()
                cached.append(tiles)
                tr.force(tiles)
            with tr.span("tiling.overviews"):
                ov = tiling.build_overviews(tiles, min_size=b, block=b)
                # cell_bucket as catalog.write_tiles derives it for tiles
                # without a cell column
                pyramid = tiles.unionByName(ov).withColumn(
                    "bucket", F.pmod(F.xxhash64("image_id"), F.lit(nb))).persist()
                cached.append(pyramid)
                tr.force(pyramid)
            with tr.span("lineage.write"):
                writer = lineage.CheckpointedWriter(root)
                metas = lineage.run_partitioned(
                    writer, list(range(nb)),
                    lambda k: pyramid.filter(F.col("bucket") == k).drop("bucket"))
            with tr.span("catalog.read"):
                back = catalog.read_tiles(self.spark, os.path.join(root, "data"),
                                          level=0)
                rd = back.agg(F.count("*").alias("n"),
                              F.sum(F.crc32("payload")).alias("crc"),
                              _digest("image_id", "caption").alias("cap")).first()
        finally:
            shutil.rmtree(root, ignore_errors=True)
            for df in cached:
                df.unpersist(blocking=True)
        return {"written": sum(m["rows"] for m in metas), "keys": len(metas),
                "l0_tiles": rd["n"], "l0_crc": rd["crc"], "l0_caption_crc": rd["cap"]}

    def check(self, r: dict, ref: dict | None) -> list[str]:
        e = self.exp
        err = []
        if r["keys"] != self.cfg["buckets"]:
            err.append(f"wrote {r['keys']} of {self.cfg['buckets']} buckets")
        if r["written"] != e["l0_tiles"] + e["overview_tiles"]:
            err.append(f"wrote {r['written']} tiles, expected "
                       f"{e['l0_tiles'] + e['overview_tiles']}")
        for k in ("l0_tiles", "l0_crc", "l0_caption_crc"):
            if r[k] != e[k]:
                err.append(f"read-back {k} {r[k]} != {e[k]}")
        return err


class RasterVector:
    """Footprints -> rasterize_tiles -> polygonize_tiles and sieve_tiles
    on the burned tiles: the raster<->vector round trip."""

    spans = ("rasterize.tiles", "polygonize.tiles", "polygonize.sieve")

    def __init__(self, spark, d: str, manifest: dict, scratch: str):
        self.cfg, self.exp = manifest["sizes"], manifest["expected"]
        self.fps = spark.read.parquet(os.path.join(d, "footprints"))

    def run(self, tr) -> dict:
        c = self.cfg
        W, H = c["width"], c["height"]
        with tr.span("rasterize.tiles"):
            tiles = rasterize.rasterize_tiles(
                self.fps, (-180.0, -90.0, 180.0, 90.0), (W, H),
                bw=c["raster_block"], bh=c["raster_block"], init=0, burn=1)
            # polygonize and sieve both read the burned tiles: keep them
            tiles = tiles.select(
                F.lit("raster").alias("image_id"), F.lit(0).alias("band"),
                F.lit(0).alias("level"), "*", F.lit(W).alias("w"),
                F.lit(H).alias("h"), F.lit(None).cast("string").alias("caption")
            ).persist()
            rz = tiles.agg(F.count("*").alias("n"),
                           F.sum(F.crc32("payload")).alias("crc")).first()
        try:
            with tr.span("polygonize.tiles"):
                feats = polygonize.polygonize_tiles(tiles)
                pz = feats.agg(F.count("*").alias("n"), F.sum("area").alias("area"),
                               F.sort_array(F.collect_list(F.array(
                                   F.col("value"), F.col("n_pixels").cast("double"))))
                               .alias("sizes")).first()
            with tr.span("polygonize.sieve"):
                sv = polygonize.sieve_tiles(tiles, c["sieve"]).agg(
                    F.count("*").alias("n"),
                    F.sum(F.crc32("payload")).alias("crc")).first()
        finally:
            tiles.unpersist(blocking=True)
        return {"tiles": rz["n"], "raster_crc": rz["crc"], "features": pz["n"],
                "area": pz["area"], "feature_sizes": [[v, int(n)] for v, n in pz["sizes"]],
                "sieve_tiles": sv["n"], "sieve_crc": sv["crc"]}

    def check(self, r: dict, ref: dict | None) -> list[str]:
        e = self.exp
        err = []
        for k, w in (("tiles", e["raster_tiles"]), ("sieve_tiles", e["raster_tiles"]),
                     ("raster_crc", e["raster_crc"]), ("features", e["features"]),
                     ("feature_sizes", e["feature_sizes"]),
                     ("sieve_crc", e["sieve_crc"])):
            if r[k] != w:
                err.append(f"{k} differs from the numpy oracle")
        if abs(r["area"] - e["area"]) > 1e-6 * e["area"]:
            err.append(f"area {r['area']} != {e['area']}")
        return err


_WS = re.compile(r"\s+", re.ASCII)


def shingles(text: str, k: int = 5) -> set:
    """Word k-gram set, tokenized as dedup.with_shingle_minhash_fused does."""
    s = _WS.sub(" ", text or "").strip(" ").lower()
    toks = s.split(" ") if s else []
    if len(toks) <= k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


class CaptionDedup:
    """The images' captions -> minhash_lsh_dedup -> verified near-dup pairs."""

    spans = ("dedup.build", "dedup.verify")

    def __init__(self, spark, d: str, manifest: dict, scratch: str):
        import pyarrow.parquet as pq

        self.cfg, self.exp = manifest["sizes"], manifest["expected"]
        path = os.path.join(d, "images")
        self.docs = spark.read.parquet(path).select("image_id", "caption")
        # the check's own copy of the texts, read once, never per pass
        t = pq.read_table(path, columns=["image_id", "caption"]).to_pydict()
        self.text = dict(zip(t["image_id"], t["caption"]))
        self._sh: dict[str, set] = {}

    def run(self, tr) -> dict:
        with tr.span("dedup.build"):
            pairs = dedup.minhash_lsh_dedup(self.docs, threshold=self.cfg["threshold"],
                                            id_col="image_id", text_col="caption")
        with tr.span("dedup.verify"):
            rows = pairs.collect()
        return {"dedup_pairs": sorted((r.id_a, r.id_b, r.jaccard) for r in rows)}

    def _shingles(self, i: str) -> set:
        s = self._sh.get(i)
        if s is None:
            s = self._sh[i] = shingles(self.text[i])
        return s

    def check(self, r: dict, ref: dict | None) -> list[str]:
        got = {(a, b) for a, b, _ in r["dedup_pairs"]}
        err = []
        missing = [p for p in self.exp["planted"] if tuple(p) not in got]
        if missing:
            err.append(f"{len(missing)} planted pairs not found, e.g. {missing[0]}")
        th = self.cfg["threshold"]
        for a, b, j in r["dedup_pairs"]:
            sa, sb = self._shingles(a), self._shingles(b)
            true_j = len(sa & sb) / len(sa | sb)
            if true_j < th - 1e-9 or abs(true_j - j) > 1e-6:
                err.append(f"pair ({a},{b}) reports jaccard {j}, true {true_j:.6f}")
                break
        err += _same_as_ref(r, ref, ("dedup_pairs",))
        return err


def _same_as_ref(r: dict, ref: dict | None, keys) -> list[str]:
    """Exact outputs must repeat on every pass of a run."""
    if ref is None:
        return []
    return [f"{k} changed between passes" for k in keys if r[k] != ref[k]]


# A workload's pass runs its parts one after the other. tile_join is the
# metadata side of an image+caption table (JVM joins, then the Python
# caption dedup); raster_ingest is the pixel side (Python-heavy chains of
# many small jobs).
PARTS = {"tile_join": (TileJoin, CaptionDedup),
         "raster_ingest": (TileIngest, RasterVector)}


class Workload:
    def __init__(self, name: str, spark, d: str, manifest: dict, scratch: str):
        self.parts = [cls(spark, d, manifest, scratch) for cls in PARTS[name]]
        self.spans = spans_of(name)

    def run(self, tr) -> dict:
        return {k: v for p in self.parts for k, v in p.run(tr).items()}

    def check(self, r: dict, ref: dict | None) -> list[str]:
        return [e for p in self.parts for e in p.check(r, ref)]


def spans_of(name: str) -> tuple:
    return tuple(s for cls in PARTS[name] for s in cls.spans)
