"""Similarity search over embedding columns (array<float>).

Training-pipeline extension (no analogue in the reference):

  * brute_force_topk — exact cosine top-k: query matrix broadcast as a
    numpy constant into an Arrow-batched mapInPandas (one BLAS matmul
    per batch), then a single row_number() window for the global top-k.
    The baseline and the verifier for the approximate paths.
  * with_hyperplane_sketch — random-hyperplane (sign) LSH sketch as an
    int64 column; JVM-joinable.
  * ivf_topk — inverted-file ANN: k-means-style coarse centroids
    (deterministic seeded sample + Lloyd iterations driver-side on a
    sample), each vector assigned to its nearest centroid (one int
    column). Queries probe `nprobe` nearest centroids → candidate join
    on centroid id → exact rerank. The scale path: candidate set is
    |D| * nprobe / nlist instead of |D|.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T


MAX_DRIVER_QUERIES = 100_000


def _collect_queries(emb: DataFrame, query_ids, id_col: str, vec_col: str):
    """Gather the QUERY side to the driver (it is broadcast into the scan
    stage). The query side must be bounded: with query_ids=None this
    would collect the whole corpus, a driver OOM at scale — error-first
    above MAX_DRIVER_QUERIES instead (limit k+1 detects overflow without
    scanning past the cap)."""
    if query_ids is not None:
        # explicitly bounded by the caller — trust it (the cap targets
        # only the whole-corpus default below)
        q = emb.filter(F.col(id_col).isin(list(query_ids)))
        rows = q.select(id_col, vec_col).collect()
    else:
        rows = emb.select(id_col, vec_col) \
            .limit(MAX_DRIVER_QUERIES + 1).collect()
        if len(rows) > MAX_DRIVER_QUERIES:
            raise ValueError(
                f"similarity: query_ids=None collects the corpus to the "
                f"driver and it exceeds {MAX_DRIVER_QUERIES} vectors — "
                "pass query_ids; an unbounded query side means all-pairs "
                "(use the LSH/IVF dedup operators for that)")
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = np.array([r[1] for r in rows], dtype=np.float64)
    return qids, qmat


def brute_force_topk(emb: DataFrame, query_ids, k: int = 10, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query id."""
    qids, qmat = _collect_queries(emb, query_ids, id_col, vec_col)
    qnorm = np.linalg.norm(qmat, axis=1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pids = pdf[id_col].to_numpy(dtype=np.int64)
            pmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            pnorm = np.linalg.norm(pmat, axis=1)
            sims = (qmat @ pmat.T) / (qnorm[:, None] * pnorm[None, :])
            # per-batch partial top-k keeps the shuffle tiny
            kk = min(k + (1 if exclude_self else 0), sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = {"qid": [], "pid": [], "sim": []}
            for qi in range(len(qids)):
                for pj in idx[qi]:
                    if exclude_self and pids[pj] == qids[qi]:
                        continue
                    rows["qid"].append(qids[qi])
                    rows["pid"].append(pids[pj])
                    rows["sim"].append(sims[qi, pj])
            yield pd.DataFrame(rows)

    # small-corpus parquet can read as one split — spread the CPU-bound
    # cosine pass over the cores
    from godal_spark.plans.skew import spread_small_scan

    partial = spread_small_scan(emb).mapInPandas(
        gen, schema="qid long, pid long, sim double")
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("pid").asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def with_hyperplane_sketch(emb: DataFrame, *, vec_col: str = "embedding",
                           n_planes: int = 16, seed: int = 42) -> DataFrame:
    dim = len(emb.select(vec_col).first()[0])
    H = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf(T.LongType())
    def sk(vecs: pd.Series) -> pd.Series:
        M = np.array(list(vecs), dtype=np.float64)
        signs = (M @ H.T) > 0
        val = np.zeros(len(M), dtype=np.int64)
        for b in range(n_planes):
            val |= signs[:, b].astype(np.int64) << b
        return pd.Series(val)

    # guide §4.4: bucket-derived filters push below the UDF and would
    # duplicate the ArrowEvalPython node — pin one evaluation
    sk = sk.asNondeterministic()
    return emb.withColumn("sketch", sk(F.col(vec_col)))


def train_centroids(emb: DataFrame, nlist: int = 16, *, vec_col: str = "embedding",
                    seed: int = 42, iters: int = 10, sample: int = 4096) -> np.ndarray:
    """Driver-side Lloyd on a deterministic sample (IVF coarse quantizer).
    At 10^12 scale this stays a sample-based driver step (nlist·dim is
    tiny); assignment below is the distributed part.

    Sampling is a per-partition hash filter + per-partition limit — a
    single streaming pass, no TakeOrdered sort buffer over the full
    table (round 1 did orderBy(xxhash64).limit, a full-scan top-k)."""
    # keep rows whose hash falls in the lowest ~1/256 slice, then cap;
    # deterministic for a given input (pure row-content hash)
    cap = int(sample)
    hashed = emb.select(vec_col).filter(
        F.pmod(F.xxhash64(F.col(vec_col).cast("string")), F.lit(256)) == 0)
    rows = hashed.limit(cap).collect()
    if len(rows) < min(cap, 64):  # tiny tables: hash slice too sparse
        rows = emb.select(vec_col).limit(cap).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                C[j] = v / max(np.linalg.norm(v), 1e-12)
    return C


def ivf_topk(emb: DataFrame, query_ids, k: int = 10, *, nlist: int = 16,
             nprobe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42, centroids: np.ndarray | None = None) -> DataFrame:
    """IVF ANN: probe the `nprobe` nearest lists per query, exact rerank.

    Returns (qid, pid, sim, rank). Recall < 1 by design; verified against
    brute_force_topk in tests.
    """
    C = centroids if centroids is not None else train_centroids(
        emb, nlist, vec_col=vec_col, seed=seed)

    qids, qmat = _collect_queries(emb, query_ids, id_col, vec_col)
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    probes = np.argsort(-(qn @ C.T), axis=1)[:, :nprobe]
    # probe membership as a (n_queries x nlist) bool matrix — the whole
    # probe plan is a broadcast constant of the fused scan below
    probe_m = np.zeros((len(qids), len(C)), dtype=bool)
    for qi, ps in enumerate(probes):
        probe_m[qi, ps] = True
    Cb = np.asarray(C, dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    # ONE fused Arrow pass (guide §8: decide with small rows, move heavy
    # bytes once): assignment, probe masking, cosine scoring and a
    # per-batch partial top-k all happen on the corpus scan — the
    # round-5 plan shipped every vector through Python TWICE (assign,
    # then rerank after a probe join that exploded the candidates to
    # |D|·nprobe/nlist rows of full vectors; ~100 MB of Arrow at 20k
    # vectors x 8/8 lists). The partial top-k uses the same total order
    # as the final window — (sim desc, pid asc) via lexsort — so ties
    # (duplicate vectors) resolve identically and the global top-k is
    # exact over the same candidate set.
    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"qid": [], "pid": [], "sim": []})
                continue
            pids = pdf[id_col].to_numpy(dtype=np.int64)
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            pn = np.linalg.norm(M, axis=1)
            Mn = M / np.maximum(pn, 1e-12)[:, None]
            assign = (Mn @ Cb.T).argmax(axis=1)
            sims_all = (qmat @ M.T) / (qnorm[:, None] * pn[None, :])
            rows = {"qid": [], "pid": [], "sim": []}
            for qi in range(len(qids)):
                m = probe_m[qi, assign] & (pids != qids[qi])
                if not m.any():
                    continue
                idx = np.flatnonzero(m)
                s = sims_all[qi, idx]
                order = np.lexsort((pids[idx], -s))[:k]
                sel = idx[order]
                rows["qid"].extend([int(qids[qi])] * len(sel))
                rows["pid"].extend(pids[sel].tolist())
                rows["sim"].extend(sims_all[qi, sel].tolist())
            yield pd.DataFrame(rows)

    scored = emb.select(id_col, vec_col).mapInPandas(
        fused, schema="qid long, pid long, sim double")
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("pid").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def kmeans_fit(emb: DataFrame, k: int, *, id_col: str = "vec_id",
               vec_col: str = "embedding", max_iters: int = 10,
               tol: float = 1e-6) -> tuple[np.ndarray, int]:
    """Fully DISTRIBUTED Lloyd k-means over the whole corpus (the
    SemDeDup / semantic-clustering building block; train_centroids
    above is the sample-based IVF quantizer, this is the exact
    version): every iteration is one distributed job — Arrow-batched
    argmin assignment against the broadcast (k x d) centroid matrix,
    then a posexplode + (cluster, dim) keyed aggregation for the new
    means (map-side partials; k*d rows reach the driver, never
    vectors). Initialization is the k lowest-id vectors (TakeOrdered,
    deterministic — and SQL-replayable, which the gate oracle uses).
    Empty clusters keep their previous centroid. Cache `emb` before
    calling: each iteration rescans it.

    Returns (centroids (k, d) float64, iterations_run)."""
    init_rows = (emb.select(id_col, vec_col)
                 .orderBy(id_col).limit(k).collect())
    if len(init_rows) < k:
        raise ValueError(f"kmeans: k={k} but only {len(init_rows)} vectors")
    C = np.array([list(r[1]) for r in init_rows], dtype=np.float64)
    d = C.shape[1]
    it = 0
    for it in range(1, max_iters + 1):
        assigned = kmeans_assign(emb, C, id_col=id_col, vec_col=vec_col)
        sums = (assigned
                .select("cluster_id",
                        F.posexplode(F.col(vec_col)).alias("pos", "v"))
                .groupBy("cluster_id", "pos")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .collect())
        newC = C.copy()
        cnt = np.zeros(k, dtype=np.int64)
        acc = np.zeros((k, d), dtype=np.float64)
        for r in sums:
            acc[r.cluster_id, r.pos] = r.s
            cnt[r.cluster_id] = r.n
        nz = cnt > 0
        newC[nz] = acc[nz] / cnt[nz, None]
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift < tol:
            break
    return C, it


def kmeans_assign(emb: DataFrame, centroids: np.ndarray, *,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment (squared Euclidean), Arrow-batched
    against the broadcast centroid matrix. Adds `cluster_id` (int) and
    `dist` (double, the squared distance)."""
    C = np.asarray(centroids, dtype=np.float64)
    cols = emb.columns

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(M) == 0:
                yield pdf.assign(cluster_id=pd.Series(dtype="int32"),
                                 dist=pd.Series(dtype="float64"))
                continue
            # |x-c|^2 = |x|^2 - 2 x.c + |c|^2, one BLAS matmul per batch
            d2 = (np.square(M).sum(1)[:, None] - 2.0 * (M @ C.T)
                  + np.square(C).sum(1)[None, :])
            a = d2.argmin(axis=1)
            yield pdf.assign(cluster_id=a.astype(np.int32),
                             dist=d2[np.arange(len(a)), a])

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in emb.schema]
        + ["cluster_id int", "dist double"])
    return emb.mapInPandas(assign, schema=schema)
