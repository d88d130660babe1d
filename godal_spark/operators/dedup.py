"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (godal has no text surface) — these are the
training-pipeline extensions the engine carries as first-class operators
over the `documents` table:

  * exact_dedup        — md5 hash groupBy (one shuffle on the hash)
  * minhash_lsh_dedup  — shingle → minhash → band buckets; candidate
    pairs verified by true Jaccard. Only bucket-collision pairs are ever
    formed: no O(n²) pair enumeration. One eager signature checkpoint;
    while it and its band pairs fit min(1 GB, driver heap / 8), banding
    and verify run on the driver in numpy over one bounded Arrow collect
    (2-3 jobs), else as the distributed bucket self-join and verify
    joins.
  * simhash_dedup      — 64-bit simhash; Hamming-band (4x16-bit chunks)
    bucket join finds pairs within distance ≤ 3 (pigeonhole over chunks
    guarantees recall for d ≤ 3 with 4 chunks).
  * ngram_jaccard_join — exact n-gram Jaccard over candidate pairs.
  * substring_duplicate_spans — SPAN-level exact dedup (winnowing
    anchors → gram equi-join → maximal extension): finds the shared
    license blocks / boilerplate runs that doc-level near-dup misses.

All hashing is deterministic (no Python hash()); heavy lifting stays in
built-in functions (xxhash64, explode, groupBy) — Python only where a
per-doc loop is unavoidable, and then Arrow-batched.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql import types as T

from godal_spark.plans.components import component_roots
from godal_spark.plans.driver_side import (byte_ceiling, collect_bounded,
                                           driver_heap, ordered_like_spark,
                                           release)
from godal_spark.plans.skew import spread_small_scan

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keep lowest id, count copies."""
    return (docs.withColumn("text_hash", F.md5(F.col(text_col)))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------


def with_shingles(docs: DataFrame, text_col: str = "text", k: int = 5,
                  word: bool = True) -> DataFrame:
    """Adds `shingles: array<string>` — distinct k-grams (word or char)."""
    if word:
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    else:
        sh = F.expr(f"transform(sequence(1, greatest(length(lower({text_col})) - {k} + 1, 1)),"
                    f" i -> substr(lower({text_col}), i, {k}))")
    return docs.withColumn("shingles", F.array_distinct(sh))


def _minhash_params(num_hashes: int, seed: int = 42):
    """Multiply-shift universal hash family over uint64 wrap-around
    arithmetic (odd multipliers) — fully numpy-vectorizable, unlike the
    classic (a*x+b) mod (2^61-1) which needs 128-bit intermediates."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return a, b


def with_minhash(docs: DataFrame, num_hashes: int = 64, seed: int = 42) -> DataFrame:
    """Adds `minhash: array<long>` from the `shingles` column.

    Base hash is Spark's xxhash64 (JVM); the num_hashes mixes run as ONE
    numpy (num_hashes × n_shingles) uint64 outer product per doc inside
    the Arrow batch — no per-element Python.
    """
    a, b = _minhash_params(num_hashes, seed)
    docs = docs.withColumn(
        "__base", F.transform(F.col("shingles"), lambda s: F.xxhash64(s)))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(base: pd.Series) -> pd.Series:
        out = []
        empty = [0] * len(a)
        with np.errstate(over="ignore"):
            for arr in base:
                if arr is None or len(arr) == 0:
                    out.append(empty)
                    continue
                x = np.asarray(arr, dtype=np.int64).view(np.uint64)
                mixed = a[:, None] * x[None, :] + b[:, None]  # uint64 wrap
                out.append(mixed.min(axis=1).view(np.int64).tolist())
        return pd.Series(out)

    return docs.withColumn("minhash", mh(F.col("__base"))).drop("__base")


def with_shingle_minhash_fused(docs: DataFrame, text_col: str = "text",
                               k: int = 5, num_hashes: int = 64,
                               seed: int = 42,
                               bands: int | None = None, *,
                               counts: tuple | None = None) -> DataFrame:
    """Adds `shingle_hashes: array<long>` (sorted distinct 64-bit hashes
    of the word k-grams) and `minhash: array<long>` in ONE Arrow-batched
    pandas UDF. With `bands` set, also adds `buckets: array<long>` — the
    per-band LSH bucket keys, folded in the SAME numpy pass: the
    interpreted aggregate/slice/xxhash64 codegen fold this replaces was
    the dominant JVM cost of the banding stage (~12 s of task time on a
    50k-doc corpus; higher-order functions are evaluated per element,
    not codegen'd). A fold collision only creates a false CANDIDATE,
    which the exact-Jaccard verify removes, and equal band slices fold
    equal under any deterministic function — so the candidate semantics
    are unchanged.

    Semantically equivalent to with_shingles→with_minhash except shingles
    are carried as hashes, not strings: |A∩B| and |A∪B| — hence exact
    Jaccard — are preserved (64-bit collisions are negligible at corpus
    scale). Measured ~3× faster end-to-end than the nested
    transform/slice/concat_ws codegen expression on short documents, and
    the Arrow exchange ships one long array per doc instead of a string
    array.

    counts: three accumulators that each output batch adds its totals
    to, so the job that runs the pass also measures its output: rows,
    shingle hashes, and the Arrow bytes of every column but the text.
    """
    import hashlib
    import re

    # a small corpus parquet often reads as ONE split (sf0.1 documents:
    # a single file under maxPartitionBytes) and the heavy shingle UDF
    # then runs on one core — spread it before the compute. At real
    # table scale the input already has >= cores splits and this no-ops.
    docs = spread_small_scan(docs)

    a, b = _minhash_params(num_hashes, seed)
    rows_per_band = (num_hashes // bands) if bands else 0
    # Java/DuckDB \s is ASCII; Python str.split()/re default are Unicode —
    # pin ASCII so token sets (hence Jaccard) match the SQL oracle exactly
    ws = re.compile(r"\s+", re.ASCII)

    band_ix = np.arange(bands, dtype=np.uint64) if bands else None

    def _buckets(sig: np.ndarray) -> list:
        # FNV-1a-shaped uint64 fold over each band's signature slice
        # (vectorized across bands; wrap-around multiply mixes bits).
        # The band INDEX is folded into the key, so the join below runs
        # on one long column instead of (band, bucket) — narrower
        # shuffle, and cross-band key collisions are 2^-64 fold
        # accidents that the exact verify removes anyway.
        acc = (np.uint64(0xCBF29CE484222325) ^ band_ix) \
            * np.uint64(0x100000001B3)
        # use the first bands*rows_per_band signature entries — identical
        # to the old F.slice fold, which silently dropped the remainder
        # when bands does not divide num_hashes (reshape would raise)
        bs = sig[:bands * rows_per_band].reshape(bands, rows_per_band)
        for j in range(rows_per_band):
            acc = (acc ^ bs[:, j]) * np.uint64(0x100000001B3)
        return acc.view(np.int64)

    # mapInArrow, not a pandas UDF (guide §4.2): the per-doc numpy body
    # costs ~100 µs, but the pandas_udf struct-of-arrays return path
    # spent 2-3x that again boxing each row's lists through pandas. Here
    # the three list columns are built ONCE per batch from concatenated
    # value buffers + offset arrays (pyarrow ListArray.from_arrays — no
    # per-element Python), and the input columns pass through by
    # reference. As a plan node (not an expression) it also cannot be
    # duplicated by filter pushdown — the previous ArrowEvalPython was
    # evaluated twice per join side via the explode's implicit
    # size()>0 pre-filter (guide §4.4, verified in the physical plan).
    import pyarrow as pa

    in_fields = list(docs.schema.fields)
    out_schema = T.StructType(in_fields + [
        T.StructField("shingle_hashes", T.ArrayType(T.LongType())),
        T.StructField("minhash", T.ArrayType(T.LongType())),
    ] + ([T.StructField("buckets", T.ArrayType(T.LongType()))]
         if bands else []))
    text_ix = docs.columns.index(text_col)

    def fused(batches):
        empty_sig = np.zeros(num_hashes, dtype=np.uint64)
        for batch in batches:
            texts = batch.column(text_ix).to_pylist()
            sh_parts, sh_lens = [], np.empty(len(texts), dtype=np.int64)
            mh_parts = []
            bk_parts = []
            with np.errstate(over="ignore"):
                for ri, t in enumerate(texts):
                    s = ws.sub(" ", (t or "")).strip(" ").lower()
                    toks = s.split(" ") if s else []
                    if not toks:
                        grams = {""}
                    elif len(toks) <= k:
                        grams = {" ".join(toks)}
                    else:
                        grams = {" ".join(toks[i:i + k])
                                 for i in range(len(toks) - k + 1)}
                    hs = np.fromiter(
                        (int.from_bytes(
                            hashlib.blake2b(g.encode(), digest_size=8).digest(),
                            "little") for g in grams),
                        dtype=np.uint64, count=len(grams))
                    hs = np.unique(hs)
                    sh_parts.append(hs)
                    sh_lens[ri] = len(hs)
                    if len(hs) == 0:
                        sig = empty_sig
                    else:
                        sig = (a[:, None] * hs[None, :] + b[:, None]).min(axis=1)
                    mh_parts.append(sig)
                    if bands:
                        bk_parts.append(_buckets(sig))

            def list_arr(parts, fixed_len=None):
                vals = (np.concatenate(parts) if parts
                        else np.empty(0, dtype=np.uint64))
                if fixed_len is not None:
                    offs = np.arange(len(parts) + 1, dtype=np.int32) * fixed_len
                else:
                    offs = np.concatenate(
                        [[0], np.cumsum(sh_lens[:len(parts)])]).astype(np.int32)
                return pa.ListArray.from_arrays(
                    pa.array(offs, type=pa.int32()),
                    pa.array(vals.view(np.int64), type=pa.int64()))

            cols = list(batch.columns) + [
                list_arr(sh_parts),
                list_arr(mh_parts, fixed_len=num_hashes)]
            if bands:
                cols.append(list_arr(bk_parts, fixed_len=bands))
            if counts is not None:
                n_rows, n_shingles, n_bytes = counts
                n_rows.add(len(texts))
                n_shingles.add(int(sh_lens.sum()))
                n_bytes.add(sum(c.nbytes for i, c in enumerate(cols)
                                if i != text_ix))
            yield pa.RecordBatch.from_arrays(
                cols, names=list(out_schema.fieldNames()))

    return docs.mapInArrow(fused, schema=out_schema)


def minhash_lsh_candidates(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """Bucket self-join: (id_a, id_b) candidate pairs, id_a < id_b.

    `buckets` holds each doc's per-band LSH keys, precomputed in the
    fused Arrow pass (numpy fold with the band index folded in — see
    with_shingle_minhash_fused), so banding is a bare explode and
    everything keys on ONE long column; a pair collides if ANY band
    matches — the standard S-curve. Pairs come from a SELF-EQUI-JOIN
    over (id, bucket) rows only: no `collect_set` of a whole bucket into
    one row (round 1 did, which put an unbounded array in a single task
    on a degenerate bucket). The sort-merge join spills, and AQE's
    skew-join split carves up hot buckets — the memory-safe shape for a
    10^12-doc corpus with boilerplate-heavy buckets.

    Bucket occupancy is counted first (one partial-aggregated exchange
    of (bucket, count) longs), and the all-pairs self-join runs only on
    the rows of buckets with >= 2 members — on a real corpus a vanishing
    fraction; AQE broadcasts the hot-bucket list when it is small.
    Single-member buckets produce no pairs, so the candidate set is that
    of the plain self-join.
    """
    banded = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.col("buckets")).alias("bucket"))
    hot_buckets = (banded.groupBy("bucket")
                   .agg(F.count("*").alias("__n"))
                   .filter(F.col("__n") >= 2).select("bucket"))
    hot = banded.join(hot_buckets, "bucket", "left_semi")
    a = hot.select("bucket", F.col("__id").alias("id_a"))
    b = hot.select("bucket", F.col("__id").alias("id_b"))
    return (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def jaccard_verify(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   threshold: float = 0.8, *,
                   signature_prefilter: bool = False,
                   shingle_col: str = "shingles",
                   broadcast_pairs: bool = False) -> DataFrame:
    """Exact Jaccard over candidate pairs via the shingle arrays.

    Default contract: EXACT — every input pair is measured against its
    full shingle arrays.

    signature_prefilter=True (opt-in; minhash_lsh_dedup enables it
    because its candidate set is already probabilistic): when docs carry
    a `minhash` column, estimate Jaccard from the signatures first
    (matching-component fraction — ships num_hashes longs per side
    instead of the full shingle arrays) and drop pairs whose estimate is
    below threshold − 2/√num_hashes (≥4σ below the worst-case binomial
    std). A true pair exactly AT the threshold is dropped with
    probability ≈ Φ(−4) ≈ 3e-5 — the output is probabilistic, not
    exact, which is why the flag defaults off here. On boilerplate-heavy
    corpora where wide-band LSH candidates approach all-pairs, the
    prefilter kills false candidates before the expensive shingle-array
    shuffle.
    """
    # broadcast_pairs: the caller has measured/bounded the candidate-pair
    # set (minhash_lsh_dedup checkpoints + counts it) — hint it broadcast
    # so the signature table is never shuffled for the verify: every join
    # below becomes a map-side hash probe over the (id,id) pairs instead
    # of a full exchange of minhash + shingle arrays (guide §3.1:
    # broadcast the side that fits; measured 4 exchanges x ~25 MB removed
    # at 50k docs).
    # Every pair-derived frame below is hinted broadcast, so each join
    # plans as a map-side hash probe with the signature table streaming
    # from cache — no exchange of minhash/shingle arrays at all (the
    # pair-side build includes the previous broadcast join, which is
    # itself pair-count-bounded).
    maybe_b = F.broadcast if broadcast_pairs else (lambda df: df)
    if signature_prefilter and "minhash" in docs.columns:
        ma = docs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("__ma"))
        mb = docs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("__mb"))
        est = (F.size(F.filter(
            F.zip_with("__ma", "__mb", lambda x, y: x == y), lambda v: v))
            .cast("double") / F.size("__ma"))
        cutoff = F.lit(threshold) - F.lit(2.0) / F.sqrt(F.size("__ma").cast("double"))
        pairs = (mb.join(maybe_b(ma.join(maybe_b(pairs), "id_a")), "id_b")
                 .filter(est >= cutoff).select("id_a", "id_b"))
    a = docs.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("sh_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("sh_b"))
    j = b.join(maybe_b(a.join(maybe_b(pairs), "id_a")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    j = j.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(1.0)))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


# Bytes minhash_lsh_dedup's driver path may hold, further capped at an
# eighth of the driver heap: the collected signature rows, and the
# verify width of every within-bucket pair. 0 forces the distributed
# chain.
DRIVER_BUDGET = 1 << 30


def _pair_bytes(n_pairs: int, pair_shingles: float, num_hashes: int) -> float:
    """Width of n_pairs pairs carrying both sides' minhash arrays and,
    in all, pair_shingles shingle hashes, plus row overhead."""
    return n_pairs * (16 * num_hashes + 48) + 8 * pair_shingles


def _verify_broadcast_ok(n_cand: int, pair_shingles: float, num_hashes: int,
                         max_heap: int) -> bool:
    """Whether the verify may broadcast n_cand candidate pairs whose two
    sides carry pair_shingles shingle hashes in all: their build width
    (_pair_bytes) must stay under min(1 GB, max_heap / 8). The driver
    holds the whole build side while it broadcasts, so the ceiling
    follows its heap (max_heap, the JVM's Runtime.maxMemory()); Spark
    itself hard-caps broadcasts at 8 GB."""
    return _pair_bytes(n_cand, pair_shingles, num_hashes) \
        < byte_ceiling(max_heap)


def _round6(inter: np.ndarray, union: np.ndarray) -> np.ndarray:
    """Spark's round(inter / union, 6) for union >= 1: Spark rounds the
    double's decimal form HALF_UP, which for these ratios is HALF_UP of
    the exact fraction, so integer arithmetic gives it. A ratio that
    ties at the 7th digit, such as 1/640, rounds up; Python's round()
    and HALF_UP of the double's binary value would round some of them
    down."""
    return ((2_000_000 * inter + union) // (2 * union)) / 1e6


def _chunks(weights: np.ndarray, cap: int):
    """Consecutive slices of `weights`, each summing to at most `cap` or
    holding one item: bounds the driver's gathers."""
    ends = np.cumsum(weights)
    lo = 0
    while lo < len(weights):
        base = ends[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(ends, base + cap, side="right")))
        yield slice(lo, hi)
        lo = hi


def _driver_dedup(tbl, id_col: str, num_hashes: int, bands: int,
                  threshold: float, budget: int):
    """minhash_lsh_dedup's banding, prefilter and exact verify over the
    collected signature table, in numpy: the verified pairs as an Arrow
    table, or None to leave the call to the distributed chain (duplicate
    ids, or band pairs wider than `budget`). Same rows as the chain,
    jaccard bit-equal."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = tbl.column(id_col)
    # rank r holds the r-th smallest id: r_a < r_b is Spark's id_a < id_b
    # (numeric for integer ids, binary UTF-8 for strings). Null ids sort
    # last and are dropped: a null never passes id_a < id_b.
    by_id = pc.sort_indices(ids, null_placement="at_end")
    by_id = by_id[:len(ids) - ids.null_count].to_numpy()
    ids = ids.take(by_id).combine_chunks()
    n = len(ids)
    if n > 1 and pc.any(pc.equal(ids[1:], ids[:-1])).as_py():
        # the chain's joins repeat a pair once per row of a repeated id
        return None

    def fixed(col, width):
        arr = tbl.column(col).combine_chunks()
        return arr.flatten().to_numpy().reshape(-1, width)[by_id]

    mh = fixed("minhash", num_hashes)
    buckets = fixed("buckets", bands)
    sh_arr = tbl.column("shingle_hashes").combine_chunks()
    sh_vals = sh_arr.flatten().to_numpy()
    sh_len = sh_arr.value_lengths().to_numpy().astype(np.int64)
    sh_start = (np.cumsum(sh_len) - sh_len)[by_id]
    sh_len = sh_len[by_id]

    # banding: sort the n x bands keys once; a run of m equal keys is a
    # bucket holding m pairs' worth of work, C(m, 2)
    keys = buckets.ravel()
    order = np.argsort(keys, kind="stable")
    member = order // bands
    ks = keys[order]
    new_run = np.ones(len(ks), dtype=bool)
    new_run[1:] = ks[1:] != ks[:-1]
    starts = np.flatnonzero(new_run)
    sizes = np.diff(np.r_[starts, len(ks)]).astype(np.int64)
    # the exact band-pair width, before any pair exists: each member of a
    # run meets the other m - 1 members, carrying its shingle hashes
    run_sh = np.add.reduceat(sh_len[member], starts) if n else sizes
    n_band_pairs = int((sizes * (sizes - 1) // 2).sum())
    if _pair_bytes(n_band_pairs, int(((sizes - 1) * run_sh).sum()),
                   num_hashes) >= budget:
        return None
    hot = sizes >= 2
    starts, sizes = starts[hot], sizes[hot]
    # member at offset t of a run of m pairs with the m - 1 - t after it
    pos = np.repeat(starts, sizes) + (np.arange(sizes.sum())
                                      - np.repeat(np.cumsum(sizes) - sizes, sizes))
    later = np.repeat(starts + sizes, sizes) - 1 - pos
    first = np.repeat(pos, later)
    second = first + 1 + (np.arange(later.sum())
                          - np.repeat(np.cumsum(later) - later, later))
    ra, rb = member[first], member[second]
    code = np.unique(np.minimum(ra, rb) * n + np.maximum(ra, rb))
    code = code[code // n != code % n]  # a doc whose two bands share a key
    ra, rb = code // n, code % n

    # signature prefilter, as jaccard_verify's: matching-component
    # fraction >= threshold - 2 / sqrt(num_hashes)
    cutoff = threshold - 2.0 / np.sqrt(float(num_hashes))
    keep = np.zeros(len(ra), dtype=bool)
    for sl in _chunks(np.full(len(ra), num_hashes), 1 << 20):
        eq = (mh[ra[sl]] == mh[rb[sl]]).sum(axis=1)
        keep[sl] = eq / float(num_hashes) >= cutoff
    ra, rb = ra[keep], rb[keep]

    # exact Jaccard: both pairs' sorted unique hash runs, tagged by pair;
    # one lexsort puts a shared hash's two copies side by side. Every doc
    # has at least one hash (empty text hashes the empty gram), so the
    # union is never 0.
    la, lb = sh_len[ra], sh_len[rb]
    inter = np.zeros(len(ra), dtype=np.int64)
    for sl in _chunks(la + lb, 1 << 20):
        seg_len = np.r_[la[sl], lb[sl]]
        seg_start = np.r_[sh_start[ra[sl]], sh_start[rb[sl]]]
        pair = np.tile(np.arange(sl.stop - sl.start), 2)
        idx = np.repeat(seg_start - (np.cumsum(seg_len) - seg_len), seg_len) \
            + np.arange(seg_len.sum())
        v, p = sh_vals[idx], np.repeat(pair, seg_len)
        o = np.lexsort((v, p))
        v, p = v[o], p[o]
        same = (p[1:] == p[:-1]) & (v[1:] == v[:-1])
        inter[sl] = np.bincount(p[1:][same], minlength=sl.stop - sl.start)
    union = la + lb - inter
    ok = inter / union >= threshold
    return pa.table({
        "id_a": ids.take(ra[ok]), "id_b": ids.take(rb[ok]),
        "jaccard": pa.array(_round6(inter[ok], union[ok]), pa.float64())})


def minhash_lsh_dedup(docs: DataFrame, *, k: int = 5, num_hashes: int = 64,
                      bands: int = 16, threshold: float = 0.8,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Full near-dup pipeline → verified (id_a, id_b, jaccard) pairs.

    The narrow signature frame (id, minhash, shingle_hashes, buckets) is
    checkpointed ONCE (localCheckpoint — the local-mode analogue of the
    checkpoint-table write a 100 TB run would do); a lazy plan would
    recompute the minhash UDF once per join branch (4-6×, measured 3x
    slower end-to-end). The job that writes it also counts its rows,
    shingle hashes and Arrow bytes (accumulators in the fused pass).

    Driver path: while those bytes are under min(DRIVER_BUDGET, heap /
    8), the checkpoint comes to the driver in one bounded
    `limit(N + 1).toArrow()` and the rest is numpy (_driver_dedup):
    banding by one sort of all bucket keys, the signature prefilter, the
    exact Jaccard by sorted intersection, Spark's round(x, 6). The result
    is a local DataFrame — its collect() runs no job — and the checkpoint
    is released before the call returns: 2 jobs, 3 when AQE splits the
    limit's exchange off. The driver path declines, after the collect,
    when ids repeat or the band pairs' verify width, sum C(m, 2) over
    buckets of m docs, exceeds the same ceiling; integer and string ids
    only.

    Fallback, the distributed chain: a narrow (id, buckets) checkpoint,
    the bucket self-join (minhash_lsh_candidates), a checkpoint of the
    candidate pairs, counted in the checkpoint's own job, then
    jaccard_verify — with the pairs broadcast while _verify_broadcast_ok
    allows, estimated from the checkpoint's exact shingle total (no
    extra job).

    bands=16 over num_hashes=64 gives rows=4 — collision p at
    jaccard 0.3 is ~12%, vs rows=2 where boilerplate pairs (j≈0.3)
    collide with ~95% and the candidate set degenerates toward
    all-pairs.
    """
    sc = docs.sparkSession.sparkContext
    counts = tuple(sc.accumulator(0) for _ in range(3))
    d = with_shingle_minhash_fused(docs.select(id_col, text_col), text_col,
                                   k=k, num_hashes=num_hashes, bands=bands,
                                   counts=counts)
    sig = d.select(F.col(id_col), "minhash", "shingle_hashes", "buckets")
    # Materialize the signature frame ONCE with an eager localCheckpoint:
    # lineage is truncated to the materialized blocks, so every later
    # read scans the checkpoint instead of re-running the Arrow pass. (A
    # persist+count was not enough: the nondeterministic-marked UDF
    # defeats the cache manager's sameResult lookup and each branch
    # silently re-ran the UDF — measured 4x the fused stage in one wall.)
    sig = sig.localCheckpoint(eager=True)
    n_rows, n_shingles, n_bytes = (c.value for c in counts)
    heap = driver_heap(docs)
    budget = min(DRIVER_BUDGET, byte_ceiling(heap))
    if n_bytes < budget and ordered_like_spark(sig.schema[id_col].dataType):
        tbl = collect_bounded(sig, n_rows)
        out = None if tbl is None else _driver_dedup(
            tbl, id_col, num_hashes, bands, threshold, budget)
        if out is not None:
            release(sig)
            f = sig.schema[id_col]
            return docs.sparkSession.createDataFrame(out, T.StructType([
                T.StructField("id_a", f.dataType, f.nullable),
                T.StructField("id_b", f.dataType, f.nullable),
                T.StructField("jaccard", T.DoubleType())]))
    # a checkpointed-RDD scan has NO column pruning (LogicalRDD hands
    # back full InternalRows), so the two banding-side readers (bucket
    # occupancy agg + hot semi-join) would each deserialize the wide
    # shingle+minhash arrays just to explode 16 longs. Give them a
    # narrow (id, buckets) checkpoint — one extra cheap job, ~6x fewer
    # bytes per banding scan; the verify branches still read `sig`.
    banded_src = sig.select(F.col(id_col), "buckets") \
        .localCheckpoint(eager=True)
    # Materialize the (id,id) candidate pairs and measure them: when
    # they fit (the normal regime — candidates ~ O(duplicates), not
    # O(corpus)), the verify runs with the pairs BROADCAST, so the
    # signature table is never shuffled (guide §3.1); past the cap it
    # falls back to the shuffle-join verify. The checkpoint also stops
    # the banding subtree from re-running once per verify branch; the
    # pairs are counted by an Observation in the checkpoint's own job.
    obs = Observation()
    cand = minhash_lsh_candidates(banded_src, id_col=id_col) \
        .observe(obs, F.count(F.lit(1)).alias("rows")) \
        .localCheckpoint(eager=True)
    n_cand = obs.get["rows"]
    # the broadcast build side carries each pair's FULL shingle + minhash
    # arrays, so the guard bounds bytes: the pairs' shingles at the
    # corpus's exact mean, from the checkpoint pass's own counts
    broadcast_ok = _verify_broadcast_ok(
        n_cand, 2 * n_cand * n_shingles / max(n_rows, 1), num_hashes, heap)
    # no output checkpoint: sig and cand are already materialized, so
    # the verify is a cheap narrow plan over checkpointed blocks — an
    # eager result checkpoint would just compute it twice (once into
    # block storage, once when the caller reads)
    return jaccard_verify(sig, cand, id_col=id_col, threshold=threshold,
                          signature_prefilter=True,
                          shingle_col="shingle_hashes",
                          broadcast_pairs=broadcast_ok)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit simhash over word tokens (xxhash64 base, Arrow bit-vote)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    docs = docs.withColumn("__th", F.transform(toks, lambda t: F.xxhash64(t)))

    @F.pandas_udf(T.LongType())
    def sh(hashes: pd.Series) -> pd.Series:
        out = []
        for arr in hashes:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            h = np.asarray(arr, dtype=np.uint64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1))
            votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
            val = 0
            for i in range(64):
                if votes[i] > 0:
                    val |= 1 << i
            out.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.Series(out, dtype="int64")

    # guide §4.4: the bucket-key isnotnull filter downstream is pushed
    # below this UDF and duplicates the ArrowEvalPython node (verified:
    # 2 evals per self-join side in the round-5 plan) — nondeterministic
    # marking pins a single evaluation per side
    sh = sh.asNondeterministic()
    return docs.withColumn("simhash", sh(F.col("__th"))).drop("__th")


def simhash_candidates(docs: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """Pigeonhole bucket join: 4 x 16-bit chunks — any pair within
    Hamming distance ≤ 3 shares at least one identical chunk."""
    chunks = F.sequence(F.lit(0), F.lit(3))
    banded = docs.select(
        F.col(id_col).alias("__id"), F.col("simhash"),
        F.explode(chunks).alias("chunk"))
    banded = banded.withColumn(
        "key", F.expr("shiftright(simhash, chunk * 16) & 65535"))
    # self-join on (chunk, key) — like minhash_lsh_candidates, no
    # collect_set of a whole bucket into one row (spill-safe, AQE-split)
    a = banded.select("chunk", "key", F.col("__id").alias("id_a"),
                      F.col("simhash").alias("h_a"))
    b = banded.select("chunk", "key", F.col("__id").alias("id_b"),
                      F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (a.join(b, ["chunk", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming").distinct())


def simhash_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    return simhash_candidates(with_simhash(docs, text_col), id_col, max_hamming)


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dedup(emb: DataFrame, *, id_col: str = "vec_id",
                    vec_col: str = "embedding", threshold: float = 0.95,
                    n_planes: int = 16, seed: int = 42,
                    max_bucket: int = 1024,
                    oversized_metrics: dict | None = None) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.

    Candidates from random-hyperplane LSH (sign sketch) buckets, verified
    exactly. For high thresholds most duplicate pairs share the full
    sketch; recall is boosted by also bucketing on 2 half-sketches.

    Scale shape (round-2 redesign; round 1 `collect_list`ed each bucket
    into ONE row — a degenerate bucket of a near-identical corpus put an
    unbounded array in a single task):
      * buckets of ≤ max_bucket members generate all-pairs via a
        self-join on the bucket key (spill-safe, AQE-splittable);
      * larger buckets switch to a STAR pattern — every member pairs
        with the bucket's minimum id only (linear in bucket size).
        For the degenerate case that produces oversized buckets
        (near-identical vectors) the star preserves duplicate-cluster
        connectivity; pairs between two non-rep members of an oversized
        MIXED bucket are not emitted — documented recall trade for a
        bounded 10^12-row plan.
      * cosine verification is pure JVM (zip_with/aggregate dot product)
        — no Python in the pair hot path.
    """
    from godal_spark.operators.similarity import with_hyperplane_sketch

    d = with_hyperplane_sketch(emb, vec_col=vec_col, n_planes=n_planes, seed=seed)
    half = n_planes // 2
    buckets = d.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array(
            F.concat(F.lit("f:"), F.col("sketch").cast("string")),
            F.concat(F.lit("l:"), (F.col("sketch").bitwiseAND(F.lit((1 << half) - 1))).cast("string")),
            F.concat(F.lit("h:"), F.shiftright(F.col("sketch"), half).cast("string")),
        )).alias("bucket"))
    sizes = buckets.groupBy("bucket").agg(F.count("*").alias("__bn"),
                                          F.min("__id").alias("__rep"))
    bk = buckets.join(sizes, "bucket").filter(F.col("__bn") > 1)

    if oversized_metrics is not None:
        # surface the star-path recall trade: callers pass a dict to
        # learn how many buckets exceeded max_bucket (raise it, or chain
        # a transitive-closure pass, if this is non-zero on mixed data)
        row = (sizes.filter(F.col("__bn") > max_bucket)
               .agg(F.count("*").alias("n"),
                    F.coalesce(F.max("__bn"), F.lit(0)).alias("mx")).first())
        oversized_metrics["oversized_buckets"] = int(row["n"])
        oversized_metrics["largest_bucket"] = int(row["mx"])
        oversized_metrics["max_bucket"] = int(max_bucket)

    small = bk.filter(F.col("__bn") <= max_bucket)
    pa = small.select("bucket", F.col("__id").alias("id_a"))
    pb = small.select("bucket", F.col("__id").alias("id_b"))
    pairs_small = (pa.join(pb, "bucket")
                   .filter(F.col("id_a") < F.col("id_b"))
                   .select("id_a", "id_b"))
    pairs_big = (bk.filter(F.col("__bn") > max_bucket)
                 .filter(F.col("__id") != F.col("__rep"))
                 .select(F.col("__rep").alias("id_a"), F.col("__id").alias("id_b")))
    cand = pairs_small.unionByName(pairs_big).distinct()

    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    j = cand.join(va, "id_a").join(vb, "id_b")
    dot = F.aggregate(F.zip_with("__va", "__vb",
                                 lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    cos = dot / (nrm(F.col("__va")) * nrm(F.col("__vb")))
    return (j.withColumn("__cos", cos).filter(F.col("__cos") >= threshold)
            .select("id_a", "id_b", F.round("__cos", 6).alias("cosine")))


def duplicate_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                       id_b: str = "id_b") -> DataFrame:
    """Connected components over verified duplicate pairs →
    (id, cluster) with cluster = the component's minimum id.

    The transitive-closure step behind the oversized-bucket star trade
    (r3 ADVICE follow-on): two members of an oversized LSH bucket never
    get a DIRECT verified pair — both only paired with the bucket
    representative — but closure over those star edges still places them
    in one cluster. plans.components.component_roots solves it: a
    driver union-find while the pairs fit driver_side.MAX_ROWS (integer
    or string ids), distributed pointer doubling beyond, whose one
    checkpoint the returned labels read."""
    return component_roots(pairs, id_a, id_b, held=[]).select(
        "id", F.col("root").alias("cluster"))


def embedding_dedup_clusters(emb: DataFrame, **kwargs) -> DataFrame:
    """embedding_dedup + transitive closure: (id, cluster) for every
    vector that has at least one verified near-duplicate."""
    return duplicate_clusters(embedding_dedup(emb, **kwargs))


# ---------------------------------------------------------------------------
# span-level EXACT substring dedup (training-data pipelines deduplicate
# repeated SPANS — license blocks, boilerplate — that doc-level near-dup
# misses; cf. the published "Deduplicating Training Data" methodology and
# the winnowing fingerprinting scheme of Schleimer et al., SIGMOD'03)
# ---------------------------------------------------------------------------


def with_winnowing_anchors(docs: DataFrame, *, k: int = 16,
                           select_window: int = 16,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """One row per winnowing-selected k-gram: (id, pos, gram).

    Winnowing picks, in every sliding window of `select_window`
    consecutive k-gram hashes, the RIGHTMOST minimal hash. Selection is
    content-relative, so two documents sharing ANY substring of length
    >= k + select_window - 1 select at least one identical in-span
    k-gram at the same content offset — the detection guarantee that a
    fixed-stride sampling lacks (stride anchors only match when the
    shared block lands at equal offsets mod stride).

    Anchor density ~ 2/(select_window+1); hashing + sliding min run in
    numpy per Arrow batch, one pass per document.
    """
    import zlib

    def gen(batches):
        for pdf in batches:
            ids, poss, grams = [], [], []
            for rec in pdf.itertuples(index=False):
                t = getattr(rec, text_col) or ""
                did = getattr(rec, id_col)
                n = len(t) - k + 1
                if n <= 0:
                    continue
                h = np.fromiter(
                    (zlib.crc32(t[i:i + k].encode("utf-8", "surrogatepass"))
                     for i in range(n)),
                    dtype=np.int64, count=n)
                if n <= select_window:
                    sel = {int(np.flatnonzero(h == h.min())[-1])}
                else:
                    sw = np.lib.stride_tricks.sliding_window_view(
                        h, select_window)
                    # rightmost minimum per window: argmin of the
                    # reversed window
                    rev = sw[:, ::-1]
                    am = select_window - 1 - np.argmin(rev, axis=1)
                    sel = set((np.arange(len(sw)) + am).tolist())
                for p in sorted(sel):
                    ids.append(did)
                    poss.append(p)
                    grams.append(t[p:p + k])
            yield pd.DataFrame({"__id": ids, "pos": poss, "gram": grams})

    src = spread_small_scan(docs.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(gen, schema="__id long, pos int, gram string")


def substring_duplicate_spans(docs: DataFrame, *, k: int = 16,
                              select_window: int = 16, min_span: int = 40,
                              id_col: str = "doc_id", text_col: str = "text",
                              max_fanout: int = 256) -> DataFrame:
    """Maximal EXACT shared substrings of length >= min_span across
    documents — the span-level dedup doc-level near-dup misses
    (boilerplate, license blocks, shared headers).

    Plan shape (never all-pairs, no Python on the join path):
      1. winnowing anchors per doc (content-defined — see
         with_winnowing_anchors); detection guaranteed for spans
         >= k + select_window - 1 chars;
      2. grams above `max_fanout` occurrences are dropped BEFORE the
         join (a header shared by 10^6 docs is a doc-level-dedup case,
         not a 10^12-pair join — documented recall bound);
      3. anchor self-join on the 16-char gram TEXT (exact equality —
         no hash-collision verify pass);
      4. candidate pairs join their two texts once and an Arrow batch
         EXTENDS each matched anchor left+right to the maximal equal
         run; spans < min_span are dropped, duplicates (several anchors
         inside one span) collapse via distinct.

    Output: (id_a, pos_a, id_b, pos_b, span_len), id_a < id_b, maximal.
    """
    # The anchor table feeds THREE plan branches (fanout counts + the a
    # and b sides of the self-join) — without materialization the
    # winnowing Arrow pass (crc32 per k-gram, the pipeline's dominant
    # CPU) re-runs once per branch (measured 3x ~9 s of task time at 50k
    # docs). An eager localCheckpoint materializes it once and truncates
    # lineage; the blocks live until the checkpointed RDD is GC'd.
    anchors = with_winnowing_anchors(
        docs, k=k, select_window=select_window,
        id_col=id_col, text_col=text_col).localCheckpoint(eager=True)
    counts = anchors.groupBy("gram").count()                     .filter(F.col("count") <= max_fanout)
    kept = anchors.join(counts.select("gram"), "gram", "left_semi")
    a = kept.select("gram", F.col("__id").alias("id_a"),
                    F.col("pos").alias("pos_a"))
    b = kept.select("gram", F.col("__id").alias("id_b"),
                    F.col("pos").alias("pos_b"))
    cand = (a.join(b, "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "pos_a", "id_b", "pos_b"))
    # every anchor inside one shared span extends to the SAME maximal
    # run, and winnowing guarantees in-span anchors at most
    # ~select_window apart — so keep ONE representative per
    # (pair, diagonal, gap-cluster) before joining the texts back. This
    # cuts the text-join fanout from #matching-anchors to #spans (a
    # 10 kB shared block would otherwise ship both texts ~600x).
    from pyspark.sql import Window as W

    gap = k + select_window
    dw = W.partitionBy("id_a", "id_b",
                       F.col("pos_a") - F.col("pos_b")).orderBy("pos_a")
    clustered = (cand
                 .withColumn("__new", F.when(
                     F.col("pos_a") - F.lag("pos_a").over(dw) <= gap,
                     F.lit(0)).otherwise(F.lit(1)))
                 .withColumn("__cl", F.sum("__new").over(
                     dw.rowsBetween(W.unboundedPreceding, 0))))
    reps = (clustered
            .groupBy("id_a", "id_b",
                     (F.col("pos_a") - F.col("pos_b")).alias("__diag"), "__cl")
            .agg(F.min("pos_a").alias("pos_a"), F.min("pos_b").alias("pos_b"))
            .drop("__diag", "__cl"))
    ta = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("ta_txt"))
    tb = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("tb_txt"))
    j = reps.join(ta, "id_a").join(tb, "id_b")

    def extend(batches):
        for pdf in batches:
            rows = {"id_a": [], "pos_a": [], "id_b": [], "pos_b": [],
                    "span_len": []}
            for r in pdf.itertuples(index=False):
                taa, tbb = r.ta_txt, r.tb_txt
                pa, pb = int(r.pos_a), int(r.pos_b)
                left = 0
                while (pa - left - 1 >= 0 and pb - left - 1 >= 0
                       and taa[pa - left - 1] == tbb[pb - left - 1]):
                    left += 1
                right = k
                while (pa + right < len(taa) and pb + right < len(tbb)
                       and taa[pa + right] == tbb[pb + right]):
                    right += 1
                ln = left + right
                if ln < min_span:
                    continue
                rows["id_a"].append(r.id_a)
                rows["pos_a"].append(pa - left)
                rows["id_b"].append(r.id_b)
                rows["pos_b"].append(pb - left)
                rows["span_len"].append(ln)
            yield pd.DataFrame(rows)

    return j.mapInPandas(
        extend, schema="id_a long, pos_a int, id_b long, pos_b int, "
                       "span_len int").distinct()
