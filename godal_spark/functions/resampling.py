"""Resampling kernels (GDAL RasterIO / overview parity).

Reference semantics: godal.go:1679-1774 (alg enum + the IO-path subset)
pinned by the golden value tables in godal_test.go:2101-2172 (10x10 ramp
px = y*10+x: IO 3x3→1 and overview level-2 expectations for every alg).

Model (derived from the goldens, matches all 14 expectations):
  * separable convolution; for output pixel i with ratio r = in/out the
    kernel is centered at source coord c = (i+0.5)*r and stretched by
    s = max(1, r): weight(j) = K((j+0.5-c)/s), edge-truncated, then
    normalized.  K = triangle (bilinear, radius 1), Catmull-Rom a=-0.5
    (cubic, radius 2), cubic B-spline (cubicspline, radius 2), Lanczos-3
    (radius 3).
  * gauss: binomial kernel (dim 3 for r≤2, 5 for r≤4, else 7) centered
    at the *integer* cell floor(c+0.5), edge-clipped.
  * average: plain box mean over [i*r, (i+1)*r).
  * mode: box window majority; ties → smallest value (matches golden 0).
  * nearest: IO path takes floor((i+0.5)*r); the overview path takes
    floor(i*r) (top-left) — the two GDAL paths genuinely differ and the
    goldens pin both (11 vs 0).
  * Max/Min/Median/Q1/Q3/Sum raise on BOTH paths (godal_test.go:2117-2122,
    2156-2161 assert errors) — they exist in the enum for Warp only.

Byte outputs round half-away-from-zero then clamp (GDAL behavior:
average 5.5 → 6).
"""

from __future__ import annotations

import math

import numpy as np

ALGS = ("nearest", "bilinear", "cubic", "cubicspline", "lanczos",
        "average", "gauss", "mode", "max", "min", "median", "q1", "q3", "sum")

SUPPORTED = ("nearest", "bilinear", "cubic", "cubicspline", "lanczos",
             "average", "gauss", "mode")


def _k_triangle(t):
    return np.maximum(0.0, 1.0 - np.abs(t))


def _k_cubic(t):
    # Catmull-Rom, a = -0.5 (GDAL's cubic)
    a = np.abs(t)
    w = np.where(a <= 1, 1.5 * a**3 - 2.5 * a**2 + 1,
                 np.where(a < 2, -0.5 * a**3 + 2.5 * a**2 - 4 * a + 2, 0.0))
    return w


def _k_bspline(t):
    a = np.abs(t)
    w = np.where(a <= 1, (3 * a**3 - 6 * a**2 + 4) / 6.0,
                 np.where(a < 2, (2 - a) ** 3 / 6.0, 0.0))
    return w


def _k_lanczos(t):
    a = np.abs(t)
    with np.errstate(divide="ignore", invalid="ignore"):
        w = np.sinc(t) * np.sinc(t / 3.0)
    return np.where(a < 3, w, 0.0)


_KERNELS = {
    "bilinear": (_k_triangle, 1.0),
    "cubic": (_k_cubic, 2.0),
    "cubicspline": (_k_bspline, 2.0),
    "lanczos": (_k_lanczos, 3.0),
}


def _conv_matrix(n_full: int, off: int, n_win: int, n_out: int, alg: str) -> np.ndarray:
    """(n_out, n_full) row-normalized weight matrix.

    The output grid spans the window [off, off+n_win) of the full axis,
    but kernel taps extend past the window into the full array (GDAL's
    RasterIOResampled grows the source read by the kernel support — this
    is what makes the 3x3-window bilinear golden 14, not 11)."""
    kern, radius = _KERNELS[alg]
    r = n_win / n_out
    s = max(1.0, r)
    W = np.zeros((n_out, n_full), dtype=np.float64)
    j = np.arange(n_full, dtype=np.float64)
    for i in range(n_out):
        c = off + (i + 0.5) * r
        t = (j + 0.5 - c) / s
        w = kern(t)
        w[np.abs(t) >= radius] = 0.0
        tot = w.sum()
        if tot == 0:
            w[int(min(n_full - 1, max(0, math.floor(c))))] = 1.0
            tot = 1.0
        W[i] = w / tot
    return W


def _gauss_matrix(n_full: int, off: int, n_win: int, n_out: int) -> np.ndarray:
    r = n_win / n_out
    dim = 3 if r <= 2 else (5 if r <= 4 else 7)
    base = np.array([math.comb(dim - 1, k) for k in range(dim)], dtype=np.float64)
    half = dim // 2
    W = np.zeros((n_out, n_full), dtype=np.float64)
    for i in range(n_out):
        ci = int(math.floor(off + (i + 0.5) * r + 0.5))
        lo = max(0, ci - half)
        hi = min(n_full - 1, ci + half)
        w = base[(lo - ci + half):(hi - ci + half + 1)]
        W[i, lo:hi + 1] = w / w.sum()
    return W


def _box_ranges(n_in: int, n_out: int):
    r = n_in / n_out
    for i in range(n_out):
        lo = int(math.floor(i * r))
        hi = max(lo + 1, int(math.ceil((i + 1) * r)))
        yield i, lo, min(hi, n_in)


def _box_sums_exact_in_f64(dtype, win_h, win_w, out_h, out_w) -> bool:
    """True when every box sum of the average fast path is exactly
    representable in float64 (|sum| < 2^53), so the matmul accumulation
    order cannot differ from the loop path (ADVICE r3: int32/int64
    inputs with huge boxes could flip .5-boundary rounding)."""
    info = np.iinfo(dtype)
    box_h = -(-win_h // out_h) + 1
    box_w = -(-win_w // out_w) + 1
    return max(abs(info.min), info.max) * box_h * box_w < 2 ** 53


def _round_like(out: np.ndarray, dtype) -> np.ndarray:
    if np.issubdtype(np.dtype(dtype), np.integer):
        info = np.iinfo(dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(dtype)
    return out.astype(dtype)


def resample(src: np.ndarray, out_w: int, out_h: int, alg: str = "nearest",
             path: str = "io", out_dtype=None, window=None) -> np.ndarray:
    """Resample to (out_h, out_w) from ``window`` = (x0, y0, w, h) of src
    (default: the whole array).

    path: "io" (RasterIO read convention) or "overview" (pyramid build
    convention) — they differ only for nearest (see module docstring).
    Convolution kernels extend beyond the window into src (GDAL parity);
    box algs (average/mode) and nearest stay within the window.
    """
    alg = alg.lower()
    if alg not in SUPPORTED:
        raise ValueError(
            f"resampling alg {alg!r} not supported on the {path} path "
            "(godal rioAlg subset, godal.go:1750-1774)")
    src = np.asarray(src)
    full_h, full_w = src.shape
    x0, y0, win_w, win_h = window if window is not None else (0, 0, full_w, full_h)
    if out_dtype is None:
        out_dtype = src.dtype

    if alg == "nearest":
        rx, ry = win_w / out_w, win_h / out_h
        off = 0.5 if path == "io" else 0.0
        xs = np.minimum(x0 + np.floor((np.arange(out_w) + off) * rx).astype(int), full_w - 1)
        ys = np.minimum(y0 + np.floor((np.arange(out_h) + off) * ry).astype(int), full_h - 1)
        return src[np.ix_(ys, xs)].astype(out_dtype)

    if (alg == "average" and max(win_h, win_w) <= 8192
            and np.issubdtype(src.dtype, np.integer)
            and _box_sums_exact_in_f64(src.dtype, win_h, win_w,
                                       out_h, out_w)):
        # separable box mean as two unit-weight matmuls + ONE division:
        # integer pixels sum exactly in float64, and sum/(ny*nx) is the
        # same single fp op np.mean performs — so values are bit-equal
        # to the per-pixel loop (weights of 1/n instead would round
        # twice and flip .5-boundary _round_like results; fuzz-caught).
        # The loop was the overview-build hot spot: O(out_px) Python
        # iterations per tile (round-3 finding). Float inputs keep the
        # loop (BLAS FMA order vs np.mean could differ by 1 ulp).
        win = src[y0:y0 + win_h, x0:x0 + win_w].astype(np.float64)
        wy = np.zeros((out_h, win_h), dtype=np.float64)
        ny = np.empty(out_h, dtype=np.float64)
        for i, lo, hi in _box_ranges(win_h, out_h):
            wy[i, lo:hi] = 1.0
            ny[i] = hi - lo
        wx = np.zeros((out_w, win_w), dtype=np.float64)
        nx = np.empty(out_w, dtype=np.float64)
        for i, lo, hi in _box_ranges(win_w, out_w):
            wx[i, lo:hi] = 1.0
            nx[i] = hi - lo
        sums = (wy @ win) @ wx.T
        return _round_like(sums / np.outer(ny, nx), out_dtype)

    if (alg == "mode" and win_h % out_h == 0 and win_w % out_w == 0
            and (win_h // out_h) * (win_w // out_w) <= 64
            and (not np.issubdtype(src.dtype, np.integer)
                 or np.dtype(src.dtype).itemsize <= 4)):
        # int64/uint64 fall through to the loop: the vote below compares
        # values after a float64 cast, which would merge distinct
        # categories above 2^53 (ADVICE r3).
        # exact integer-factor mode (the 2:1 overview / categorical-warp
        # case): per-block vote without the per-output-pixel Python loop.
        # Same semantics as the loop below — max count, ties to the
        # SMALLEST value (np.unique sorts, argmax takes the first max).
        fy, fx = win_h // out_h, win_w // out_w
        win = src[y0:y0 + win_h, x0:x0 + win_w]
        blocks = (win.reshape(out_h, fy, out_w, fx).transpose(0, 2, 1, 3)
                  .reshape(out_h * out_w, fy * fx).astype(np.float64))
        eq = blocks[:, :, None] == blocks[:, None, :]
        cnt = eq.sum(axis=2)
        top = cnt == cnt.max(axis=1, keepdims=True)
        out = np.where(top, blocks, np.inf).min(axis=1).reshape(out_h, out_w)
        return _round_like(out, out_dtype)

    if alg in ("average", "mode"):
        win = src[y0:y0 + win_h, x0:x0 + win_w]
        if alg == "mode" and np.issubdtype(win.dtype, np.integer):
            # vectorized arbitrary-factor mode (round 5c): the per-
            # output-pixel np.unique loop was 1.5 s on a 1 Mpx → 341²
            # reduce. Box ranges can OVERLAP by one source pixel
            # (floor/ceil), so build explicit (src, out) pair maps per
            # axis, cross them, and vote by sorted run-length: per cell
            # the max-count run with the smallest value wins — exactly
            # np.unique + argmax's tie rule. Gated to integer dtypes
            # (exact compares; float NaN-collapse semantics stay on the
            # loop below).
            ysrc, yout = [], []
            for i, lo, hi in _box_ranges(win_h, out_h):
                ysrc.append(np.arange(lo, hi))
                yout.append(np.full(hi - lo, i))
            xsrc, xout = [], []
            for i, lo, hi in _box_ranges(win_w, out_w):
                xsrc.append(np.arange(lo, hi))
                xout.append(np.full(hi - lo, i))
            ysrc = np.concatenate(ysrc)
            yout = np.concatenate(yout)
            xsrc = np.concatenate(xsrc)
            xout = np.concatenate(xout)
            vals = win[ysrc[:, None], xsrc[None, :]].ravel()
            cell = (yout[:, None] * out_w + xout[None, :]).ravel()
            vmin = int(vals.min()) if vals.size else 0
            vmax = int(vals.max()) if vals.size else 0
            span = vmax - vmin + 1
            ncell = out_h * out_w
            if span <= 1 << 31 and ncell * span <= 1 << 62:
                # composite single-key sort (one int64 np.sort beats
                # lexsort ~3x for the narrow-range categorical case)
                key = np.sort(cell.astype(np.int64) * span
                              + (vals.astype(np.int64) - vmin))
                cell = key // span
                vals = (key % span + vmin).astype(win.dtype)
            else:
                o = np.lexsort((vals, cell))
                vals, cell = vals[o], cell[o]
            newrun = np.ones(vals.size, dtype=bool)
            newrun[1:] = (cell[1:] != cell[:-1]) | (vals[1:] != vals[:-1])
            starts = np.nonzero(newrun)[0]
            counts = np.diff(np.concatenate([starts, [vals.size]]))
            rcell, rval = cell[starts], vals[starts]
            o2 = np.lexsort((rval, -counts, rcell))
            first = np.ones(o2.size, dtype=bool)
            first[1:] = rcell[o2][1:] != rcell[o2][:-1]
            win_cells = rcell[o2][first]
            win_vals = rval[o2][first]
            out = np.zeros(out_h * out_w, dtype=win.dtype)
            out[win_cells] = win_vals
            out = out.reshape(out_h, out_w)
            if np.issubdtype(np.dtype(out_dtype), np.integer):
                info = np.iinfo(out_dtype)
                return np.clip(out, info.min, info.max).astype(out_dtype)
            return _round_like(out.astype(np.float64), out_dtype)
        # mode emits EXISTING pixel values — keep the source dtype so
        # int64 categories above 2^53 survive (a float64 buffer would
        # merge them; ADVICE r3). average genuinely computes in float64.
        out = np.zeros((out_h, out_w),
                       dtype=win.dtype if alg == "mode" else np.float64)
        for i, ylo, yhi in _box_ranges(win_h, out_h):
            for jj, xlo, xhi in _box_ranges(win_w, out_w):
                blk = win[ylo:yhi, xlo:xhi]
                if alg == "average":
                    out[i, jj] = blk.astype(np.float64).mean()
                else:
                    vals, counts = np.unique(blk, return_counts=True)
                    out[i, jj] = vals[np.argmax(counts)]
        if alg == "mode" and np.issubdtype(win.dtype, np.integer) \
                and np.issubdtype(np.dtype(out_dtype), np.integer):
            info = np.iinfo(out_dtype)
            return np.clip(out, info.min, info.max).astype(out_dtype)
        return _round_like(out.astype(np.float64), out_dtype)

    if alg == "gauss":
        Wy = _gauss_matrix(full_h, y0, win_h, out_h)
        Wx = _gauss_matrix(full_w, x0, win_w, out_w)
    else:
        Wy = _conv_matrix(full_h, y0, win_h, out_h, alg)
        Wx = _conv_matrix(full_w, x0, win_w, out_w, alg)
    out = Wy @ src.astype(np.float64) @ Wx.T
    return _round_like(out, out_dtype)

