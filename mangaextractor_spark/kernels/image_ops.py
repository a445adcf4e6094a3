"""Classical CV kernels (pure numpy; no cv2/scipy in this container).

These are the engine's image operators — the Spark-first re-expression
of the reference's classical segmentation path (which the reference
itself ships alongside its TF model; north_star mandates the classical
path). Each function is a pure ``ndarray -> ndarray``/stats kernel
designed to be called on whole Arrow batches from ``mapInPandas`` —
never per-row Python at the Spark level; loops here are bounded by
image rows / component counts, not dataset size.

Reference parity map (behavior cites, no code copied):
- binarize:           modules/cleaning.py:46-48 (threshold 190, INV)
- gaussian_blur:      modules/segmentation.py:77-87 (adaptive sigma
                      sigma = (0.8/676)*h - 0.9), cleaning.py:15
- label_components:   utils/helpers.py:112-116 (scipy label+find_objects)
- average_cc_size:    utils/helpers.py:187-206 (median sqrt bbox area
                      over CCs in (3,100) px)
- filter_by_size:     utils/helpers.py:119-171 (0.15x..4.0x average)
- bw_ratio_filter:    utils/helpers.py:174-184
- rlso_close:         modules/smoothing.py:13-67 (run-length smoothing
                      == morphological closing with 1xk / kx1 kernels,
                      gap <= 0.75*average_size)
- segment_into_lines: utils/helpers.py:245-280 (projection profiles)
- text_like_stats:    modules/segmentation.py:183-263 (>=2 CCs, mean
                      size >= 7px, aspect 0.5-2.0, spacing variance)
- detect_bubbles:     the segment_image composition
                      modules/segmentation.py:70-125 + detection
                      contour pass modules/detection.py:12-44, using
                      connected components + whiteness/aspect
                      heuristics per north_star
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BINARY_THRESHOLD = 190  # reference core/defaults.py:13
# Row-block height for the tiled separable blur: 64 rows x 840 cols x
# 4 B ~= 215 KB per array, ~1 MB total working set — fits one core's
# L2 even with every core running its own page, which is the point
# (the ladder is bandwidth-, not compute-, limited on wide boxes).
_BLUR_TILE_ROWS = 64
CC_SCALE_MIN = 0.15  # reference core/defaults.py:16
CC_SCALE_MAX = 4.0  # reference core/defaults.py:17
SMOOTHING_MULTIPLIER = 0.75  # reference core/defaults.py:18-19
MIN_TEXT_SIZE = 7  # reference core/defaults.py:25
MAX_VSPACE_VARIANCE = 5.0  # reference core/defaults.py:26
WHITE_THRESHOLD = 240
BUBBLE_MIN_AREA = 600  # px^2: smaller white components are not bubbles
INK_THRESHOLD = 128


def binarize(img: np.ndarray, threshold: int = BINARY_THRESHOLD) -> np.ndarray:
    """K4: THRESH_BINARY_INV — ink (dark) pixels -> True."""
    return img < threshold


def adaptive_sigma(height: int) -> float:
    """K5 adaptive de-screentone sigma, linear in page height."""
    return max(0.1, (0.8 / 676.0) * height - 0.9)


def gaussian_blur(img: np.ndarray, sigma: float) -> np.ndarray:
    """Separable gaussian, float32, truncated at 3 sigma. float32 halves
    the ladder's dominant memory traffic vs the former float64 path.
    Precision note: blur values are continuous, so a pixel whose exact
    value sits within float32 error (~1e-3 here) of a downstream
    threshold could in principle land on the other side of it vs the
    float64 path; validated EMPIRICALLY instead of by construction —
    gbin masks, box outputs and span sequences are identical on every
    fixture corpus, all sweep seeds and the real reference scan
    (tests/test_pipeline_e2e.py, tests/test_real_page.py), and a
    boundary flip on a single anti-aliased edge pixel is absorbed by
    the component-level size statistics downstream."""
    if sigma <= 0:
        return img.astype(np.float32)
    r = max(1, int(3 * sigma + 0.5))
    x = np.arange(-r, r + 1, dtype=np.float64)
    k = np.exp(-(x * x) / (2 * sigma * sigma))
    k /= k.sum()
    k = k.astype(np.float32)
    if len(k) > 9:
        # big kernels (only reachable with non-adaptive sigmas) keep the
        # windowed-matmul path; the tiled loop below mirrors the
        # small-kernel tap order for bit-identity
        out = np.asarray(img, dtype=np.float32)
        out = _conv1d(out, k, axis=1)
        out = _conv1d(out, k, axis=0)
        return out
    # Row-tiled separable convolution: both passes run inside an
    # L2-sized row block (halo rows index-clamped == edge padding), so
    # the float32 intermediates never round-trip DRAM — the untiled
    # form streamed ~8 full-page float arrays per page, which is what
    # pinned the 840x1200 robust ladder at 0.60 N->4N scaling on a
    # single box (round-4 verdict item 7: the ladder was host-DRAM
    # bound, not compute bound). Tap accumulation order matches
    # _conv1d's small-kernel branch exactly, so outputs are
    # bit-identical to the untiled path (asserted in tests).
    h, w = img.shape
    out = np.empty((h, w), dtype=np.float32)
    tile = max(2 * r + 1, _BLUR_TILE_ROWS)
    for y0 in range(0, h, tile):
        y1 = min(h, y0 + tile)
        if y0 - r >= 0 and y1 + r <= h:
            block = np.asarray(img[y0 - r : y1 + r], dtype=np.float32)
        else:
            idx = np.clip(np.arange(y0 - r, y1 + r), 0, h - 1)
            block = np.asarray(img[idx], dtype=np.float32)
        hb = _conv1d(block, k, axis=1)
        n = y1 - y0
        acc = hb[r : r + n] * k[r]
        for i in range(1, r + 1):
            t = hb[r - i : r - i + n] + hb[r + i : r + i + n]
            t *= k[r + i]
            acc += t
        out[y0:y1] = acc
    return out


def _conv1d(a: np.ndarray, k: np.ndarray, axis: int) -> np.ndarray:
    r = len(k) // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (r, r)
    ap = np.pad(a, pad, mode="edge")
    n = a.shape[axis]
    if len(k) <= 9:
        # symmetric-tap accumulation: w0*center + wi*(left_i + right_i),
        # in place — no (h, w, k) window materialization (adaptive
        # sigmas give tiny kernels; the full window view tripled the
        # ladder's memory traffic, and pairing mirror taps nearly
        # halves the remaining passes)
        def tap(i: int) -> np.ndarray:
            s = [slice(None), slice(None)]
            s[axis] = slice(i, i + n)
            return ap[tuple(s)]

        out = tap(r) * k[r]
        for i in range(1, r + 1):
            t = tap(r - i) + tap(r + i)
            t *= k[r + i]
            out += t
        return out
    win = np.lib.stride_tricks.sliding_window_view(ap, len(k), axis=axis)
    return win @ k


def _shift_or(acc: np.ndarray, s: int, axis: int) -> np.ndarray:
    """acc | (acc shifted s toward lower index); vacated tail = False."""
    out = acc.copy()
    src = [slice(None), slice(None)]
    dst = [slice(None), slice(None)]
    src[axis] = slice(s, None)
    dst[axis] = slice(None, -s)
    out[tuple(dst)] |= acc[tuple(src)]
    return out


def _slide_bool(mask: np.ndarray, k: int, axis: int, op: str, pad_value: bool) -> np.ndarray:
    """Centered windowed any/all along one axis in O(n log k) boolean
    shift-OR doubling passes — ~5x cheaper than the earlier int32
    box-sum (integral image) on megapixel pages."""
    if k <= 1:
        return mask
    r_lo, r_hi = (k - 1) // 2, k // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (r_lo, r_hi)
    work = mask if op == "max" else ~mask
    mp = np.pad(work, pad, mode="constant", constant_values=pad_value if op == "max" else not pad_value)
    # left-anchored any-over-[i, i+k) via binary doubling
    covered = 1
    while covered < k:
        s = min(covered, k - covered)
        mp = _shift_or(mp, s, axis)
        covered += s
    n = mask.shape[axis]
    sel = [slice(None), slice(None)]
    sel[axis] = slice(0, n)
    out = mp[tuple(sel)]
    return out if op == "max" else ~out


def dilate(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    out = _slide_bool(mask, kw, axis=1, op="max", pad_value=False)
    return _slide_bool(out, kh, axis=0, op="max", pad_value=False)


def erode(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    out = _slide_bool(mask, kw, axis=1, op="min", pad_value=True)
    return _slide_bool(out, kh, axis=0, op="min", pad_value=True)


def close(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    return erode(dilate(mask, kh, kw), kh, kw)


def rlso_close(mask: np.ndarray, average_size: float) -> np.ndarray:
    """K11 run-length smoothing: bridge horizontal AND vertical gaps
    <= 0.75*average_size; OR of both passes — implemented as two 1-D
    closings (equivalent result to the reference's pixel loop at
    modules/smoothing.py:13-67, vectorized)."""
    gap = max(1, int(SMOOTHING_MULTIPLIER * average_size))
    horiz = close(mask, 1, 2 * gap + 1)
    vert = close(mask, 2 * gap + 1, 1)
    return horiz | vert


@dataclass
class CCStats:
    """Connected-component stats; arrays indexed by component id 0..n-1.
    Runs are kept columnar ((y, x_start, x_end, component) arrays) —
    building per-component python lists cost more than the labeling
    itself on large pages."""

    n: int
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray  # exclusive
    y2: np.ndarray  # exclusive
    area: np.ndarray  # pixel count
    run_y: np.ndarray
    run_xs: np.ndarray
    run_xe: np.ndarray
    run_ci: np.ndarray  # component id per run

    def bbox_area(self) -> np.ndarray:
        return (self.x2 - self.x1) * (self.y2 - self.y1)

    def paint(self, shape: tuple[int, int], keep: np.ndarray) -> np.ndarray:
        """Exact pixel mask of the kept components (K8 form_mask).
        (A vectorized flat-diff/cumsum variant was measured SLOWER than
        this loop at realistic run counts — np.add.at plus a full-image
        cumsum costs more than ~25k python slice fills.)"""
        out = np.zeros(shape, dtype=bool)
        sel = keep[self.run_ci] if self.n else np.zeros(0, dtype=bool)
        for y, xs, xe in zip(
            self.run_y[sel].tolist(), self.run_xs[sel].tolist(), self.run_xe[sel].tolist()
        ):
            out[y, xs:xe] = True
        return out


def _row_runs(row: np.ndarray) -> list[tuple[int, int]]:
    idx = np.flatnonzero(row)
    if idx.size == 0:
        return []
    breaks = np.flatnonzero(np.diff(idx) > 1)
    starts = np.concatenate(([idx[0]], idx[breaks + 1]))
    ends = np.concatenate((idx[breaks] + 1, [idx[-1] + 1]))
    return list(zip(starts.tolist(), ends.tolist()))


def _all_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All row runs of a 2-D bool mask at once: (ys, xstarts, xends),
    sorted by (y, x). One XOR pass marks every 0->1 / 1->0 column
    transition (the extra right column closes runs touching the edge);
    each row then holds an even count of transitions alternating
    start, end, start, ..., so ONE row-major nonzero yields starts at
    even positions and half-open ends at odd — half the full-image
    scans of the earlier two-mask form (measured 7.7 -> 5.1 ms on a
    44%-ink 840x1200 screentone page, and nonzero was ~60% of
    label_components' pre-union cost). The nonzero runs in 1-D
    (flatnonzero over the raveled transition image, coordinates
    recovered by one div/mul per run): 2-D np.nonzero materializes BOTH
    coordinate arrays for every transition before the stride slicing,
    while the flat form divides only the kept halves — measured
    11.6 -> 5.0 ms/page on the 112k-run 840x1200 fixture pages,
    bit-identical outputs."""
    h, w = mask.shape
    t = np.zeros((h, w + 1), dtype=bool)
    t[:, :w] = mask
    t[:, 1:] ^= mask
    f = np.flatnonzero(t.ravel())
    s = f[0::2]
    e = f[1::2]
    ys = s // (w + 1)
    row0 = ys * (w + 1)
    return ys, s - row0, e - row0  # run i: row ys[i], [xs[i], xe[i])


def label_components(mask: np.ndarray) -> CCStats:
    """K6: 8-connected components over row runs, fully vectorized.

    Adjacent-row run overlaps (8-conn: prev.xe >= cur.xs AND prev.xs <=
    cur.xe on half-open runs) are found for ALL runs at once with two
    searchsorted calls over composite (row * stride + x) keys — both
    key arrays are globally monotone because runs are sorted by (y, x)
    and the stride exceeds any x coordinate. Components then resolve by
    iterated min-label edge relaxation + pointer jumping
    (Shiloach-Vishkin style), converging in O(log diameter) numpy
    passes. On screentoned pages with ~25k background runs this halves
    labeling time vs the earlier per-run python union-find loop."""
    ys, xs_arr, xe_arr = _all_runs(mask)
    n_runs = len(ys)
    ys64 = ys.astype(np.int64)
    xs64 = xs_arr.astype(np.int64)
    xe64 = xe_arr.astype(np.int64)
    if n_runs:
        stride = mask.shape[1] + 2
        k_xe = ys64 * stride + xe64  # monotone: y asc, xe asc within row
        k_xs = ys64 * stride + xs64
        p = np.searchsorted(k_xe, (ys64 - 1) * stride + xs64, side="left")
        q = np.searchsorted(k_xs, (ys64 - 1) * stride + xe64, side="right")
        cnt = np.maximum(q - p, 0)
        total = int(cnt.sum())
        b_idx = np.repeat(np.arange(n_runs), cnt)
        # a_idx enumerates p[i] .. q[i]-1 per run i; fusing the start
        # and offset repeats into one (p - exclusive_cumsum) repeat
        # saves a full-edge-length repeat + add vs the three-repeat form.
        ecs = np.cumsum(cnt) - cnt
        a_idx = np.arange(total) + np.repeat(p - ecs, cnt)
        # Shiloach-Vishkin style: hook the LARGER label's root position
        # onto the smaller label, then pointer-jump to full compression
        # — O(log n) rounds. (Hooking onto the edge ENDPOINTS instead
        # of roots, the previous form, degrades to O(diameter) rounds:
        # 489 rounds / 150 ms on the reference's real scan vs 4 rounds
        # / ~1 ms here, identical labels.) Labels only ever decrease
        # and every written value is an existing in-component label, so
        # each component converges to its minimum run index — which the
        # compaction below relies on.
        labels = np.arange(n_runs)
        while total:
            la, lb = labels[a_idx], labels[b_idx]
            ne = la != lb
            if not ne.any():
                break
            la, lb = la[ne], lb[ne]
            np.minimum.at(labels, np.maximum(la, lb), np.minimum(la, lb))
            while True:  # pointer jumping to full compression
                nxt = labels[labels]
                if np.array_equal(nxt, labels):
                    break
                labels = nxt
        # Sort-free compaction: convergence leaves labels[i] = the
        # component's min run index (a fixpoint of pointer jumping), so
        # roots are exactly labels[i] == i and a cumsum remaps them to
        # dense ids — this replaces an np.unique whose O(n log n) sort
        # was ~15% of the whole ladder on screentone-heavy pages.
        is_root = labels == np.arange(n_runs)
        remap = np.cumsum(is_root) - 1
        ci = remap[labels]
        n = int(remap[-1]) + 1
    else:
        ci = np.zeros(0, dtype=np.int64)
        n = 0
    x1 = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    y1 = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    x2 = np.zeros(n, dtype=np.int64)
    y2 = np.zeros(n, dtype=np.int64)
    np.minimum.at(x1, ci, xs64)
    np.minimum.at(y1, ci, ys64)
    np.maximum.at(x2, ci, xe64)
    np.maximum.at(y2, ci, ys64 + 1)
    area = np.bincount(ci, weights=xe64 - xs64, minlength=n).astype(np.int64)
    return CCStats(
        n=n, x1=x1, y1=y1, x2=x2, y2=y2, area=area,
        run_y=ys64, run_xs=xs64, run_xe=xe64, run_ci=ci,
    )


def label_components_bbox(mask: np.ndarray) -> CCStats:
    """label_components restricted to the mask's bounding window, with
    coordinates mapped back to the full frame — exact (every True pixel
    is inside the window, so components and their stats are identical)
    and much cheaper when the support is a fraction of the page (canny
    masks, RLSO blocks), since the run extraction's full-frame scans
    shrink to the window."""
    rows = mask.any(axis=1)
    if not rows.any():
        return label_components(mask[:0, :0])
    cols = mask.any(axis=0)
    h, w = mask.shape
    y0 = int(np.argmax(rows))
    y1 = h - int(np.argmax(rows[::-1]))
    x0 = int(np.argmax(cols))
    x1 = w - int(np.argmax(cols[::-1]))
    st = label_components(mask[y0:y1, x0:x1])
    if x0 or y0:
        st.x1 += x0
        st.x2 += x0
        st.y1 += y0
        st.y2 += y0
        st.run_y += y0
        st.run_xs += x0
        st.run_xe += x0
    return st


def average_cc_size(stats: CCStats) -> float:
    """K7: median of sqrt(bbox area) over CCs whose sqrt size is in
    (3, 100) px (reference utils/helpers.py:187-206)."""
    s = np.sqrt(stats.bbox_area().astype(np.float64))
    sel = s[(s > 3.0) & (s < 100.0)]
    return float(np.median(sel)) if sel.size else 0.0


def filter_by_size(stats: CCStats, average_size: float) -> np.ndarray:
    """K8: keep CCs with CC_SCALE_MIN*avg <= sqrt(bbox area) <=
    CC_SCALE_MAX*avg."""
    s = np.sqrt(stats.bbox_area().astype(np.float64))
    return (s >= CC_SCALE_MIN * average_size) & (s <= CC_SCALE_MAX * average_size)


def filter_by_black_white_ratio(
    stats: CCStats, lo: float = 0.05, hi: float = 0.95
) -> np.ndarray:
    """K26: keep CCs whose ink/bbox-area ratio is within [lo, hi]."""
    ratio = stats.area / np.maximum(stats.bbox_area(), 1)
    return (ratio >= lo) & (ratio <= hi)


CANNY_LOW = 128  # reference cv2.Canny(img, 128, 255, ...) cleaning.py:52
CANNY_HIGH = 255


def sobel_edges(img: np.ndarray, gate: np.ndarray | None = None) -> np.ndarray:
    """K9 edge mask: 3x3 Sobel L1 magnitude (|gx|+|gy|, cv2.Canny's
    default gradient) with hysteresis — weak-edge (>= CANNY_LOW)
    components are kept only when they contain at least one strong
    (>= CANNY_HIGH) pixel, exactly Canny's edge-tracking rule.
    Non-maximum suppression is deliberately omitted: the only consumer
    is the convex-hull fill (reference cleaning.py:51-68), for which
    the hull of a thick edge equals the hull of its thinned ridge."""
    # float32 is EXACT for 8-bit inputs (integer sobel weights keep all
    # intermediates integral < 2^24); float blurred inputs were already
    # cast to float32 here before, so asarray just skips the copy.
    a = np.asarray(img, dtype=np.float32)
    p = np.pad(a, 1, mode="edge")
    dx = p[:, 2:] - p[:, :-2]  # central difference, then [1,2,1] smooth
    gx = dx[:-2] + 2.0 * dx[1:-1] + dx[2:]
    dy = p[2:, :] - p[:-2, :]
    gy = dy[:, :-2] + 2.0 * dy[:, 1:-1] + dy[:, 2:]
    mag = np.abs(gx) + np.abs(gy)
    weak = mag >= CANNY_LOW
    strong = mag >= CANNY_HIGH
    if gate is not None:
        # Restrict hysteresis to the gate region BEFORE labeling: on
        # screentoned pages the ungated weak mask covers most of the
        # page, and labeling it dominates the whole ladder's cost.
        weak &= gate
        strong &= gate
    if not strong.any() or not weak.any():
        return np.zeros_like(weak)
    stats = label_components(weak)
    # strong pixels per weak component, via per-run interval sums over a
    # row-wise prefix count of strong pixels (no per-pixel python)
    cs = np.concatenate(
        [
            np.zeros((strong.shape[0], 1), dtype=np.int32),
            np.cumsum(strong, axis=1, dtype=np.int32),
        ],
        axis=1,
    )
    run_strong = cs[stats.run_y, stats.run_xe] - cs[stats.run_y, stats.run_xs]
    keep = np.bincount(stats.run_ci, weights=run_strong, minlength=stats.n) > 0
    return stats.paint(weak.shape, keep)


def _hull(points: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Andrew's monotone chain on (x, y) int tuples -> CCW hull
    vertices. Handles collinear/duplicate/degenerate inputs (the
    chain's <=0 pop discards both). Pure-python ints on purpose:
    at the ladder's typical ~100 components x ~60 candidate points,
    numpy-scalar arithmetic in this loop cost more than every other
    hull expense combined."""
    pts = sorted(points)
    if len(pts) <= 2:
        return pts

    def half(seq):
        out: list[tuple[int, int]] = []
        for p in seq:
            while (
                len(out) >= 2
                and (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return lower[:-1] + upper[:-1]


def _fill_hull_rows(hull: list[tuple[int, int]], out: np.ndarray) -> None:
    """Scanline-fill a convex polygon given by lattice-point vertices
    into bool image ``out``: per row, the covered x-interval is the
    [min, max] of every edge's intersection with that row. (Python
    floats ARE IEEE float64 with the same expression order as the
    former numpy version — identical rasterization, ~4x faster at
    these polygon sizes.)"""
    import math

    ys = [p[1] for p in hull]
    y0 = min(ys)
    n_rows = max(ys) - y0 + 1
    inf = float("inf")
    xlo = [inf] * n_rows
    xhi = [-inf] * n_rows
    k = len(hull)
    for i in range(k):
        xa, ya = hull[i]
        xb, yb = hull[(i + 1) % k]
        if ya == yb:
            r = ya - y0
            lo, hi = (xa, xb) if xa <= xb else (xb, xa)
            if lo < xlo[r]:
                xlo[r] = lo
            if hi > xhi[r]:
                xhi[r] = hi
            continue
        dx, dy = xb - xa, yb - ya
        for yy in range(min(ya, yb), max(ya, yb) + 1):
            xx = xa + (yy - ya) * dx / dy
            r = yy - y0
            if xx < xlo[r]:
                xlo[r] = xx
            if xx > xhi[r]:
                xhi[r] = xx
    for r in range(n_rows):
        lo, hi = xlo[r], xhi[r]
        if lo != inf and hi != -inf:
            out[y0 + r, math.ceil(lo - 1e-9) : math.floor(hi + 1e-9) + 1] = True


# Pathological-speckle guard (K9): a page whose size-filtered edge mask
# still yields more components than this cap falls back from per-
# component hulls to per-component bbox fills (a superset of each hull,
# computed in vectorized row sweeps) — bounded wall time on adversarial
# inputs, byte-identical behavior on every page below the cap. Real
# pages run ~10^2 components; the cap only trips on speckle storms the
# earlier size filter failed to contain.
HULL_COMPONENT_CAP = 4096


def convex_hull_mask(mask: np.ndarray, component_cap: int = HULL_COMPONENT_CAP) -> np.ndarray:
    """K9 hull fill: per 8-connected component, fill the convex hull of
    its pixels (reference form_canny_mask: findContours -> convexHull ->
    drawContours(filled), cleaning.py:57-68). Hull candidates reduce to
    each component-row's leftmost start / rightmost end (interior run
    pixels and interior runs can never be hull vertices), computed for
    all components at once with one lexsort + reduceat."""
    stats = label_components(mask)
    out = np.zeros_like(mask)
    if stats.n == 0:
        return out
    order = np.lexsort((stats.run_y, stats.run_ci))
    ci_s = stats.run_ci[order]
    y_s = stats.run_y[order]
    change = np.empty(len(order), dtype=bool)
    change[0] = True
    change[1:] = (np.diff(ci_s) != 0) | (np.diff(y_s) != 0)
    starts = np.flatnonzero(change)
    gx1 = np.minimum.reduceat(stats.run_xs[order], starts)
    gx2 = np.maximum.reduceat(stats.run_xe[order] - 1, starts)
    gy = y_s[starts]
    if stats.n > component_cap:
        # speckle-storm fallback: bbox fill per component (a superset
        # of its hull) — one python slice assignment each, no hull math
        for x1c, y1c, x2c, y2c in zip(
            stats.x1.tolist(), stats.y1.tolist(), stats.x2.tolist(), stats.y2.tolist()
        ):
            out[y1c:y2c, x1c:x2c] = True
        return out | mask
    gci = ci_s[starts]
    bounds = np.searchsorted(gci, np.arange(stats.n + 1))
    gx1l, gx2l, gyl = gx1.tolist(), gx2.tolist(), gy.tolist()
    for ci in range(stats.n):
        lo, hi = int(bounds[ci]), int(bounds[ci + 1])
        pts = list(zip(gx1l[lo:hi], gyl[lo:hi])) + list(zip(gx2l[lo:hi], gyl[lo:hi]))
        _fill_hull_rows(_hull(pts), out)
    return out | mask


def form_canny_mask(img: np.ndarray, mask: np.ndarray | None = None) -> np.ndarray:
    """K9 composition, faithful to reference cleaning.py:51-68: edge
    mask of ``img`` (already blurred by the caller, as in the
    reference), AND'ed with the size-filtered CC ``mask`` BEFORE the
    hull pass, then per-component convex hulls filled.

    Deviation (performance, not semantics of the output mask): the
    reference runs cv2.Canny's hysteresis over the whole page and masks
    afterwards; here hysteresis is gated to a 2px dilation of ``mask``
    up front, since every weak edge the post-AND would keep must lie
    inside ``mask`` and its strong seed within the same component — the
    only pixels a global pass could add are weak spurs whose seeds sit
    >2px outside the mask, which the AND then cuts anyway. The whole
    pass additionally runs on the mask's bounding window (+8px margin):
    the gate reaches <=2px beyond the mask bbox and the sobel stencil
    2px further, so every gated pixel sees its true neighborhood and
    the crop is exact — on pages whose text occupies a fraction of the
    page this removes most of the full-page gradient/label traffic."""
    if mask is None:
        return convex_hull_mask(sobel_edges(img))
    rows = mask.any(axis=1)
    if not rows.any():
        return np.zeros_like(mask)
    cols = mask.any(axis=0)
    h, w = mask.shape
    y0 = max(0, int(np.argmax(rows)) - 8)
    y1 = min(h, h - int(np.argmax(rows[::-1])) + 8)
    x0 = max(0, int(np.argmax(cols)) - 8)
    x1 = min(w, w - int(np.argmax(cols[::-1])) + 8)
    sub_mask = mask[y0:y1, x0:x1]
    edges = sobel_edges(img[y0:y1, x0:x1], gate=dilate(sub_mask, 5, 5)) & sub_mask
    out = np.zeros_like(mask)
    out[y0:y1, x0:x1] = convex_hull_mask(edges)
    return out


def segment_into_lines(mask: np.ndarray, axis: int, threshold: int = 1) -> list[tuple[int, int]]:
    """K12: projection-profile runs where nonzero count > threshold."""
    profile = np.count_nonzero(mask, axis=1 - axis) > threshold
    return _row_runs(profile)


def text_like_stats(region: np.ndarray) -> dict:
    """K14 heuristics over a candidate text region (bool ink mask):
    component count, mean dims, aspect, vertical spacing variance.

    Character-size means exclude pixel-scale debris (sqrt bbox area
    <= 2, i.e. at most ~2x2 fragments) — the kernel-level analog of
    the reference's K7 noise band (average_size keeps CCs in (3,100)
    px, utils/helpers.py:187-206). Without the floor, a few 1-px
    fragments chipped off glyphs by cleaning on a noisy scan drag the
    mean character size under MIN_TEXT_SIZE and a real text block gets
    rejected (observed on speckled ruby columns); the floor is kept at
    the debris scale only, so multi-pixel non-text fragments (border
    remnants) still count against a region's character-size means."""
    stats = label_components(region)
    if stats.n == 0:
        return {"n_cc": 0, "mean_w": 0.0, "mean_h": 0.0, "aspect": 0.0, "vspace_var": 0.0}
    w = (stats.x2 - stats.x1).astype(np.float64)
    h = (stats.y2 - stats.y1).astype(np.float64)
    sel = np.sqrt(stats.bbox_area().astype(np.float64)) > 2.0
    if sel.any():
        w, h = w[sel], h[sel]
    rows = segment_into_lines(region, axis=0)
    gaps = [b[0] - a[1] for a, b in zip(rows, rows[1:])]
    return {
        "n_cc": stats.n,
        "mean_w": float(w.mean()),
        "mean_h": float(h.mean()),
        "aspect": float(w.mean() / max(h.mean(), 1e-9)),
        "vspace_var": float(np.var(gaps)) if gaps else 0.0,
    }


def is_text_like(region: np.ndarray) -> bool:
    """K14/K15 accept rule: >=2 CCs, mean size >= MIN_TEXT_SIZE,
    aspect in [0.33, 3.0], spacing variance bounded."""
    s = text_like_stats(region)
    return (
        s["n_cc"] >= 2
        and (s["mean_w"] >= MIN_TEXT_SIZE or s["mean_h"] >= MIN_TEXT_SIZE)
        and 0.33 <= s["aspect"] <= 3.0
        and s["vspace_var"] <= MAX_VSPACE_VARIANCE**2
    )


def detect_bubbles(img: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Bubble segmentation (K16/K20 analog): whiteness mask ->
    connected components -> area/aspect/whiteness heuristics ->
    interior bboxes. No hole-filling closing: glyph-ink holes inside a
    bubble neither disconnect the white component nor change its bbox.

    The reference finds text boxes with Sobel+Otsu+morph-close+contours
    (modules/detection.py:12-44) on top of a DNN text mask; with the
    classical path the white bubble interior IS the high-signal region,
    so CC + heuristics on the whiteness mask is the equivalent — and
    contour-free (bounding boxes come straight from CC stats)."""
    white = img >= WHITE_THRESHOLD
    stats = label_components(white)
    out: list[tuple[int, int, int, int]] = []
    for ci in range(stats.n):
        x1, y1, x2, y2 = int(stats.x1[ci]), int(stats.y1[ci]), int(stats.x2[ci]), int(stats.y2[ci])
        w, h = x2 - x1, y2 - y1
        if w * h < BUBBLE_MIN_AREA:
            continue
        aspect = w / max(h, 1)
        # Tall-narrow vertical bubbles are the manga norm (a 1-column
        # page grid yields ~0.19); bound only degenerate slivers.
        if not (0.1 <= aspect <= 10.0):
            continue
        box = white[y1:y2, x1:x2]
        if box.mean() < 0.5:  # whiteness heuristic
            continue
        out.append((x1, y1, x2, y2))
    return out


def clean_page_mask(img: np.ndarray) -> tuple[np.ndarray, float]:
    """K10 clean_page composition, faithful to the reference's
    segment_image front half (modules/segmentation.py:70-104 /
    cleaning.py:8-36): binarize (K4), adaptive-sigma gaussian (K5),
    CC stats on the blurred binary (K6/K7), size-filtered primary mask
    (K8), canny+hull secondary mask gated by the primary (K9), size
    filter again, then cleaned = binary AND final_mask. Returns the
    cleaned ink mask (True = kept text ink) and the page average CC
    size. Removes screentone (one huge background CC), bubble borders
    and border art (over-size CCs), and speckle (under-size CCs) while
    preserving glyph pixels bit-exactly (the final AND is against the
    UNblurred binary)."""
    h = img.shape[0]
    binary = binarize(img)
    blurred = gaussian_blur(img, adaptive_sigma(h))
    # Exactly round-to-uint8-then-(< 190): with round-half-to-even the
    # only boundary value 189.5 maps to False on both forms, so
    # thresholding the float directly skips a full-page round/clip/
    # astype pass without changing a single mask pixel.
    gbin = blurred < (BINARY_THRESHOLD - 0.5)
    stats = label_components(gbin)
    avg = average_cc_size(stats)
    if avg <= 0:
        return np.zeros_like(binary), 0.0
    mask = stats.paint(binary.shape, filter_by_size(stats, avg))
    canny = form_canny_mask(blurred, mask=mask)
    cstats = label_components_bbox(canny)
    final_mask = cstats.paint(binary.shape, filter_by_size(cstats, avg))
    return binary & final_mask, avg


def cleaned_to_text_boxes(
    cleaned: np.ndarray, average_size: float
) -> list[tuple[int, int, int, int]]:
    """K13 cleaned2segmented (reference segmentation.py:127-150): RLSO
    run-length smoothing (K11) bridges intra-block gaps, connected
    components over the smoothed mask, and a component survives only if
    its cleaned content splits into >= 2 projection lines in either
    direction (K12, min_segment_threshold = 1)."""
    smoothed = rlso_close(cleaned, average_size)
    sstats = label_components_bbox(smoothed)
    boxes: list[tuple[int, int, int, int]] = []
    for ci in range(sstats.n):
        x1, y1 = int(sstats.x1[ci]), int(sstats.y1[ci])
        x2, y2 = int(sstats.x2[ci]), int(sstats.y2[ci])
        sub = cleaned[y1:y2, x1:x2]
        v_lines = segment_into_lines(sub, axis=1)
        h_lines = segment_into_lines(sub, axis=0)
        if len(v_lines) < 2 and len(h_lines) < 2:
            continue
        boxes.append((x1, y1, x2, y2))
    return boxes


def segment_text_regions(
    img: np.ndarray,
) -> tuple[list[tuple[int, int, int, int]], np.ndarray]:
    """K16 robust composition: the full reference cleaning ladder
    K4→K5→K6/K7→K8→K9→K10→K11→K13→K14/K15 (segment_image,
    modules/segmentation.py:70-125). Detects TEXT blocks directly —
    no dependence on bubble whiteness — so it survives off-white
    bubbles, screentone speckle and border art where the whiteness-CC
    fast path over-/under-detects. Returns (text-block boxes, cleaned
    ink mask); callers crop per-box ink from the cleaned mask."""
    cleaned, avg = clean_page_mask(img)
    if avg <= 0:
        return [], cleaned
    boxes = cleaned_to_text_boxes(cleaned, avg)
    boxes = [b for b in boxes if is_text_like(cleaned[b[1] : b[3], b[0] : b[2]])]
    return boxes, cleaned


def text_only_image(img: np.ndarray) -> np.ndarray:
    """K2 textOnly composition (reference segmentPage,
    modules/segmentation.py:55-57: bitwise_and(ori, mask) with the
    background forced white): original pixel values wherever the
    cleaning ladder kept text ink, 255 elsewhere — the debug/export
    artifact the reference writes per page."""
    cleaned, _ = clean_page_mask(img)
    out = np.full_like(img, 255)
    out[cleaned] = img[cleaned]
    return out


@dataclass
class PageRegion:
    x1: int
    y1: int
    x2: int
    y2: int
    reading_rank: int
    ink: np.ndarray  # bool mask of the text pixels inside the bubble


def extract_page_regions(
    img: np.ndarray, shrink: int = 2, robust: bool = False
) -> list[PageRegion]:
    """Full page segmentation: text regions -> reading order ->
    per-region ink crops (ready for the OCR stage).

    ``robust=False``: whiteness-CC bubble detection — the fast path for
    corpora whose bubbles are near-pure white (ink crop = dark pixels
    inside the shrunk bubble interior).
    ``robust=True``: the reference cleaning ladder (segment_text_regions)
    — detects text blocks directly and crops ink from the CLEANED mask,
    so screentone speckle, off-white bubbles and border art never reach
    the OCR engine.

    Reading ranks are computed over the TIGHT INK BBOX of each region
    with ink (the north_star rule sorts detected *text regions*): both
    detection modes therefore derive the same sequence whenever they
    find the same text, even though their container boxes differ
    (bubble interiors vs RLSO blocks). Ink-less regions (empty bubbles;
    possible only in whiteness mode) rank after all texted ones — they
    are dropped by the empty-text rule downstream either way."""
    from .ordering import reading_order

    if robust:
        boxes, cleaned = segment_text_regions(img)
        crops = [(x1, y1, x2, y2, x1, y1, cleaned[y1:y2, x1:x2]) for x1, y1, x2, y2 in boxes]
    else:
        crops = []
        for x1, y1, x2, y2 in detect_bubbles(img):
            ix1, iy1 = x1 + shrink, y1 + shrink
            ix2, iy2 = max(ix1 + 1, x2 - shrink), max(iy1 + 1, y2 - shrink)
            crops.append((x1, y1, x2, y2, ix1, iy1, img[iy1:iy2, ix1:ix2] < INK_THRESHOLD))
    tight: list[tuple[int, int, int, int] | None] = []
    for _, _, _, _, ox, oy, ink in crops:
        rows = ink.any(axis=1)
        if not rows.any():
            tight.append(None)
            continue
        cols = ink.any(axis=0)
        ty0, ty1 = int(np.argmax(rows)), len(rows) - int(np.argmax(rows[::-1]))
        tx0, tx1 = int(np.argmax(cols)), len(cols) - int(np.argmax(cols[::-1]))
        tight.append((ox + tx0, oy + ty0, ox + tx1, oy + ty1))
    texted = [i for i, t in enumerate(tight) if t is not None]
    ranks = dict(zip(texted, reading_order([tight[i] for i in texted])))
    nxt = len(texted)
    regions: list[PageRegion] = []
    for i, (x1, y1, x2, y2, _, _, ink) in enumerate(crops):
        rank = ranks.get(i)
        if rank is None:
            rank, nxt = nxt, nxt + 1
        regions.append(PageRegion(x1, y1, x2, y2, rank, ink))
    return regions
