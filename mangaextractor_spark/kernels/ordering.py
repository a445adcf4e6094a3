"""Manga reading order: right-to-left column bands, top-to-bottom
within a band.

The reference's in-page `sequence` is cv2.findContours enumeration
order (reference modules/ocr.py:130-146) — implementation-defined.
Per the north_star spec this engine instead defines the order
explicitly; this module is the single source of truth for the rule
(both the golden-fixture generator and the pipeline kernel call it,
so the rule itself can never diverge between spec and implementation).
"""

from __future__ import annotations

Rect = tuple[int, int, int, int]  # x1, y1, x2, y2  (half-open not required; x2>x1)


def reading_order(rects: list[Rect]) -> list[int]:
    """Return rank (0-based) per input rect: RTL column bands, then TTB.

    Banding: scan rects by right edge descending; a rect joins the
    current band while its x-interval overlaps the band's running
    x-range, else it starts a new (further-left) band. Within a band,
    order by (y1, -x2). Ties broken by the full geometry (x1, y1, y2)
    so ranks NEVER depend on input order — only exact duplicate rects
    are interchangeable. (Found by hypothesis: a stable sort on a
    partial key made ranks input-order-dependent for rects differing
    only in y2.)
    """
    n = len(rects)
    if n == 0:
        return []
    order = sorted(
        range(n), key=lambda i: (-rects[i][2], rects[i][0], rects[i][1], rects[i][3])
    )
    bands: list[list[int]] = []
    band_x1 = None
    for i in order:
        x1, _, x2, _ = rects[i]
        if band_x1 is not None and x2 > band_x1:
            bands[-1].append(i)
            band_x1 = min(band_x1, x1)
        else:
            bands.append([i])
            band_x1 = x1
    ranks = [0] * n
    rank = 0
    for band in bands:
        for i in sorted(
            band, key=lambda j: (rects[j][1], -rects[j][2], rects[j][0], rects[j][3])
        ):
            ranks[i] = rank
            rank += 1
    return ranks

