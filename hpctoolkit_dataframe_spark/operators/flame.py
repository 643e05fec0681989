"""Flame-graph layout + rendering (reference V1, hpctoolkit_dataframe.py:430-540).

The reference computes, per depth level, segment widths normalized to
the parent's width (norm constant 2*pi) and running offsets, then draws
stacked ``ax.bar`` layers (rect or polar/wheel axes, several colormap
styles).  Here the data-proportional work — subtree restriction, depth
slicing, value projection — runs in Spark; only the rows that will
actually be DRAWN (a few thousand bars at most, bounded by
``max_depth``/the display) are collected, and the layout arithmetic
(normalize to parent width, cumulative offsets, reference :490-508)
runs driver-side on that display-sized set.  Rendering is identical
matplotlib.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from . import cct as _cct

NORMALIZATION_CONSTANT = 2 * math.pi  # reference :50


def flame_layout(
    df: DataFrame,
    column: str,
    prefix: Sequence[int] = (),
    min_depth: int | None = None,
    max_depth: int | None = None,
    label_col: str | None = "procedure",
) -> list[dict]:
    """Compute the bar layout: one dict per segment with
    ``id, depth, width, offset, label`` (reference :459-515).

    Widths at the first layer are raw values normalized to 2*pi over the
    whole layer (reference :506); deeper layers split each parent's
    width among its children proportionally (:490-501), offsets are
    parent offset + intra-sibling cumulative sum.  Segment order within
    a layer follows callpath order (the reference's DFS-preorder frame
    order).
    """
    if min_depth is None:
        min_depth = len(prefix) + 1
    assert min_depth > len(prefix), min_depth

    base = _cct.at_paths(df, prefix=prefix)
    base = _cct.at_depths(base, min_depth,
                          max_depth if max_depth is not None else None)
    cols = [
        F.col("id"),
        F.col("callpath").alias("path"),
        F.col(column).cast("double").alias("v"),
    ]
    if label_col and label_col in df.columns:
        cols.append(F.col(label_col).alias("label"))
    else:
        cols.append(F.lit(None).cast("string").alias("label"))
    rows = base.select(*cols).collect()

    by_depth: dict[int, list] = {}
    for r in rows:
        by_depth.setdefault(len(r["path"]), []).append(r)
    for level in by_depth.values():
        level.sort(key=lambda r: tuple(r["path"]))

    layout: list[dict] = []
    geom: dict[int, tuple[float, float]] = {}
    depth = min_depth
    while depth in by_depth:
        level = by_depth[depth]
        new_geom: dict[int, tuple[float, float]] = {}
        if depth == min_depth:
            total = sum(r["v"] for r in level) or 1.0
            cum = 0.0
            for r in level:
                width = r["v"] / total * NORMALIZATION_CONSTANT
                new_geom[r["id"]] = (width, cum)
                layout.append({"id": r["id"], "depth": depth, "width": width,
                               "offset": cum, "label": r["label"]})
                cum += width
        else:
            by_parent: dict[int, list] = {}
            for r in level:
                by_parent.setdefault(r["path"][-2], []).append(r)
            for parent, items in by_parent.items():
                if parent not in geom:
                    continue  # parent not drawn (outside the layout)
                pw, po = geom[parent]
                total = sum(r["v"] for r in items) or 1.0
                cum = 0.0
                for r in items:
                    width = r["v"] / total * pw
                    new_geom[r["id"]] = (width, po + cum)
                    layout.append({"id": r["id"], "depth": depth,
                                   "width": width, "offset": po + cum,
                                   "label": r["label"]})
                    cum += width
        geom = new_geom
        depth += 1
    return layout


def flame_graph(
    df: DataFrame,
    column: str,
    prefix: Sequence[int] = (),
    min_depth: int | None = None,
    max_depth: int | None = None,
    shape: str = "rect",
    style: str = "flame",
    title: str = "",
    show: bool = True,
    label_col: str | None = "procedure",
    highlight=None,
):
    """Render the layout with matplotlib (reference :430-540 semantics:
    shapes rect/wheel, styles flame/skyline/mountains, label threshold
    pi/(depth - min_depth + 32)).

    ``highlight`` is accepted for signature parity with the reference
    (hpctoolkit_dataframe.py:433) and ignored exactly as the reference
    ignores it — the parameter is dead there (accepted, never read)."""
    try:
        import matplotlib
    except ImportError as e:  # rendering is optional; layout always works
        raise ImportError(
            "flame_graph rendering requires matplotlib (the layout is "
            "available without it via flame_layout)") from e
    matplotlib.use("Agg")
    import matplotlib.pyplot as plt
    import numpy as np

    assert shape in {"rect", "wheel"}, shape
    cmap_name = {"flame": "autumn", "skyline": "YlGnBu",
                 "mountains": "Greys"}.get(style, "tab20c")
    color_map = plt.get_cmap(cmap_name)

    if min_depth is None:
        min_depth = len(prefix) + 1
    layout = flame_layout(df, column, prefix, min_depth, max_depth, label_col)
    _, ax = plt.subplots(subplot_kw=dict(polar=shape == "wheel"),
                         figsize=(16, 16))
    thickness = 1
    by_depth: dict[int, list[dict]] = {}
    for seg in layout:
        by_depth.setdefault(seg["depth"], []).append(seg)
    for depth, segs in sorted(by_depth.items()):
        y = (depth - min_depth + 1) * thickness
        if style in ("flame", "skyline", "mountains"):
            colors = color_map(np.linspace(0, 1, len(segs)))
        else:
            colors = color_map(np.arange(len(segs)))
        ax.bar(x=[s["offset"] for s in segs], width=[s["width"] for s in segs],
               bottom=y, height=thickness, color=colors, edgecolor="w",
               linewidth=1, align="edge")
        for s in segs:
            if s["width"] < np.pi / (depth - min_depth + 32):
                continue  # label threshold, reference :523
            x = s["offset"] + s["width"] / 2
            rotation = x * 180 / np.pi - 90 if shape == "wheel" else 0
            ax.text(x=x, y=y + thickness * 0.2, s=s["label"] or "",
                    rotation=rotation, horizontalalignment="center",
                    verticalalignment="center")
    ax.set(title=title)
    ax.set_axis_off()
    if show:
        plt.show()
    return ax


def flame_svg(
    df: DataFrame,
    column: str,
    prefix: Sequence[int] = (),
    min_depth: int | None = None,
    max_depth: int | None = None,
    label_col: str | None = "procedure",
    width_px: int = 1200,
    row_px: int = 22,
    title: str = "",
) -> str:
    """Dependency-free flame-graph renderer: the same oracle-gated
    layout (`flame_layout` / cct_flame_widths geometry), emitted as a
    standalone SVG string — one <rect> per segment, labels drawn above
    the reference's width threshold (pi/(depth - min_depth + 32),
    hpctoolkit_dataframe.py:516-518).  Exists because the matplotlib
    sink (`flame_graph`) is environment-optional; this renderer needs
    only the standard library, so the figure-sink surface (reference
    S6) is exercisable everywhere.  Colors cycle a fixed warm palette
    deterministically by segment index — output is byte-stable for a
    given frame."""
    import html
    import math

    if min_depth is None:
        min_depth = len(prefix) + 1
    layout = flame_layout(df, column, prefix, min_depth, max_depth, label_col)
    palette = ["#e6550d", "#fd8d3c", "#fdae6b", "#fdd0a2",
               "#d94801", "#f16913"]
    scale = width_px / NORMALIZATION_CONSTANT
    depths = [s["depth"] for s in layout] or [min_depth]
    height_px = (max(depths) - min_depth + 1) * row_px + row_px
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width_px}" '
        f'height="{height_px}" font-family="monospace" font-size="11">',
        f"<title>{html.escape(title or column)}</title>",
    ]
    for i, seg in enumerate(layout):
        x = seg["offset"] * scale
        w = seg["width"] * scale
        # stack grows upward like the reference's bar chart
        y = height_px - (seg["depth"] - min_depth + 1) * row_px
        color = palette[i % len(palette)]
        label = seg["label"] or ""
        parts.append(
            f'<rect x="{x:.3f}" y="{y}" width="{w:.3f}" '
            f'height="{row_px}" fill="{color}" stroke="#fff">'
            f"<title>{html.escape(label)} ({seg['width']:.6f})</title>"
            "</rect>")
        threshold = math.pi / (seg["depth"] - min_depth + 32)
        if label and seg["width"] > threshold:
            parts.append(
                f'<text x="{x + 2:.3f}" y="{y + row_px - 7}" '
                f'fill="#000">{html.escape(label[:int(w // 7) or 1])}'
                "</text>")
    parts.append("</svg>")
    return "\n".join(parts)

