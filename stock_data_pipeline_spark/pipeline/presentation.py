"""Presentation-edge frames — SURVEY.md §2 B6 (chart sink), W4/F7.

The reference renders plotly JPEGs of (a) calculated sector price levels
and (b) percent change vs the start of a trailing N-day window
(sectors.py:134-265). The engine's job is the chart-ready frame; these
helpers produce exactly the frames those charts consume. Since r04 the
sink is complete in-repo: :func:`write_chart_sink` renders the wide
frame to an SVG line chart with a dependency-free stdlib renderer
(:func:`render_line_chart_svg`) — no plotly required, so B6 runs
end-to-end in this sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_data_pipeline_spark.operators.topn import tail_n
from stock_data_pipeline_spark.operators.windows import pct_vs_first


def sector_price_levels(history: DataFrame) -> DataFrame:
    """(date, sector, calc_price) → wide (date, one column per sector) —
    the levels chart input (sectors.py:134-165). The pivot has no values
    list, so building this frame runs a Spark job to find the sectors."""
    return (
        history.groupBy("date")
        .pivot("sector")
        .agg(F.first("calc_price"))
        .orderBy("date")
    )


def percent_change_frame(history: DataFrame, days: int) -> DataFrame:
    """Percent change vs the first day of the trailing ``days`` window,
    per sector (sectors.py:167-204: tail-N slice then
    (p − p₀)/p₀ × 100). Returns long (date, sector, pct_change);
    pivot with :func:`sector_price_levels`-style call for the wide
    chart shape."""
    tail = tail_n(history, "date", days, partition_by=["sector"])
    out = pct_vs_first(
        tail, "calc_price", ["sector"], [F.col("date")], out_name="pct_change"
    )
    return out.select("date", "sector", "pct_change")


def render_line_chart_svg(
    pdf,
    x_col: str,
    y_cols: list[str] | None = None,
    title: str = "",
    width: int = 960,
    height: int = 480,
) -> str:
    """B6 chart sink, renderer included: a dependency-free SVG line
    chart of a collected presentation frame (pandas DataFrame — these
    frames are date × sector, tiny by construction; the reference's
    plotly JPEG render at sectors.py:134-204 is replaced by stdlib
    string assembly, so the whole sink runs in this sandbox).

    One polyline per y column, linear x over row order (the frames
    arrive date-sorted), shared y scale with 5% headroom, axis
    labels at min/max, and a legend. NULL points break the line into
    segments (matching how plotting libraries gap missing data).
    """
    from xml.sax.saxutils import escape as _esc

    def escape(s: str) -> str:
        # saxutils.escape leaves double quotes alone; these strings land
        # inside attribute values, so '"' must become &quot;
        return _esc(s, {'"': "&quot;"})

    y_cols = y_cols or [c for c in pdf.columns if c != x_col]
    ml, mr, mt, mb = 60, 140, 30, 40
    iw, ih = width - ml - mr, height - mt - mb
    vals = [
        float(v)
        for c in y_cols
        for v in pdf[c]
        if v is not None and v == v  # drop None/NaN
    ]
    lo, hi = (min(vals), max(vals)) if vals else (0.0, 1.0)
    pad = (hi - lo) * 0.05 or 1.0
    lo, hi = lo - pad, hi + pad
    n = len(pdf)
    palette = [
        "#4e79a7", "#f28e2b", "#e15759", "#76b7b2", "#59a14f", "#edc948",
        "#b07aa1", "#ff9da7", "#9c755f", "#bab0ac", "#86bcb6",
    ]

    def xpix(i: int) -> float:
        return ml + (iw * i / max(n - 1, 1))

    def ypix(v: float) -> float:
        return mt + ih * (1 - (v - lo) / (hi - lo))

    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}" font-family="sans-serif" font-size="11">',
        f'<rect width="{width}" height="{height}" fill="white"/>',
        f'<text x="{ml}" y="18" font-size="14">{escape(title)}</text>' if title else "",
        f'<line x1="{ml}" y1="{mt}" x2="{ml}" y2="{mt + ih}" stroke="#333"/>',
        f'<line x1="{ml}" y1="{mt + ih}" x2="{ml + iw}" y2="{mt + ih}" stroke="#333"/>',
        f'<text x="{ml - 6}" y="{mt + 4}" text-anchor="end">{hi:.2f}</text>',
        f'<text x="{ml - 6}" y="{mt + ih + 4}" text-anchor="end">{lo:.2f}</text>',
    ]
    if n:
        parts.append(
            f'<text x="{ml}" y="{height - 10}">{escape(str(pdf[x_col].iloc[0]))}</text>'
        )
        parts.append(
            f'<text x="{ml + iw}" y="{height - 10}" text-anchor="end">'
            f"{escape(str(pdf[x_col].iloc[-1]))}</text>"
        )
    for si, c in enumerate(y_cols):
        color = palette[si % len(palette)]
        segs: list[list[str]] = [[]]
        for i, v in enumerate(pdf[c]):
            if v is None or v != v:
                if segs[-1]:
                    segs.append([])
                continue
            segs[-1].append(f"{xpix(i):.1f},{ypix(float(v)):.1f}")
        for seg in segs:
            if len(seg) >= 2:
                parts.append(
                    f'<polyline fill="none" stroke="{color}" stroke-width="1.5" '
                    f'points="{" ".join(seg)}" data-series="{escape(c)}"/>'
                )
        ly = mt + 14 * si
        parts.append(
            f'<rect x="{ml + iw + 10}" y="{ly}" width="10" height="10" fill="{color}"/>'
            f'<text x="{ml + iw + 24}" y="{ly + 9}">{escape(c)}</text>'
        )
    parts.append("</svg>")
    return "".join(p for p in parts if p)


def write_chart_sink(
    df: DataFrame, path: str, x_col: str = "date", title: str = ""
) -> None:
    """B6 — the full chart sink: collect the (small, presentation-edge)
    wide frame and write an SVG file (sectors.py:134-204's
    write_image, without plotly). The frame is the product of
    :func:`sector_price_levels` / a pivoted
    :func:`percent_change_frame`; anything date-sorted and wide
    renders."""
    pdf = df.toPandas()
    svg = render_line_chart_svg(pdf, x_col, title=title)
    with open(path, "w") as f:
        f.write(svg)
