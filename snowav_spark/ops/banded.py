"""Banded zonal statistics — the heart of the reference's day loop.

Reference parity: ref:snowav/framework/process.py digitizes the DEM into
elevation bands (``np.digitize(dem, edges)``), then for every (date, basin
mask, variable) computes masked vectorized aggregates per band plus a
synthetic ``'total'`` row for the whole mask, applying unit conversions
(mm→in, mm·px→TAF) at compute time.

Spark-first design: the whole loop collapses into ONE declarative plan —

    scan → (optional broadcast-join of the topo dim) → digitize (pure
    column arithmetic, stays in whole-stage codegen) → groupBy ROLLUP →
    many aggregates in a single agg() (ONE shuffle)

``ROLLUP(zone, band)`` produces the per-band rows and the whole-zone
"total" rows in the same shuffle — the reference computes these in two
separate numpy passes.  At 100 TB the rollup is a single hash aggregation
with map-side partial aggregation; no second scan, no second shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def digitize(value: Column, edges: Sequence[float]) -> Column:
    """``np.digitize(value, edges)`` as a Catalyst expression chain.

    Returns the 0-based band index with the reference's clamping semantics:
    values below ``edges[0]`` land in band 0, values ≥ ``edges[-1]`` land in
    the last band.  Pure ``when`` arithmetic — no UDF, stays in codegen, and
    is trivially translatable to ANSI CASE for the DuckDB oracle (which
    lacks ``width_bucket`` in 1.0.0).
    """
    if len(edges) < 2:
        raise ValueError("need at least two band edges")
    # Chained WHEN, highest edge first → first match wins; values ≥ the last
    # edge clamp into the final band, values < edges[0] fall to band 0.
    col = None
    for i in range(len(edges) - 2, -1, -1):
        cond = value >= F.lit(edges[i])
        col = F.when(cond, F.lit(i)) if col is None else col.when(cond, F.lit(i))
    return col.otherwise(F.lit(0)).cast("int")


def digitize_uniform(value: Column, step: float, n_bands: int) -> Column:
    """Uniform-width banding: ``least(floor(value/step), n_bands-1)``.

    The fixture analog used throughout the contract queries (SURVEY §2:
    elevation band ↔ ``least(floor(l_quantity/5), 9)``).  One arithmetic
    expression — cheaper than the general ``digitize`` chain when edges are
    uniform, which they are in the reference's default config.
    """
    return F.least(F.floor(value / F.lit(step)), F.lit(n_bands - 1)).cast("int")


def zonal_stats(
    df: DataFrame,
    zone: str | Column,
    band: str | Column,
    aggs: dict[str, Column],
    rollup: bool = False,
) -> DataFrame:
    """Zonal statistics per (zone, band), optionally with rollup totals.

    ``aggs`` maps output column name → aggregate expression; all aggregates
    run in a single ``agg()`` so the plan has exactly one shuffle with
    map-side partial aggregation (the reference computes each in its own
    numpy pass).

    With ``rollup=True`` the output additionally contains the synthetic
    whole-zone and grand-total rows (band/zone NULL), matching the
    reference's ``'total'`` row semantics via GROUP BY ROLLUP.
    """
    zone_col = F.col(zone) if isinstance(zone, str) else zone
    band_col = F.col(band) if isinstance(band, str) else band
    exprs = [c.alias(name) for name, c in aggs.items()]
    grouped = (
        df.rollup(zone_col.alias("zone"), band_col.alias("band"))
        if rollup
        else df.groupBy(zone_col.alias("zone"), band_col.alias("band"))
    )
    return grouped.agg(*exprs)


# Unit conversions the reference applies at compute time
# (ref:snowav/framework/process.py; SURVEY.md §1.3).
MM_TO_IN = 0.03937


def depth_in(depth_mm: Column) -> Column:
    """Depth in inches from mm (reference's display unit for SWE/depth)."""
    return depth_mm * F.lit(MM_TO_IN)
