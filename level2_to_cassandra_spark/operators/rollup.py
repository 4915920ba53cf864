"""Mergeable fixed-grid histogram partials (the re-aggregatable
quantile layer of the rollup cascade — SURVEY.md §2 B4/B9).

ONE implementation of the grid shared by the batch query
(queries/timeseries.py::q_rollup_quantile) and the streaming
continuous-aggregate maintenance step
(streaming/monitor.py::grid_rollup_step), so the stored
partial format and the bound derivation cannot drift between the two
paths.  The partial state per (minute, key, bin) is (count, min, max):
counts merge by SUM, extremes by MIN/MAX — exactly mergeable under ANY
grouping of the input rows, which is what makes a per-micro-batch
append journal equivalent to the one-shot batch aggregate (proven by
the stream/batch parity test over arbitrary, non-time-aligned batch
splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: fixed-grid histogram resolution / bin width: 64 bins of width 16
#: cover [0, 1024); edge values clamp into the first/last bin, which
#: stays lossless for BOUNDS because each bin carries its own exact
#: data min/max.
GRID_BINS = 64
GRID_W = 16.0


def grid_bin(value_col: str = "value"):
    """Clamped integer grid bin of a value column."""
    return F.least(
        F.greatest(F.floor(F.col(value_col) / GRID_W), F.lit(0)),
        F.lit(GRID_BINS - 1),
    ).cast("long")


def minute_grid_partials(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """The STORED rollup: per (minute, key, bin) → (pn, vmin, vmax).
    One map-side-combined aggregate — the only row-scale exchange in
    the whole quantile-serving path.

    NULL/NaN values are excluded UP FRONT (the q_outlier_iqr
    convention, self-review r15): Spark's ``greatest`` skips NULLs, so
    an unguarded grid_bin would count a NULL value into bin 0's pn
    while min/max ignored it — phantom rows at the low end that shift
    every rank walk while the exact-percentile verification leg
    excludes them.  Callers' exact legs must exclude identically."""
    clean = df.where(
        F.col(value_col).isNotNull() & ~F.isnan(value_col)
    )
    return clean.groupBy(
        F.date_trunc("minute", ts_col).alias("minute"),
        F.col(key_col).alias("key"),
        grid_bin(value_col).alias("bin"),
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


#: grains date_trunc supports that make sense over minutely partials —
#: a typo'd grain would otherwise yield NULL from date_trunc and
#: silently collapse every partial into one all-time bucket per key
#: (self-review r15: a plausible-looking wrong answer, not an error)
VALID_GRAINS = frozenset(
    {"minute", "hour", "day", "week", "month", "quarter", "year"}
)


def grid_quantile_bounds(partials: DataFrame, grain: str = "hour") -> DataFrame:
    """(grain-bucket, key) → n, p50_lo/hi, p95_lo/hi from PARTIALS
    ONLY — no raw-row access.  The quantile's 0-based interpolation
    ranks (floor/ceil of p·(n−1), the quantile_cont/percentile
    definition) are walked down the merged cumulative histogram and
    bracketed by the owning bin's exact data [min, max].  Everything
    after the partial merge runs on the GRID-sized relation
    (#buckets × #keys × GRID_BINS — corpus-independent)."""
    if grain.lower() not in VALID_GRAINS:
        raise ValueError(
            f"grain must be one of {sorted(VALID_GRAINS)}, got {grain!r} "
            "(date_trunc would return NULL and silently collapse every "
            "partial into one all-time bucket)"
        )
    hist = partials.groupBy(
        F.date_trunc(grain, "minute").alias("bucket"), "key", "bin"
    ).agg(
        F.sum("pn").alias("nb"),
        F.min("vmin").alias("bmin"),
        F.max("vmax").alias("bmax"),
    )
    w_bk = Window.partitionBy("bucket", "key")
    w_cum = w_bk.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("n", F.sum("nb").over(w_bk)).withColumn(
        "cb", F.coalesce(F.sum("nb").over(w_cum), F.lit(0))
    )

    def _bounds(p: float, tag: str) -> list:
        rank = F.lit(p) * (F.col("n") - 1).cast("double")
        in_lo = (F.floor(rank) >= F.col("cb")) & (
            F.floor(rank) < F.col("cb") + F.col("nb")
        )
        in_hi = (F.ceil(rank) >= F.col("cb")) & (
            F.ceil(rank) < F.col("cb") + F.col("nb")
        )
        return [
            F.min(F.when(in_lo, F.col("bmin"))).alias(f"{tag}_lo"),
            F.max(F.when(in_hi, F.col("bmax"))).alias(f"{tag}_hi"),
        ]

    return cum.groupBy("bucket", "key").agg(
        F.max("n").cast("long").alias("n"),
        *_bounds(0.5, "p50"),
        *_bounds(0.95, "p95"),
    )
