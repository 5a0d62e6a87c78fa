"""Z-score scaling of numeric features, fitted on TRAIN (A4, SURVEY.md
§2.4).

The reference *documents* this for IntegerInput/FloatInput
(/root/reference/README.md:304-312) but never implements it
(beam_pipeline.py:128-129 passes them through; TODO at types.py:66). The
engine implements it behind an explicit option (default off, matching the
reference's actual behavior).

Semantics pinned for the oracle: population standard deviation
(``stddev_pop``, matching TFT's scale_to_z_score), computed on TRAIN only,
applied to all splits; zero-variance columns scale to 0.0.

Scale design: the fit is a single map-side-combinable aggregate over
TRAIN producing one tiny row (mean, stddev per column) that enters the
plan as literals — no join, no shuffle on the apply side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..constants import TRAIN


def fit_scale_stats(
    train_df: DataFrame, columns: list[str]
) -> dict[str, tuple[float, float]]:
    """Compute (mean, stddev_pop) per column over TRAIN. One aggregate job,
    one collected row — safe at any scale."""
    if not columns:
        return {}
    return scale_stats_from_row(train_df.agg(*scale_aggregates(columns)).collect()[0], columns)


def scale_aggregates(columns: list[str], where: Column | None = None) -> list[Column]:
    """The (mean, stddev_pop) aggregate of each column, over the rows
    matching ``where`` (all rows if None). Both aggregates skip nulls, so
    ``avg(when(where, c))`` over a frame equals ``avg(c)`` over the
    filtered frame bit for bit: same rows, same order."""
    aggs = []
    for c in columns:
        value = F.col(c) if where is None else F.when(where, F.col(c))
        aggs.append(F.avg(value).alias(f"__mean_{c}"))
        aggs.append(F.stddev_pop(value).alias(f"__std_{c}"))
    return aggs


def scale_stats_from_row(row, columns: list[str]) -> dict[str, tuple[float, float]]:
    """Read :func:`scale_aggregates`' results out of a collected row."""
    return {c: (row[f"__mean_{c}"], row[f"__std_{c}"]) for c in columns}


def apply_scale(
    df: DataFrame, stats: dict[str, tuple[float, float]]
) -> DataFrame:
    """Apply z-score scaling as literal arithmetic (whole-stage codegen;
    no UDF, no join)."""
    out = df
    for c, (mean, std) in stats.items():
        if mean is None:
            continue
        if not std:  # zero variance (or single row): define z = 0.0
            out = out.withColumn(c, F.lit(0.0))
        else:
            out = out.withColumn(c, (F.col(c) - F.lit(mean)) / F.lit(std))
    return out


def fit_and_apply_scale(
    df: DataFrame,
    columns: list[str],
    split_key: str = "split",
    train_value: str = TRAIN,
) -> tuple[DataFrame, dict[str, tuple[float, float]]]:
    """Fit on the TRAIN subset, apply to the whole frame (A3 semantics)."""
    stats = fit_scale_stats(df.where(F.col(split_key) == train_value), columns)
    return apply_scale(df, stats), stats


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
) -> DataFrame:
    """Percentile clipping (winsorization): cap ``value_col`` at the
    exact interpolated [lower_q, upper_q] quantiles, optionally per
    ``group_col`` — the outlier-robust cousin of the A4 z-score scaler
    (heavy-tailed reward/value features get clipped, not dropped).

    Scale shape: the quantile fit is ONE aggregation — per group it is
    partial-aggregated by the group key; the clip applies via a
    broadcast join of the tiny per-group bounds table (group
    cardinality rows), so the fact table never shuffles. Exact
    interpolated ``percentile`` matches the SQL oracle's
    ``quantile_cont`` bit-for-bit on the same input set.

    Output: the input columns plus ``<value_col>_wins`` (double,
    rounded 6).
    """
    if not 0.0 <= lower_q < upper_q <= 1.0:
        raise ValueError(
            f"need 0 <= lower_q < upper_q <= 1, got ({lower_q}, {upper_q})"
        )
    from pyspark.sql.functions import broadcast

    lo = F.expr(f"percentile({value_col}, {lower_q})").alias("__lo")
    hi = F.expr(f"percentile({value_col}, {upper_q})").alias("__hi")
    if group_col is None:
        bounds = df.select(lo, hi)
        joined = df.crossJoin(broadcast(bounds))
    else:
        bounds = df.groupBy(group_col).agg(lo, hi)
        joined = df.join(broadcast(bounds), group_col)
    clipped = F.round(
        F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")), 6
    )
    return joined.withColumn(f"{value_col}_wins", clipped).drop("__lo", "__hi")
