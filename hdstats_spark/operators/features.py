"""Change / complexity features as pure built-in column expressions.

The lag-based kernels of ts.pyx:195-219 are fully SQL-expressible, so they
run JVM-side inside whole-stage codegen — no Python in the hot path:

  * mean_change       = avg(v − lag(v))            (ts.pyx:195-196)
  * median_change     = median(v − lag(v))         (ts.pyx:199-200)
  * mean_abs_change   = avg(|v − lag(v)|)          (ts.pyx:203-204)
  * mean_central_diff = avg((lag − 2v + lead)/2)   (ts.pyx:207-209, interior)
  * complexity        = Σ z'² of the z-normalized series (population σ,
                        ts.pyx:212-219)

All share one window spec → one shuffle on the series key.  ``symmetry``
(ts.pyx:231-243) is the same kind of kernel: per-channel means, an
equi-join onto the geomedian composite and cosine arithmetic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import CHANNELS


def change_features(
    df: DataFrame,
    value_col: str,
    order_col: str = "bucket",
    key_col: str = "conv_id",
) -> DataFrame:
    """All lag-based features in one pass: returns one row per series."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col).cast("double")
    diff = v - F.lag(v).over(w)
    central = (F.lag(v).over(w) - 2 * v + F.lead(v).over(w)) / 2.0

    staged = df.select(
        key_col,
        v.alias("_v"),
        diff.alias("_d"),
        central.alias("_c"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(key_col)).alias("_n"),
    )
    # interior rows only for the central difference (ts.pyx:209 slices 1:-1)
    staged = staged.withColumn(
        "_c", F.when((F.col("_rn") > 1) & (F.col("_rn") < F.col("_n")), F.col("_c"))
    )
    return staged.groupBy(key_col).agg(
        F.avg("_d").alias("mean_change"),
        F.median("_d").alias("median_change"),
        F.avg(F.abs(F.col("_d"))).alias("mean_abs_change"),
        F.avg("_c").alias("mean_central_diff"),
    )


def complexity(
    df: DataFrame,
    value_col: str,
    order_col: str = "bucket",
    key_col: str = "conv_id",
    normalize: bool = True,
) -> DataFrame:
    """Σ of squared diffs of the (optionally z-normalized) series
    (ts.pyx:212-219; σ is population std, matching np.std)."""
    wk = Window.partitionBy(key_col)
    w = Window.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col).cast("double")
    if normalize:
        # constant series → σ=0 → NULL (reference yields NaN via 0/0,
        # ts.pyx:215); try_divide keeps ANSI mode on without aborting
        z = F.try_divide(v - F.avg(v).over(wk), F.stddev_pop(v).over(wk))
    else:
        z = v
    d = z - F.lag(z).over(w)
    return (
        df.select(key_col, d.alias("_d"))
        .groupBy(key_col)
        .agg(F.sum(F.col("_d") * F.col("_d")).alias("complexity"))
    )


def symmetry_agg(
    tier_df: DataFrame,
    gm_df: DataFrame,
    channels: Sequence[str] = CHANNELS,
) -> DataFrame:
    """Reference ``symmetry`` (ts.pyx:231-243): cosine distance between each
    conversation's time-mean channel vector and its geomedian composite.
    Pure built-in expressions: per-channel avg, equi-join, arithmetic.

    The gm join is UNHINTED: the composite has one row per conversation, so
    a forced broadcast grows linearly with the corpus; both sides are keyed
    on conv_id, so a shuffled join co-partitions, and AQE still broadcasts
    when small."""
    means = tier_df.groupBy("conv_id").agg(
        *[F.avg(F.col(c).cast("float")).alias(f"mm_{c}") for c in channels]
    )
    j = means.join(gm_df, "conv_id")
    numer = sum((F.col(f"mm_{c}") * F.col(f"gm_{c}") for c in channels[1:]),
                F.col(f"mm_{channels[0]}") * F.col(f"gm_{channels[0]}"))
    norma = sum((F.col(f"mm_{c}") * F.col(f"mm_{c}") for c in channels[1:]),
                F.col(f"mm_{channels[0]}") * F.col(f"mm_{channels[0]}"))
    normb = sum((F.col(f"gm_{c}") * F.col(f"gm_{c}") for c in channels[1:]),
                F.col(f"gm_{channels[0]}") * F.col(f"gm_{channels[0]}"))
    return j.select(
        "conv_id",
        (F.lit(1.0) - F.try_divide(numer, F.sqrt(norma) * F.sqrt(normb)))
        .cast("float")
        .alias("symmetry"),
    )
