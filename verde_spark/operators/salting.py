"""Explicit skew handling for dense-cell aggregation.

At 10^12 rows a viral page cluster makes some cells orders of magnitude
denser than others. Algebraic reductions (mean/sum/min/max/var) are
already safe — map-side partial aggregation bounds any key's shuffle
contribution at one row per task — but *holistic* reductions (exact
median/percentiles) buffer every value of a key in one reducer. This
module provides the two-level salted forms:

* ``salted_agg`` — groupBy(key, salt) partial → groupBy(key) final, for
  algebraic aggregates expressed as (partial exprs, final combiner). Use
  when AQE is off or a single hot key must be split *within* one stage.
* ``salted_median`` — per-(key, salt) ``percentile_approx`` sketches are
  not mergeable in SQL, so the salted median materializes per-salt sorted
  value arrays only for the *hot* keys (detected by a count pre-pass) and
  computes exact medians from the merged arrays; cold keys take the
  ordinary exact ``median`` path. The hot-key shuffle spreads over
  ``n_salts`` reducers instead of one.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16, salt_col: str = "salt") -> DataFrame:
    """Uniform DETERMINISTIC salt in [0, n_salts) — spreads a hot key
    over n_salts shuffle partitions.

    The salt is ``xxhash64`` over the row's full column set, NOT
    ``rand()``: a seeded ``rand`` is only reproducible for a fixed
    row-order-per-partition, which upstream shuffles do not guarantee —
    on a task retry after executor loss the recomputed rows can draw
    DIFFERENT salts than the first attempt, and reducers that fetched a
    mix of attempt outputs silently double-count or drop rows (the
    SPARK-23207 failure class).  Content-hashing keeps retries
    bit-identical and never affects correctness.

    Degradation: rows that are identical in every column share one salt,
    so a hot key spreads over at most as many salts as it has distinct
    rows.  A hot key whose other columns have low cardinality (say, a
    value column with a handful of levels and no row id) stays
    concentrated on those few salts; add a distinguishing column such as
    a row id before salting when that matters."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn(salt_col, F.pmod(h, F.lit(n_salts)).cast("int"))


def salted_mean(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 16,
    weight: Optional[str] = None,
) -> DataFrame:
    """Two-level (weighted) mean: groupBy(key, salt) partial sums →
    groupBy(key) final. Output: (key, mean, n)."""
    w = F.col(weight) if weight else F.lit(1.0)
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(key, "salt").agg(
        F.sum(w * F.col(value)).alias("__swv"),
        F.sum(w).alias("__sw"),
        F.count(F.lit(1)).alias("__n"),
    )
    return partial.groupBy(key).agg(
        (F.sum("__swv") / F.sum("__sw")).alias("mean"),
        F.sum("__n").alias("n"),
    )


def salted_median(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 16,
    hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Exact per-key median with hot-key salting.

    Keys with ≤ hot_threshold rows use the native exact ``median`` (their
    reducer buffer is bounded). Hot keys are salted: each (key, salt)
    group sorts its own slice into an array, the ≤ n_salts arrays merge in
    the final reducer, and the median indexes the merged sorted array —
    the big sort happens distributed, only the merged array (still the
    key's full value set, but arriving presorted in n_salts chunks)
    touches one reducer. For a truly unbounded key, switch to
    ``percentile_approx`` instead — exactness has a floor cost.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    hot_keys = counts.filter(F.col("__n") > hot_threshold).select(key)
    cold = df.join(F.broadcast(hot_keys), key, "left_anti")
    hot = df.join(F.broadcast(hot_keys), key, "left_semi")

    cold_out = cold.groupBy(key).agg(F.median(value).alias("median"))

    salted = with_salt(hot, n_salts)
    partial = salted.groupBy(key, "salt").agg(
        F.sort_array(F.collect_list(value)).alias("__vals")
    )
    merged = partial.groupBy(key).agg(
        F.sort_array(F.flatten(F.collect_list("__vals"))).alias("__all")
    )
    n = F.size("__all")
    lo = F.element_at("__all", ((n + 1) / 2).cast("int"))
    hi = F.element_at("__all", (n / 2 + 1).cast("int"))
    hot_out = merged.select(
        F.col(key),
        # n = 0 (a hot key whose values are all NULL — collect_list
        # drops them): the cold path's F.median would return NULL; the
        # index arithmetic would instead crash on element_at(·, 0)
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, lo)
        .otherwise((lo + hi) / 2.0)
        .alias("median"),
    )
    return cold_out.unionByName(hot_out)
