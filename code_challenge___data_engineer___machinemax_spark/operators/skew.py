"""Skew mitigation utilities.

AQE's skew-join handling (enabled in session.py) covers moderate skew at
runtime; these are the explicit escape hatches for pathological keys:

- ``salted_aggregate``: two-phase aggregation — pre-aggregate on
  (key, salt) so no single reducer owns a hot key, then merge partials.
  Correct for any algebraic aggregate (sum/count/min/max).
- ``salted_broadcast_left``: replicate the small side across salts for a
  skew-proof equi-join when the build side fits in memory anyway (the
  broadcast hint usually wins; this is for when the probe side's hot key
  must still spread across partitions for the downstream stage).
- ``_drop_hot_keys``: the bounded-pair-generation guard every bucketed
  self-join calls before it fans out: the banded generators' one
  collision join ``dedup._bucket_pairs`` (MinHash/SimHash/SRP band
  buckets), prefix-filter tokens and k-means clusters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output name -> (merge_fn_name, partial_expr) where
    merge_fn_name is 'sum'|'min'|'max' (how partials combine) and
    partial_expr is the phase-1 aggregate expression. count merges as sum.

    Example::

        salted_aggregate(events, ["event_type"],
                         {"n": ("sum", F.count("*")),
                          "v": ("sum", F.sum("value")),
                          "mx": ("max", F.max("value"))})
    """
    salted = df.withColumn("__salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salts)))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, (_, expr) in aggs.items()]
    )
    merge = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    return partial.groupBy(*keys).agg(
        *[merge[how](f"__p_{name}").alias(name) for name, (how, _) in aggs.items()]
    )


def salted_broadcast_left(
    big: DataFrame, small: DataFrame, key: str, salts: int = 8
) -> DataFrame:
    """Equi-join where ``big``'s hot keys are spread over ``salts``
    partitions: big rows get a random salt, small rows are replicated once
    per salt value, and the join key becomes (key, salt)."""
    big_s = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salts)).cast("int")
    )
    small_s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salts).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    return big_s.join(small_s, [key, "__salt"]).drop("__salt")


def _drop_hot_keys(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop every row whose ``keys`` group holds more than ``cap`` rows.

    A bucket of B rows makes B^2 self-join output, so one boilerplate
    bucket can dominate a whole pair-generation stage at scale. The hot
    list is a partially-aggregated count — tiny by construction — and is
    broadcast into a left-anti join, so the guard is deterministic and adds
    no shuffle of the big side. ``cap=None`` returns ``df`` unchanged."""
    if cap is None:
        return df
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")
