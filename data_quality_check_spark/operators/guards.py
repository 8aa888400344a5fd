"""Shared plan guards: the rank-cap skew warning and the pushdown barrier.

The repo's hot-key discipline (CLAUDE.md) rests on Catalyst's PARTIAL
WindowGroupLimit: a `row_number() <= cap` filter gets a map-side
pre-trim ONLY while cap <= spark.sql.optimizer.windowGroupLimitThreshold
(default 1000). Above it, the optimization silently disappears and every
hot key ships (and sorts) its whole population in one partition — the
exact failure mode the caps exist to avoid. Operators that accept a
user-supplied cap call warn_window_cap() so an override past the
threshold is loud (r4 ADVICE)."""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, functions as F

WINDOW_GROUP_LIMIT_THRESHOLD = 1000


def warn_window_cap(param: str, value: int,
                    threshold: int = WINDOW_GROUP_LIMIT_THRESHOLD) -> None:
    if value > threshold:
        warnings.warn(
            f"{param}={value} exceeds Spark's "
            f"windowGroupLimitThreshold ({threshold}): the map-side "
            "partial WindowGroupLimit will NOT fire, so each hot key "
            "ships its full population to one partition's sort — raise "
            "spark.sql.optimizer.windowGroupLimitThreshold to match, or "
            f"keep {param} <= {threshold}",
            stacklevel=3)


def barrier_filter(df: DataFrame, cond: Column) -> DataFrame:
    """`df.filter(cond)` pinned ABOVE the projections computing `cond`.

    PushDownPredicates substitutes aliases while pushing a filter below a
    deterministic Project, re-expanding every heavy expression `cond`
    reads (qf_ruleset_diff: 58 split() vs 2; a UDF runs twice per row).
    A nondeterministic conjunct alone still pushes — the rule checks only
    the PROJECT FIELDS — so `_nd` (spark_partition_id, always >= 0) is a
    project field the filter references. The `_nd` column is kept;
    callers select their output columns after it."""
    return (df.withColumn("_nd", F.spark_partition_id())
            .filter(F.when(F.col("_nd") >= 0, cond).otherwise(F.lit(False))))
