"""Skew-aware aggregation: salted two-phase groupBy (SURVEY.md §2 G3).

AQE's skew handling splits skewed *join* partitions but does not salt
``groupBy`` keys; hub entities (a handful of canonical ids carrying a large
share of all triples) therefore need explicit two-phase aggregation:

    phase 1: groupBy(key, salt) — partial aggregates spread over S partitions
    phase 2: groupBy(key)       — S partials per key combined

For algebraic aggregates (count/sum/min/max) Spark's own partial aggregation
(hash-agg map side) already does this *within* a partition; salting
additionally breaks the reduce-side hotspot when one key exceeds a single
task's share. The salt is deterministic (hash of stable columns), keeping
runs reproducible.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    salt_cols: Sequence[str],
    n_salts: int = 32,
    count_alias: str = "cnt",
) -> DataFrame:
    """Two-phase count by ``keys``; salt derived from ``salt_cols`` hashes."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count("*").alias("__partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("__partial").alias(count_alias))


def repartition_salted(
    df: DataFrame, key: str, salt_source: str, n_partitions: int, n_salts: int = 8
) -> DataFrame:
    """Salted repartition for hot keys: co-partitions by (key, salt) so one
    hot key spreads over ``n_salts`` partitions (north-rule skew clause)."""
    return df.repartition(
        n_partitions,
        F.col(key),
        F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)),
    )
