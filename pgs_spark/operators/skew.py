"""Explicit skew handling: salted two-stage aggregations and the skew ratio.

Power-law graphs make hub vertices the common case (the synthetic corpus draws
import targets from a Zipf law on purpose). AQE's skew-join splitting handles
the *join* side at runtime, but a gather-side ``groupBy`` whose hub key lands
in one shuffle partition can still benefit from explicit salting of its final
aggregation. PageRank's salted hash join for hub out-degree lives in
operators/pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(key: Column, buckets: int, tag: str = "salt") -> Column:
    """Deterministic salt in [0, buckets): derived from the row's own content
    (never rand() — determinism discipline of PGS_Conversion.java:1087-1088)."""
    return F.pmod(F.xxhash64(key, F.lit(tag)), F.lit(buckets)).cast("int")


def salted_sum(
    df: DataFrame, key: str, value: str, buckets: int, salt_from: str | None = None
) -> DataFrame:
    """Two-stage aggregation: groupBy(key, salt) partial sums → groupBy(key).

    Spark's hash aggregate already map-side-combines, but when one key's rows
    land in one shuffle partition the *final* agg task is still hot; the salt
    spreads the final agg of hub keys across `buckets` tasks first. The salt
    must NOT be a function of the key alone (that would map a key to a single
    bucket); default is the upstream partition id."""
    if salt_from:
        salt = salt_col(F.col(salt_from), buckets)
    else:
        salt = F.pmod(F.spark_partition_id(), F.lit(buckets)).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(value))


def salted_sum_flagged(
    df: DataFrame, key: str, value: str, buckets: int, flag_col: str
) -> DataFrame:
    """Heavy-hitter-split two-stage sum in ONE pass over `df`.

    Rows whose `flag_col` is true (pre-marked heavy keys) get a
    partition-derived salt so their final aggregation spreads across
    `buckets` tasks; cold rows get salt 0, making their first stage exactly
    the plain map-side-combine plan. The second stage then sums at most
    `buckets` partial rows per key — |distinct keys| rows total, trivially
    cheap next to the |rows| first stage. Unlike filtering df into hot/cold
    branches, the input is scanned once (a join output feeding two branches
    would execute twice)."""
    salt = F.when(
        F.col(flag_col), F.pmod(F.spark_partition_id(), F.lit(buckets))
    ).otherwise(F.lit(0)).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(value))


def skew_ratio(df: DataFrame, key: str) -> float:
    """max/mean rows per key — the per-iteration skew metric the manifests
    record (north rule: iteration metrics include skew ratio)."""
    row = (
        df.groupBy(key)
        .count()
        .select(F.max("count").alias("mx"), F.avg("count").alias("avg"))
        .first()
    )
    if not row or not row["avg"]:
        return 1.0
    return float(row["mx"]) / float(row["avg"])
