"""Explicit skew handling: salted two-phase aggregation.

AQE's skew-join splitting (enabled in session.py, precedent:
reference SparkSessionManager.scala:62) handles partition-level skew at
runtime; the utilities here handle KEY-level skew explicitly, per the
north rule ("salted hash join over doc_id to defuse source-key skew"):
MERGE salts its source dedupe, so every downstream join sees unique
keys.

Where skew actually bites in MERGE: a source batch with a hot doc_id
repeated millions of times (e.g. a crawler re-emitting one document).
A naive ``groupBy(doc_id)`` dedupe or a direct join sends every
replica of the hot key to ONE reducer. Salting fans each key out over
``salt`` sub-keys first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt_col(df: DataFrame, salt: int) -> Column:
    """Deterministic per-row salt — hash of the whole row, no rand()."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))


def salted_latest_by_key(
    df: DataFrame, key: str, order_col: str, salt: int = 16
) -> DataFrame:
    """Keep one row per key — the max by ``order_col`` (ties broken by
    row hash for determinism) — via TWO-PHASE aggregation.

    Phase 1 reduces within (key, salt) buckets, so a hot key's
    replicas collapse across ``salt`` reducers before phase 2 touches
    it; the phase-2 groupBy then sees at most ``salt`` rows per key.
    """
    cols = df.columns
    ranked = F.struct(
        F.col(order_col).alias("_o"),
        F.xxhash64(*[F.col(c) for c in cols]).alias("_tie"),
        *[F.col(c) for c in cols],
    )
    phase1 = (
        df.withColumn("_salt", _salt_col(df, salt))
        .groupBy(key, "_salt")
        .agg(F.max(ranked).alias("_r"))
    )
    phase2 = phase1.groupBy(key).agg(F.max("_r").alias("_r"))
    return phase2.select([F.col(f"_r.{c}").alias(c) for c in cols])


def hot_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Key histogram filter — decide salting from measurement, not guess."""
    return df.groupBy(key).count().filter(F.col("count") >= threshold)
