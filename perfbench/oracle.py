"""Expected table contents after a sequence of MERGE sources.

A plain-DataFrame last-writer-wins model that shares no code with
``lakehouse/merge.py``: every source row is an event ordered by
``(_ord, _seq)`` (``_ord`` = the MERGE call's position, ``_seq`` = the
row's order inside it, as ``duplicate_policy="last"`` reads it). Per
doc_id the last event decides: a delete removes the row, an upsert
sets ``tokens``/``n_tok``. ``source`` is the partition column and an
update never moves a row, so a surviving doc_id keeps the source it had
in the starting table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_events(source: DataFrame, ord_: int | Column) -> DataFrame:
    """One MERGE source as ordered events (missing control columns get
    the engine's documented defaults: all upserts, ``_seq`` 0)."""
    cols = set(source.columns)
    op = F.col("_op") if "_op" in cols else F.lit("upsert")
    seq = F.col("_seq").cast("long") if "_seq" in cols else F.lit(0).cast("long")
    order = ord_ if isinstance(ord_, Column) else F.lit(ord_)
    return source.select(
        "doc_id", "tokens", "n_tok", "source", op.alias("_op"),
        order.cast("long").alias("_ord"), seq.alias("_seq"),
    )


def expected_rows(start: DataFrame, events: DataFrame) -> DataFrame:
    """The table after applying ``events`` (see module doc) to ``start``."""
    w = Window.partitionBy("doc_id").orderBy(F.col("_ord").desc(), F.col("_seq").desc())
    last = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    untouched = start.join(last.select("doc_id"), "doc_id", "left_anti")
    written = (
        last.filter(F.col("_op") == "upsert")
        .alias("e")
        .join(start.select("doc_id", F.col("source").alias("_t_source")), "doc_id", "left")
        .select(
            "doc_id", "tokens", "n_tok",
            F.coalesce("_t_source", "source").alias("source"),
        )
    )
    return untouched.select("doc_id", "tokens", "n_tok", "source").unionByName(written)
