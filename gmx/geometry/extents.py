"""Derived geometry layer: wide metadata -> typed, validated extents.

The parity layer keeps coordinates as strings (reference typing, SURVEY §1.2);
this is the first place values become doubles.  Validation follows SURVEY §2.7:
reject lon outside [-180,180], lat outside [-90,90], south>north; west>east is
*not* rejected — it is an antimeridian-crossing box, kept as ONE wrapped row
(its longitudes are [west, 180] and [-180, east]).  Every operator downstream
reads such a row wrap-aware (``cellgrid.covering_sql``, the join predicates
in ``gmx.geometry.joins``), so an extent is always one row per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_SIDES = ("west", "south", "east", "north")


def _typed_box() -> list:
    """The four ``bounding_box`` sides as doubles (null when not numeric)."""
    return [F.col(f"bounding_box.{s}").try_cast("double").alias(s) for s in _SIDES]


def extents_df(meta: DataFrame) -> DataFrame:
    """(doc_id, standard, west, south, east, north) doubles from
    ``bounding_box``, one row per valid doc (a crossing box keeps
    west > east); invalid rows are dropped (use :func:`quarantine_df` to
    collect them)."""

    e = meta.select("doc_id", "standard", *_typed_box()).filter(
        F.col("west").isNotNull() & F.col("south").isNotNull()
        & F.col("east").isNotNull() & F.col("north").isNotNull()
    )

    valid = (
        (F.col("west") >= -180) & (F.col("west") <= 180)
        & (F.col("east") >= -180) & (F.col("east") <= 180)
        & (F.col("south") >= -90) & (F.col("north") <= 90)
        & (F.col("south") <= F.col("north"))
    )
    return e.filter(valid)


def quarantine_df(meta: DataFrame) -> DataFrame:
    """Rows whose bounding box fails validation — the error side-channel
    (reference raises ValidationError per doc, utils.py:696-710; at scale we
    route rows instead of raising)."""

    b = meta.select(
        "doc_id", *_typed_box(), F.col("bounding_box").isNotNull().alias("has_box")
    )
    bad = (
        F.col("has_box")
        & (
            F.col("west").isNull() | F.col("east").isNull()
            | F.col("south").isNull() | F.col("north").isNull()
            | (F.col("west") < -180) | (F.col("west") > 180)
            | (F.col("east") < -180) | (F.col("east") > 180)
            | (F.col("south") < -90) | (F.col("north") > 90)
            | (F.col("south") > F.col("north"))
        )
    )
    return b.filter(bad).drop("has_box")
