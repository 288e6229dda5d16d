"""Derived geometry layer: wide metadata -> typed, validated extents.

The parity layer keeps coordinates as strings (reference typing, SURVEY §1.2);
this is the first place values become doubles.  Validation follows SURVEY §2.7:
reject lon outside [-180,180], lat outside [-90,90], south>north; west>east is
*not* rejected — it is an antimeridian-crossing box and is split into two rows
(``part`` column 0/1) so every downstream operator sees west<=east.

The split is one ``Generate`` over the validated rows, not a union of filtered
copies: Catalyst cannot push filters through the opaque ``mapInPandas``
extraction node, so each union branch would re-run the extraction pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_SIDES = ("west", "south", "east", "north")


def _typed_box() -> list:
    """The four ``bounding_box`` sides as doubles (null when not numeric)."""
    return [F.col(f"bounding_box.{s}").try_cast("double").alias(s) for s in _SIDES]


def extents_df(meta: DataFrame, split_antimeridian: bool = True) -> DataFrame:
    """(doc_id, west, south, east, north) doubles from ``bounding_box``;
    invalid rows are dropped (use :func:`quarantine_df` to collect them)."""

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
    e = e.filter(valid)

    if not split_antimeridian:
        return e.filter(F.col("west") <= F.col("east"))

    # west>east crosses the antimeridian: split into [west,180] (part 0) and
    # [-180,east] (part 1).  ``split`` marks both rows of a crossing box:
    # the cell index folds them back into one wrapped large-tier row
    # (joins.CellIndex.build), so no join sees a crossing doc twice;
    # non-crossing rows are part 0, split=false.
    def part(west, east, n):
        return F.struct(west.alias("west"), east.alias("east"), F.lit(n).alias("part"))

    crossing = F.col("west") > F.col("east")
    parts = F.when(
        crossing,
        F.array(part(F.col("west"), F.lit(180.0), 0), part(F.lit(-180.0), F.col("east"), 1)),
    ).otherwise(F.array(part(F.col("west"), F.col("east"), 0)))
    return e.select(
        "doc_id", "standard", "south", "north", crossing.alias("split"), F.inline(parts)
    ).select("doc_id", "standard", *_SIDES, "part", "split")


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
