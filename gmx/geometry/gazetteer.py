"""Place-keyword geometry: gazetteer join -> cell covering.

The north star indexes not just each record's bounding box but also its
*place keywords* into cells: keywords name regions, a gazetteer maps the
names to extents, and the covering of those extents joins the record into
the spatial index alongside its own bbox.

At 10^12 docs the gazetteer is a classic broadcast dimension (thousands of
named places vs trillions of records); the keyword explode + broadcast-hash
join + covering explode is a narrow, shuffle-free pipeline.

The sandbox gazetteer is deterministic arithmetic on the corpus's keyword
vocabulary ('Place 0..6', 'Region 0..4'; gmx.corpus emits ``Place i%7`` and
``Region i%5`` per doc) with lattice-aligned half-degree extents, so the
DuckDB oracle certifies the whole path including keyword extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gmx.geometry.cellgrid import DEFAULT_LEVEL, covering_expr

GAZETTEER_SCHEMA = "keyword string, west double, south double, east double, north double"


def place_gazetteer(spark: SparkSession) -> DataFrame:
    """Deterministic name->extent dimension (half-degree lattice, exact in
    doubles).  'Place k': 20 x 10 deg boxes marching NE; 'Region k':
    30 x 12 deg boxes."""

    rows = [
        (f"Place {k}", (-320 + k * 80) / 2, (-160 + k * 40) / 2,
         (-320 + k * 80 + 40) / 2, (-160 + k * 40 + 20) / 2)
        for k in range(7)
    ] + [
        (f"Region {k}", (-300 + k * 120) / 2, (-100 + k * 40) / 2,
         (-300 + k * 120 + 60) / 2, (-100 + k * 40 + 24) / 2)
        for k in range(5)
    ]
    return spark.createDataFrame(rows, GAZETTEER_SCHEMA)


def place_keyword_cells(
    meta: DataFrame, gazetteer: DataFrame, level: int = DEFAULT_LEVEL
) -> DataFrame:
    """(doc_id, keyword, cell) index rows from each record's place keywords:
    explode keywords -> broadcast gazetteer join -> covering explode."""

    kw = meta.select("doc_id", F.explode("place_keywords").alias("keyword"))
    joined = kw.join(F.broadcast(gazetteer), "keyword")
    return joined.select(
        "doc_id",
        "keyword",
        F.explode(covering_expr("west", "south", "east", "north", level)).alias("cell"),
    )
