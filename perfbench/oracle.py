"""Independent answers for the serve workload: DuckDB brute force over the
generated extents, and the order-free fingerprint both sides reduce a
join result to.

A fingerprint of a set of integer pairs ``(a, b)`` is
``(count, sum a, sum b, sum((a * 7919 + b) mod 1000003))``.  Both engines
compute it exactly in 64-bit integers, so equal sets give equal tuples and
the engine's result never has to be collected into Python."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

KNN_K = 5
RANK_SLOTS = 8  # knn pairs are keyed as point_id * RANK_SLOTS + rank


def spark_fingerprint(df, a, b) -> tuple[int, int, int, int]:
    """The fingerprint of ``df`` projected to the long columns ``a``, ``b``
    — one Spark action."""

    pairs = df.select(a.alias("a"), b.alias("b"))
    row = pairs.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum("a"), F.lit(0)),
        F.coalesce(F.sum("b"), F.lit(0)),
        F.coalesce(F.sum(F.pmod(F.col("a") * 7919 + F.col("b"), F.lit(1000003))), F.lit(0)),
    ).first()
    return tuple(int(v) for v in row)


def docnum(col):
    """doc-00001234 -> 1234."""

    return F.substring(col, 5, 8).cast("long")


_FP = """
select count(*), coalesce(sum(a), 0), coalesce(sum(b), 0),
       coalesce(sum((a * 7919 + b) % 1000003), 0)
from ({q})
"""


class ServeOracle:
    """Brute-force bbox-overlap, point-in-bbox, kNN and tile joins."""

    def __init__(self, extents: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.register("ext", extents)

    def _fp(self, query: str, **frames) -> tuple[int, int, int, int]:
        for name, frame in frames.items():
            self.con.register(name, frame)
        try:
            return tuple(int(v) for v in self.con.execute(_FP.format(q=query)).fetchone())
        finally:
            for name in frames:
                self.con.unregister(name)

    def bbox_overlap(self):
        return self._fp(
            "select x.docnum a, y.docnum b from ext x join ext y on x.docnum < y.docnum"
            " and x.west <= y.east and y.west <= x.east"
            " and x.south <= y.north and y.south <= x.north"
        )

    def point_in_bbox(self, pts: pd.DataFrame):
        return self._fp(
            "select p.point_id a, e.docnum b from pts p join ext e"
            " on e.west <= p.lon and p.lon <= e.east and e.south <= p.lat and p.lat <= e.north",
            pts=pts,
        )

    def knn(self, pts: pd.DataFrame):
        return self._fp(
            f"""select point_id * {RANK_SLOTS} + rk a, docnum b from (
                  select p.point_id, c.docnum, row_number() over (
                      partition by p.point_id
                      order by (p.lon - c.cx) * (p.lon - c.cx) + (p.lat - c.cy) * (p.lat - c.cy),
                               c.docnum) rk
                  from pts p cross join (
                      select docnum, (west + east) / 2 cx, (south + north) / 2 cy from ext) c)
                where rk <= {KNN_K}""",
            pts=pts,
        )

    def tile_join(self, tls: pd.DataFrame):
        return self._fp(
            """select cast(t.tile_id as bigint) a, e.docnum b from (
                  select tile_id,
                         -180.0 + x * (360.0 / pow(2.0, z)) west,
                         -90.0 + y * (180.0 / pow(2.0, z)) south,
                         -180.0 + (x + 1) * (360.0 / pow(2.0, z)) east,
                         -90.0 + (y + 1) * (180.0 / pow(2.0, z)) north
                  from tls) t
                join ext e on t.west <= e.east and e.west <= t.east
                          and t.south <= e.north and e.south <= t.north""",
            tls=tls,
        )
