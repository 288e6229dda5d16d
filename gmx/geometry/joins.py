"""Spatial joins over the cell-grid index: filter-and-refine, skew-aware.

Every cell join runs over one :class:`CellIndex` value — the exploded
small-tier covering, the broadcast tier and the grid level — built from
extents on the fly (:meth:`CellIndex.build`) or opened from the bucketed
tables (``gmx.geometry.bucketed.open_cell_index``).  Each join (overlap,
points, tiles) has ONE body over that value, so the tiering and the
large-tier route below live in one place.  No join takes a tuning
parameter: each decision reads what the data and the session already say.

All operators follow the same scale pattern (SURVEY.md §2.7):

1. **Filter**: explode each extent's cell covering -> equi-join on cell id
   (a shuffle Catalyst plans natively; AQE skew-join enabled in gmx.session).
2. **Refine**: exact interval predicates on the original coordinates.
3. **Dedup-free pair emission**: a pair is emitted only from the cell that
   contains the intersection's (max-west, max-south) corner — the classic
   reference-point technique, which removes the need for a global
   ``dropDuplicates`` shuffle over the (potentially enormous) pair stream.

Skew handling ("hot cells from whole-world boxes", the north rule's named
hazard; the corpus plants one whole-world bbox per 97 docs):

- **Cell-splitting / tiering**: extents whose covering would exceed
  ``DEFAULT_LARGE_CAP`` cells (whole-world and near-global boxes) are
  pulled OUT of the exploded index entirely and joined via ONE broadcast
  nested-loop pass per join — so hot cells never materialize in the
  shuffle (:func:`tier_stats` counts the tier, so a runaway fraction is
  observable).  Antimeridian-crossing boxes ride the same tier as ONE
  wrapped row each (west > east: the box holds [west, 180] and
  [-180, east]) with wrap-aware predicates, so no counterpart can reach a
  doc twice and no join needs a pair dedup.
- **Large-tier route**: when Spark's own broadcast rule would refuse the
  tier (its plan size estimate is over ``autoBroadcastJoinThreshold``),
  its non-split rows take a salted coarse-cell equi-join instead
  (:func:`_large_tiers`).
- **AQE**: runtime skew-join splitting for residual per-cell hotspots.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gmx.geometry.cellgrid import (
    CELL_BASE,
    DEFAULT_LEVEL,
    cells_for_ranges_sql,
    covering_size_sql,
    covering_sql,
    np_cell_id,
    nx,
    point_cell_expr,
    point_cell_sql,
)

DEFAULT_LARGE_CAP = 64  # coverings above this many cells go to the broadcast tier

# Coarse large-tier route (the 10^12-doc mechanism, PLANS.md §11): a tier
# Spark would not broadcast (~400 GB at a 10^12-doc whole-world fraction of
# 1/97) routes its non-split rows through a COARSE-cell equi-join instead:
# both sides explode their covering at OVERFLOW_LEVEL (whole-world = 16
# cells at level 2), the large side is salted OVERFLOW_SALT ways for
# parallelism beyond the handful of coarse keys, and the same exact refine +
# reference-point dedup applies.
OVERFLOW_LEVEL = 2
OVERFLOW_SALT = 8

_BOX = ["west", "south", "east", "north"]


def _with_tier(extents: DataFrame, level: int) -> DataFrame:
    """(doc_id, box, split, n_cells, is_large) from any extents frame:
    ``split`` marks a wrapped (antimeridian-crossing, west > east) box.
    Wrapped boxes always ride the broadcast tier: they are as rare as
    whole-world boxes, and the exploded index and its reference-point dedup
    then only ever see west <= east."""

    return extents.selectExpr(
        "doc_id", *_BOX, "west > east AS split", f"{covering_size_sql(*_BOX, level)} AS n_cells"
    ).selectExpr("*", f"n_cells > {DEFAULT_LARGE_CAP} OR split AS is_large")


def tier_stats(extents: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Observability for the two-tier join strategy: per (is_large, split)
    tier — row count, total and max covering-cell count.  These are the
    numbers that tell you whether the broadcast tier still fits a broadcast
    at your corpus scale (a runaway whole-world fraction shows up here
    before it shows up as an OOM)."""

    ext = _with_tier(extents, level)
    return ext.groupBy("is_large", "split").agg(
        F.count("*").alias("n_extents"),
        F.sum("n_cells").alias("total_cells"),
        F.max("n_cells").alias("max_cells"),
    )


def _explode_cover(df: DataFrame, level: int, name: str) -> DataFrame:
    """Every row of a bbox frame, once per cell of its covering at ``level``."""

    return df.selectExpr("*", f"explode({covering_sql(*_BOX, level)}) AS {name}")


def cover_cells(extents: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Exploded (doc_id, west, south, east, north, cell) covering index —
    the tile-assignment operator.  A wrapped box covers the cells on both
    sides of the antimeridian, each once, so a (doc, cell) row never
    duplicates."""

    return _explode_cover(extents.select("doc_id", *_BOX), level, "cell")


@dataclass(frozen=True)
class CellIndex:
    """The covering index every cell join runs over.

    ``cells`` is the exploded small-tier covering (one row per doc and
    cell); ``large`` is the broadcast tier (doc_id, west, south, east,
    north, split), one row per doc: coverings above ``DEFAULT_LARGE_CAP``
    cells, and every antimeridian-crossing box as its one wrapped row
    (west > east, ``split`` true); ``level`` is the grid level of
    ``cells``.  :meth:`build` computes both frames from extents (the large
    tier is a filter and a projection, no shuffle);
    ``gmx.geometry.bucketed.open_cell_index`` reads them back from the
    tables ``write_cell_index`` stored."""

    cells: DataFrame
    large: DataFrame
    level: int

    @classmethod
    def build(cls, extents: DataFrame, level: int = DEFAULT_LEVEL) -> CellIndex:
        ext = _with_tier(extents, level)
        large = ext.filter("is_large").select("doc_id", *_BOX, "split")
        return cls(cover_cells(ext.filter("NOT is_large"), level), large, level)

    def docs(self) -> DataFrame:
        """One row per extent: (doc_id, west, south, east, north, is_large,
        split).  A small-tier doc's covering holds its (west, south) corner
        cell exactly once, so keeping that row is a filter — no dedup
        shuffle over the index; the large tier adds its rows, one per doc
        (a crossing box as its wrapped row)."""

        corner = point_cell_sql("west", "south", self.level)
        small = self.cells.filter(f"cell = {corner}").selectExpr(
            "doc_id", *_BOX, "false AS is_large", "false AS split"
        )
        large = self.large.selectExpr("doc_id", *_BOX, "true AS is_large", "split")
        return small.unionByName(large)


# Join predicates and pair projections are SQL text over the sides' aliases
# (one F.expr / selectExpr each at the join), like the grid expressions.

def _overlap(a: str, b: str) -> str:
    """Closed-interval box overlap of two boxes with west <= east."""

    return (
        f"{a}.west <= {b}.east AND {b}.west <= {a}.east"
        f" AND {a}.south <= {b}.north AND {b}.south <= {a}.north"
    )


def _holds(box: str, lon: str) -> str:
    """The longitude range of ``box`` (a column prefix) holds ``lon``; a
    wrapped range (west > east) holds [west, 180] and [-180, east]."""

    w, e = f"{box}west", f"{box}east"
    return f"if({w} <= {e}, {w} <= {lon} AND {lon} <= {e}, {w} <= {lon} OR {lon} <= {e})"


def _wrap_overlap(a: str, b: str) -> str:
    """:func:`_overlap` for boxes that may wrap: two closed longitude ranges
    meet iff one holds the other's west side (two wrapped ranges always
    meet, at 180)."""

    return (
        f"({_holds(f'{a}.', f'{b}.west')} OR {_holds(f'{b}.', f'{a}.west')})"
        f" AND {a}.south <= {b}.north AND {b}.south <= {a}.north"
    )


def _contains() -> str:
    """Closed-interval point-in-box: ``lon``/``lat`` inside ``west..north``
    (wrap-aware, see :func:`_holds`)."""

    return f"{_holds('', 'lon')} AND south <= lat AND lat <= north"


def _refine(a: str, b: str, cell: str, level: int) -> str:
    """Cell equi-join + exact overlap refine + reference-point dedup: an
    overlapping pair is kept only in the ``cell`` holding its intersection's
    (max-west, max-south) corner, so the pair stream needs no distinct."""

    corner = point_cell_sql(
        f"greatest({a}.west, {b}.west)", f"greatest({a}.south, {b}.south)", level
    )
    return f"{a}.{cell} = {b}.{cell} AND {_overlap(a, b)} AND {a}.{cell} = {corner}"


def _pair(a: str, b: str) -> list[str]:
    return [f"least({a}.doc_id, {b}.doc_id) AS a_id",
            f"greatest({a}.doc_id, {b}.doc_id) AS b_id"]


def _large_tiers(ix: CellIndex) -> tuple[DataFrame, DataFrame | None]:
    """The large-tier rows to broadcast, and those to route through
    :func:`_coarse_join` instead (``None`` when there are none).  The tier
    is broadcast exactly when Spark's own ``canBroadcastBySize`` rule
    would broadcast it: its optimized plan's size estimate is at most the
    session's ``autoBroadcastJoinThreshold`` (so ``-1`` refuses).  The
    estimate comes from file sizes and plan shape, so deciding launches no
    job.  Otherwise only the wrapped rows stay broadcast: they have no
    coarse covering, and they are bounded by crossing-box rarity."""

    limit = ix.large.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = ix.large._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if 0 <= size <= limit:
        return ix.large, None
    return ix.large.filter("split"), ix.large.filter("NOT split")


def _salt(index: DataFrame, probe: DataFrame, key: str) -> tuple[DataFrame, DataFrame]:
    """Fragment-replicate salting: ``index`` rows replicate
    ``OVERFLOW_SALT`` ways, each ``probe`` row routes to one replica by
    ``key`` hash; both sides gain the ``osalt`` join key."""

    return (
        index.withColumn("osalt", F.expr(f"explode(sequence(0, {OVERFLOW_SALT - 1}))")),
        probe.withColumn("osalt", F.expr(f"pmod(hash({key}), {OVERFLOW_SALT})")),
    )


def _coarse_join(probe: DataFrame, key: str, large: DataFrame) -> DataFrame:
    """The stand-in for a large-tier broadcast Spark would refuse:
    ``large`` explodes its coarse covering and replicates, ``probe`` boxes
    explode theirs and route by ``key`` hash, and overlapping boxes meet in
    their coarse reference cell only.  Sides are aliased ``o`` (probe) and
    ``l`` (large)."""

    lidx, oidx = _salt(
        _explode_cover(large.select("doc_id", *_BOX), OVERFLOW_LEVEL, "ccell"),
        _explode_cover(probe, OVERFLOW_LEVEL, "ccell"), key,
    )
    l, o = lidx.alias("l"), oidx.alias("o")
    return o.join(l, F.expr(f"{_refine('o', 'l', 'ccell', OVERFLOW_LEVEL)} AND o.osalt = l.osalt"))


def _ljoin_large(o_side: DataFrame, l_side: DataFrame) -> DataFrame:
    """Broadcast join of large-tier rows against a counterpart stream with
    the pair-dedup rules: large x large emits in one doc-id order only,
    EXCEPT counterparts living in the coarse route (``is_overflow``), whose
    pairs with broadcast rows must emit regardless of order (the coarse
    join never sees the broadcast wrapped rows)."""

    o, l = o_side.alias("o"), l_side.alias("l")
    return o.join(
        F.broadcast(l),
        F.expr(
            f"{_wrap_overlap('l', 'o')} AND o.doc_id != l.doc_id"
            " AND (NOT o.is_large OR o.is_overflow OR o.doc_id > l.doc_id)"
        ),
    ).selectExpr(*_pair("l", "o"))


def _small_pairs(ix: CellIndex) -> DataFrame:
    """small x small overlap pairs: the index self-join on ``cell``."""

    a, b = ix.cells.alias("a"), ix.cells.alias("b")
    return a.join(
        b, F.expr(f"{_refine('a', 'b', 'cell', ix.level)} AND a.doc_id < b.doc_id")
    ).selectExpr("a.doc_id AS a_id", "b.doc_id AS b_id")


def _overlap_pairs(ix: CellIndex) -> DataFrame:
    """The overlap join body: small x small through :func:`_small_pairs`;
    the large tier broadcast against :meth:`CellIndex.docs` in one
    nested-loop join (or its non-split rows through :func:`_coarse_join`,
    see :func:`_large_tiers`).  Every doc is one row on either side, so no
    pair needs a dedup."""

    bcast, coarse = _large_tiers(ix)
    # rows that live in the coarse route pair with each other in the
    # coarse join, so the broadcast must emit their pairs with wrapped rows
    # regardless of doc-id order
    other = ix.docs().withColumn(
        "is_overflow", F.expr(f"{str(coarse is not None).lower()} AND is_large AND NOT split")
    )
    pairs = _small_pairs(ix).unionByName(_ljoin_large(other, bcast))
    if coarse is None:
        return pairs
    return pairs.unionByName(
        _coarse_join(other.filter("NOT split"), "doc_id", coarse)
        .filter("o.doc_id != l.doc_id AND (NOT o.is_overflow OR l.doc_id < o.doc_id)")
        .selectExpr(*_pair("l", "o"))
    )


def bbox_overlap_pairs(extents: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """All distinct overlapping pairs (a_id < b_id) among extents.

    small x small: cell equi-join + reference-point dedup (no distinct).
    large x anything: broadcast nested-loop over the (tiny) large tier, or,
    when Spark would not broadcast the tier, the salted coarse-cell
    equi-join for its non-split rows (:func:`_large_tiers`)."""

    return _overlap_pairs(CellIndex.build(extents, level))


def _point_hits(points: DataFrame, ix: CellIndex) -> DataFrame:
    """The point-in-bbox body: points probe the small tier on their one
    cell and the large tier by broadcast — or, when Spark would not
    broadcast it, its non-split rows on their one coarse cell — so no
    dedup is needed either way."""

    pts = points.withColumn("cell", point_cell_expr("lon", "lat", ix.level))
    small_hits = pts.join(ix.cells, on="cell").filter(_contains()).select("point_id", "doc_id")

    bcast, coarse = _large_tiers(ix)
    hits = small_hits.unionByName(
        points.join(F.broadcast(bcast), F.expr(_contains())).select("point_id", "doc_id")
    )
    if coarse is None:
        return hits
    lidx, pts_c = _salt(
        _explode_cover(coarse.select("doc_id", *_BOX), OVERFLOW_LEVEL, "ccell"),
        points.withColumn("ccell", point_cell_expr("lon", "lat", OVERFLOW_LEVEL)),
        "point_id",
    )
    return hits.unionByName(
        pts_c.join(lidx, on=["ccell", "osalt"]).filter(_contains()).select("point_id", "doc_id")
    )


def point_in_bbox(points: DataFrame, extents: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """(point_id, doc_id) pairs where the point lies inside the doc extent
    (closed intervals).  Two-tier like the overlap join: each point maps to
    exactly one cell (and one coarse cell), so no dedup is needed; residual
    hot cells are split by AQE's skew join."""

    return _point_hits(points, CellIndex.build(extents, level))


def centroids(extents: DataFrame, level: int) -> DataFrame:
    """The kNN centroid index (doc_id, cx, cy, cell), one row per extent
    row: a wrapped (antimeridian-crossing) box is represented by the centre
    of its eastern-hemisphere side, [west, 180] — deterministic and
    single-rowed, so a doc can never appear twice in one point's top k."""

    return extents.selectExpr(
        "doc_id", "(west + if(west > east, 180.0D, east)) / 2 AS cx", "(south + north) / 2 AS cy"
    ).withColumn("cell", point_cell_expr("cx", "cy", level))


def knn_points(
    points: DataFrame,
    extents: DataFrame,
    k: int = 5,
    level: int = 6,
) -> DataFrame:
    """k nearest doc-extent centroids per query point, exact, in one pass.

    Distance = squared equirectangular degrees (exact on the corpus lattice),
    tie-broken by doc_id.  Each centroid indexes into ONE cell at ``level``;
    :func:`_knn_probe` then sizes every point's probe window from the
    per-cell centroid counts, so each point probes a window proven to hold
    its whole top k — no completeness check, no second round, no cross join
    at any density.  Here the counts come from :func:`cell_counts` over the
    on-the-fly centroids: one aggregate job, run while the plan is built
    (``knn_from_index`` reads the same counts from the table instead).
    Nothing is persisted, so no cache outlives the call.  Query points must
    lie on the globe (lon in [-180, 180], lat in [-90, 90]); see
    :func:`_knn_probe` for the completeness argument.
    Returns (point_id, rank, doc_id, dist_sq).
    """

    cent = centroids(extents, level)
    return _knn_probe(points, cent, k, level, cell_counts(cent))


def release_knn_caches() -> None:
    """No-op, kept for callers written against the earlier multi-round kNN:
    the one-pass core persists nothing, so there is nothing to release."""


def cell_counts(cent_idx: DataFrame) -> np.ndarray:
    """(ix, iy, count) rows, one per occupied cell of a centroid index
    (doc_id, cx, cy, cell): one ``groupBy(cell).count()`` aggregate,
    collected to the driver — at most min(docs, 4^level) rows.  A null cell
    (a doc without a centroid) joins nothing and is not counted."""

    cells = cent_idx.groupBy("cell").count().dropna().toPandas()
    ids = cells["cell"].to_numpy(np.int64)
    return np.column_stack(
        [(ids // CELL_BASE) % CELL_BASE, ids % CELL_BASE, cells["count"].to_numpy(np.int64)]
    )


def _knn_rings(counts: np.ndarray, m: int) -> np.ndarray:
    """Per cell (ix, iy) of an n x n count grid, the smallest ring ``r``
    whose window ``[ix-r, ix+r] x [iy-r, iy+r]`` (clamped to the grid)
    holds at least ``m`` centroids.  2-D prefix sums give any window's
    count in O(1); a vectorized binary search over r (window counts grow
    with r, and r = n-1 spans the whole grid) finds every cell's ring in
    log2(n) passes."""

    n = counts.shape[0]
    s = np.zeros((n + 1, n + 1), np.int64)
    s[1:, 1:] = counts.cumsum(0).cumsum(1)
    ix, iy = np.indices((n, n))

    def held(r: np.ndarray) -> np.ndarray:
        x0, x1 = np.maximum(ix - r, 0), np.minimum(ix + r, n - 1) + 1
        y0, y1 = np.maximum(iy - r, 0), np.minimum(iy + r, n - 1) + 1
        return s[x1, y1] - s[x0, y1] - s[x1, y0] + s[x0, y0]

    lo, hi = np.zeros_like(ix), np.full_like(ix, n - 1)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = held(mid) >= m
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    return lo


# Slack (degrees) on the window radius: a centroid's floating-point cell
# assignment can put it a rounding error outside its cell's nominal edges,
# and the radius must still reach it.  Extra reach only adds candidates.
_KNN_SLACK = 1e-9


def _knn_probe(
    points: DataFrame, cent_idx: DataFrame, k: int, level: int, counts: np.ndarray
) -> DataFrame:
    """The one-pass exact kNN core over a centroid index.

    ``cent_idx`` is (doc_id, cx, cy, cell) — computed on the fly by
    :func:`knn_points` or read from a bucketed table by
    ``gmx.geometry.bucketed.knn_from_index`` (where the index side of the
    probe join plans without an Exchange).  ``counts`` are its per-cell
    centroid counts as :func:`cell_counts` returns them: computed by
    ``knn_points`` at call time, or read by ``knn_from_index`` from the
    table property ``write_centroid_index`` recorded.  The body itself
    launches no job; its 4^level-row ring table rides a broadcast join.

    Completeness: let m = min(k, centroids).  The ring table gives each
    cell the smallest ring r whose window holds >= m centroids.  A point
    and any centroid of its cell's window are at most
    D = (r+1) * hypot(cw, ch) apart (cw x ch = cell size in degrees), so
    the point's m-th nearest distance is <= D.  Every centroid within D
    lies at most floor(D/cw)+1 columns and floor(D/ch)+1 rows from the
    point's cell; the point probes exactly that window and keeps
    candidates with dist_sq <= D^2 — every centroid at or inside the true
    m-th distance, ties included — so ranking the candidates by
    (dist_sq, doc_id) yields the exact top k.  The argument needs the point
    inside its cell, i.e. on the globe: lon in [-180, 180], lat in
    [-90, 90]."""

    n = nx(level)
    grid = np.zeros((n, n), np.int64)
    grid[counts[:, 0], counts[:, 1]] = counts[:, 2]
    r = _knn_rings(grid, min(k, int(grid.sum())))

    # ring table: per cell, the probe window (inclusive cell-index ranges)
    # and the squared distance bound
    cw, ch = 360.0 / n, 180.0 / n
    reach = (r + 1) * np.hypot(cw, ch) + _KNN_SLACK
    ax, ay = (reach // cw).astype(np.int64) + 1, (reach // ch).astype(np.int64) + 1
    ix, iy = np.indices((n, n))
    rings = points.sparkSession.createDataFrame(pd.DataFrame({
        "cell": np_cell_id(level, ix, iy).ravel(),
        "x0": np.maximum(ix - ax, 0).ravel(),
        "x1": np.minimum(ix + ax, n - 1).ravel(),
        "y0": np.maximum(iy - ay, 0).ravel(),
        "y1": np.minimum(iy + ay, n - 1).ravel(),
        "bound_sq": (reach * reach).ravel(),
    }))

    window = cells_for_ranges_sql("x0", "x1", "y0", "y1", level)
    probes = (
        points.withColumn("cell", point_cell_expr("lon", "lat", level))
        .join(F.broadcast(rings), "cell")
        .selectExpr("point_id", "lon", "lat", "bound_sq", f"explode({window}) AS cell")
    )
    # the bound pre-filter keeps every true neighbour (see above) and drops
    # the window's far corners before the rank shuffle
    return (
        probes.join(cent_idx, on="cell")
        .selectExpr(
            "point_id", "doc_id", "pow(lon - cx, 2) + pow(lat - cy, 2) AS dist_sq", "bound_sq"
        )
        .filter("dist_sq <= bound_sq")
        .selectExpr(
            "point_id", "doc_id", "dist_sq",
            "row_number() OVER (PARTITION BY point_id ORDER BY dist_sq, doc_id) AS rank",
        )
        .filter(f"rank <= {k}")
        .select("point_id", "rank", "doc_id", "dist_sq")
    )


def tile_boxes(tiles: DataFrame) -> DataFrame:
    """(tile_id, z, x, y) -> (tile_id, west, south, east, north): the
    closed-form footprint of an equirectangular raster tile."""

    return tiles.selectExpr(
        "tile_id",
        "-180.0D + x * (360.0D / pow(2.0D, z)) AS west",
        "-90.0D + y * (180.0D / pow(2.0D, z)) AS south",
        "-180.0D + (x + 1) * (360.0D / pow(2.0D, z)) AS east",
        "-90.0D + (y + 1) * (180.0D / pow(2.0D, z)) AS north",
    )


def _tile_hits(tiles: DataFrame, ix: CellIndex) -> DataFrame:
    """The raster-tile join body: tile coverings join the small tier with
    reference-point dedup, the large tier in one broadcast (or its
    non-split rows through :func:`_coarse_join`, see :func:`_large_tiers`);
    a crossing box is one wrapped row, so no tile reaches a doc twice."""

    tbox = tile_boxes(tiles)
    t, d = _explode_cover(tbox, ix.level, "cell").alias("t"), ix.cells.alias("d")
    small_hits = t.join(d, F.expr(_refine("t", "d", "cell", ix.level))).select("tile_id", "doc_id")
    bcast, coarse = _large_tiers(ix)
    hits = small_hits.unionByName(
        tbox.alias("t")
        .join(F.broadcast(bcast.alias("d")), F.expr(_wrap_overlap("t", "d")))
        .select("tile_id", "doc_id")
    )
    if coarse is None:
        return hits
    return hits.unionByName(_coarse_join(tbox, "tile_id", coarse).select("o.tile_id", "l.doc_id"))


def tile_extent_join(tiles: DataFrame, extents: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """(tile_id, doc_id) pairs where a raster tile's footprint overlaps a doc
    extent.  ``tiles`` needs (tile_id, z, x, y) on the equirectangular grid;
    the tile bbox is closed-form, then the same tiered filter-and-refine."""

    return _tile_hits(tiles, CellIndex.build(extents, level))
