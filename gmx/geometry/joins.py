"""Spatial joins over the cell-grid index: filter-and-refine, skew-aware.

Every cell join runs over one :class:`CellIndex` value — the exploded
small-tier covering, the broadcast tier and the grid level — built from
extents on the fly (:meth:`CellIndex.build`) or opened from the bucketed
tables (``gmx.geometry.bucketed.open_cell_index``).  Each join (overlap,
points, tiles) has ONE body over that value, so the tiering, salting and
count-budgeted overflow below live in one place.

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
  ``large_cap`` cells (whole-world and near-global boxes) are pulled OUT of
  the exploded index entirely and joined via ONE broadcast nested-loop pass
  per join — so hot cells never materialize in the shuffle.  At 100 TB the
  large tier is a tiny fraction (must fit broadcast; the cap is configurable
  and the tier is counted so a runaway fraction is observable in metrics).
  Antimeridian-crossing boxes ride the same tier as ONE wrapped row each
  (west > east: the box holds [west, 180] and [-180, east]) with
  wrap-aware predicates, so no counterpart can reach a doc twice and no
  join needs a pair dedup.
- **Salting**: ``salt`` replicates index rows S ways and routes probes by
  ``pmod(hash(key), S)`` for residual per-cell hotspots.
- **AQE**: runtime skew-join splitting for anything left.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gmx.geometry.cellgrid import (
    CELL_BASE,
    DEFAULT_LEVEL,
    cells_for_ranges_sql,
    covering_size_expr,
    covering_sql,
    np_cell_id,
    nx,
    point_cell_expr,
    point_cell_sql,
)

DEFAULT_LARGE_CAP = 64  # coverings above this many cells go to the broadcast tier

# Count-budgeted overflow (the 10^12-doc mechanism, PLANS.md §11): when the
# broadcast tier exceeds ``large_budget`` rows it cannot be a broadcast —
# ~400 GB at a 10^12-doc whole-world fraction of 1/97.  Over budget, the
# non-split large extents are routed through a COARSE-cell equi-join
# instead: both sides explode their covering at OVERFLOW_LEVEL (whole-world
# = 16 cells at level 2), the index side is salted OVERFLOW_SALT ways for
# parallelism beyond the handful of coarse keys, and the same exact refine +
# reference-point dedup applies.  Budget=None (default) skips the tier-count
# job entirely and keeps the plain broadcast — callers at corpus scale set a
# budget (and should cache the extents input, since deciding costs one count
# over it).
OVERFLOW_LEVEL = 2
OVERFLOW_SALT = 8

_BOX = ["west", "south", "east", "north"]


def _with_tier(extents: DataFrame, level: int, large_cap: int) -> DataFrame:
    e = extents
    if "split" not in e.columns:  # extents not built by extents_df carry no parts
        e = e.withColumn("split", F.lit(False))
    # antimeridian-crossing boxes (split parts) always ride the broadcast
    # tier: they are as rare as whole-world boxes, and the exploded index
    # and its reference-point dedup then only ever see west <= east
    return e.withColumn("n_cells", covering_size_expr(*_BOX, level)).withColumn(
        "is_large", F.expr(f"n_cells > {large_cap} OR split")
    )


def tier_stats(
    extents: DataFrame, level: int = DEFAULT_LEVEL, large_cap: int = DEFAULT_LARGE_CAP
) -> DataFrame:
    """Observability for the two-tier join strategy: per (is_large, split)
    tier — row count, total and max covering-cell count.  These are the
    numbers that tell you whether the broadcast tier still fits a broadcast
    at your corpus scale (a runaway whole-world fraction shows up here
    before it shows up as an OOM)."""

    ext = _with_tier(extents, level, large_cap)
    return ext.groupBy("is_large", "split").agg(
        F.count("*").alias("n_extents"),
        F.sum("n_cells").alias("total_cells"),
        F.max("n_cells").alias("max_cells"),
    )


def _explode_cover(df: DataFrame, level: int, name: str) -> DataFrame:
    """Every row of a bbox frame, once per cell of its covering at ``level``."""

    return df.selectExpr("*", f"explode({covering_sql(*_BOX, level)}) AS {name}")


def cover_cells(extents: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Exploded (cell, doc) covering index — the tile-assignment operator.
    ``part``/``split`` columns (antimeridian parts from extents_df) pass
    through when present; the two parts of a crossing box cover disjoint
    longitude ranges, so a (doc, cell) row never duplicates."""

    extra = [c for c in ("part", "split") if c in extents.columns]
    return _explode_cover(extents.select("doc_id", *_BOX, *extra), level, "cell")


@dataclass(frozen=True)
class CellIndex:
    """The covering index every cell join runs over.

    ``cells`` is the exploded small-tier covering (one row per doc and
    cell); ``large`` is the broadcast tier (doc_id, west, south, east,
    north, split), one row per doc: coverings above ``large_cap`` cells,
    and every antimeridian-crossing box folded back from its two split
    parts into one wrapped row (west > east, ``split`` true); ``level`` is
    the grid level of ``cells``.  :meth:`build` computes both frames from
    extents (the whole large tier is one ``groupBy("doc_id")``);
    ``gmx.geometry.bucketed.open_cell_index`` reads them back from the
    tables ``write_cell_index`` stored."""

    cells: DataFrame
    large: DataFrame
    level: int

    @classmethod
    def build(
        cls, extents: DataFrame, level: int = DEFAULT_LEVEL, large_cap: int = DEFAULT_LARGE_CAP
    ) -> CellIndex:
        ext = _with_tier(extents, level, large_cap)
        # one aggregate: a non-crossing doc's group is its one row; a
        # crossing doc's part 0 is [west, 180] and part 1 [-180, east], so
        # max(west) and min(east) are the crossing box's own sides
        large = ext.filter("is_large").groupBy("doc_id").agg(
            F.expr("max(west) AS west"), F.expr("min(south) AS south"),
            F.expr("min(east) AS east"), F.expr("max(north) AS north"),
            F.expr("bool_or(split) AS split"),
        )
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


def _large_tiers(ix: CellIndex, budget: int | None) -> tuple[DataFrame, DataFrame | None]:
    """The large-tier rows to broadcast, and those to route through
    :func:`_coarse_join` instead (``None`` when there are none).  Over
    ``budget`` non-split rows — decided by one ``limit(budget+1).count()``
    job, none when there is no budget — only the wrapped rows stay
    broadcast: they have no coarse covering, and they are bounded by
    crossing-box rarity."""

    flat = ix.large.filter("NOT split")
    if budget is not None and flat.limit(budget + 1).count() > budget:
        return ix.large.filter("split"), flat
    return ix.large, None


def _salt(index: DataFrame, probe: DataFrame, key: str, salt: int) -> tuple[DataFrame, DataFrame]:
    """Fragment-replicate salting: ``index`` rows replicate ``salt`` ways,
    each ``probe`` row routes to one replica by ``key`` hash; both sides
    gain the ``osalt`` join key."""

    return (
        index.withColumn("osalt", F.expr(f"explode(sequence(0, {salt - 1}))")),
        probe.withColumn("osalt", F.expr(f"pmod(hash({key}), {salt})")),
    )


def _coarse_join(probe: DataFrame, key: str, large: DataFrame, level: int, salt: int) -> DataFrame:
    """The over-budget stand-in for a large-tier broadcast: ``large``
    explodes its coarse covering and replicates ``salt`` ways, ``probe``
    boxes explode theirs and route by ``key`` hash, and overlapping boxes
    meet in their coarse reference cell only.  Sides are aliased ``o``
    (probe) and ``l`` (large)."""

    lidx, oidx = _salt(
        _explode_cover(large.select("doc_id", *_BOX), level, "ccell"),
        _explode_cover(probe, level, "ccell"), key, salt,
    )
    l, o = lidx.alias("l"), oidx.alias("o")
    return o.join(l, F.expr(f"{_refine('o', 'l', 'ccell', level)} AND o.osalt = l.osalt"))


def _ljoin_large(o_side: DataFrame, l_side: DataFrame) -> DataFrame:
    """Broadcast join of large-tier rows against a counterpart stream with
    the pair-dedup rules: large x large emits in one doc-id order only,
    EXCEPT counterparts living in the overflow tier (``is_overflow``), whose
    pairs with broadcast rows must emit regardless of order (the coarse
    overflow join never sees the broadcast wrapped rows)."""

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


def _overlap_pairs(
    ix: CellIndex, large_budget: int | None, overflow_level: int, overflow_salt: int
) -> DataFrame:
    """The overlap join body: small x small through :func:`_small_pairs`;
    the large tier broadcast against :meth:`CellIndex.docs` in one
    nested-loop join (or, over ``large_budget``, its non-split rows through
    :func:`_coarse_join`).  Every doc is one row on either side, so no
    pair needs a dedup."""

    bcast, coarse = _large_tiers(ix, large_budget)
    # rows that live in the overflow tier pair with each other in the
    # coarse join, so the broadcast must emit their pairs with wrapped rows
    # regardless of doc-id order
    other = ix.docs().withColumn(
        "is_overflow", F.expr(f"{str(coarse is not None).lower()} AND is_large AND NOT split")
    )
    pairs = _small_pairs(ix).unionByName(_ljoin_large(other, bcast))
    if coarse is None:
        return pairs
    return pairs.unionByName(
        _coarse_join(other.filter("NOT split"), "doc_id", coarse, overflow_level, overflow_salt)
        .filter("o.doc_id != l.doc_id AND (NOT o.is_overflow OR l.doc_id < o.doc_id)")
        .selectExpr(*_pair("l", "o"))
    )


def bbox_overlap_pairs(
    extents: DataFrame,
    level: int = DEFAULT_LEVEL,
    large_cap: int = DEFAULT_LARGE_CAP,
    large_budget: int | None = None,
    overflow_level: int = OVERFLOW_LEVEL,
    overflow_salt: int = OVERFLOW_SALT,
) -> DataFrame:
    """All distinct overlapping pairs (a_id < b_id) among extents.

    small x small: cell equi-join + reference-point dedup (no distinct).
    large x anything: broadcast nested-loop over the (tiny) large tier.

    ``large_budget``: when set and the non-split large tier exceeds that many
    rows, the tier is NOT broadcast — it routes through the salted
    coarse-cell equi-join (:func:`_coarse_join`) so the broadcast size
    stays bounded by the (rare) wrapped antimeridian-crossing rows alone.
    Deciding costs one ``limit(budget+1).count()`` job over the tier, so
    callers should cache ``extents``; ``None`` (default) skips the probe.
    """

    ix = CellIndex.build(extents, level, large_cap)
    return _overlap_pairs(ix, large_budget, overflow_level, overflow_salt)


def _cell_salt(cells: DataFrame, rows_per_shard: int, max_salt: int = 32) -> int:
    mx = cells.groupBy("cell").count().agg(F.max("count")).first()[0] or 0
    return max(1, min(max_salt, math.ceil(mx / rows_per_shard)))


def recommend_salt(
    extents: DataFrame,
    level: int = DEFAULT_LEVEL,
    large_cap: int = DEFAULT_LARGE_CAP,
    rows_per_shard: int = 50_000,
    max_salt: int = 32,
) -> int:
    """Derive the small-tier join salt from the OBSERVED hot-cell occupancy
    instead of a hand-picked constant: the salt exists to split one hot
    cell's join work across tasks, so the right value is
    ceil(max cell occupancy / rows_per_shard), clamped to [1, max_salt].

    The signal is the same (cell, count) histogram ``spatial_cell_histogram``
    exposes for observability — one map-side-combined aggregate over the
    exploded small-tier covering (the large/whole-world tier is already
    pulled out by ``large_cap`` and never lands in the salted join).
    ``rows_per_shard`` is the index-rows-per-(cell,salt)-shard target a
    task should handle comfortably; at corpus scale compute this once per
    index build, not per query (it is one eager Spark job — cache
    ``extents``, like the ``large_budget`` probe)."""

    cells = CellIndex.build(extents, level, large_cap).cells
    return _cell_salt(cells, rows_per_shard, max_salt)


def _point_hits(
    points: DataFrame,
    ix: CellIndex,
    large_budget: int | None,
    overflow_level: int,
    overflow_salt: int,
    salt: int | str | None = None,
    salt_rows_per_shard: int = 50_000,
) -> DataFrame:
    """The point-in-bbox body: points probe the small tier on their one
    cell (salted when ``salt`` > 1) and the large tier by broadcast — or,
    over ``large_budget``, its non-split rows on their one coarse cell — so
    no dedup is needed either way."""

    if salt == "auto":
        salt = _cell_salt(ix.cells, salt_rows_per_shard)
    idx = ix.cells
    pts = points.withColumn("cell", point_cell_expr("lon", "lat", ix.level))
    keys = ["cell"]
    if salt and salt > 1:
        idx, pts = _salt(idx, pts, "point_id", salt)
        keys.append("osalt")
    small_hits = pts.join(idx, on=keys).filter(_contains()).select("point_id", "doc_id")

    bcast, coarse = _large_tiers(ix, large_budget)
    hits = small_hits.unionByName(
        points.join(F.broadcast(bcast), F.expr(_contains())).select("point_id", "doc_id")
    )
    if coarse is None:
        return hits
    lidx, pts_c = _salt(
        _explode_cover(coarse.select("doc_id", *_BOX), overflow_level, "ccell"),
        points.withColumn("ccell", point_cell_expr("lon", "lat", overflow_level)),
        "point_id", overflow_salt,
    )
    return hits.unionByName(
        pts_c.join(lidx, on=["ccell", "osalt"]).filter(_contains()).select("point_id", "doc_id")
    )


def point_in_bbox(
    points: DataFrame,
    extents: DataFrame,
    level: int = DEFAULT_LEVEL,
    large_cap: int = DEFAULT_LARGE_CAP,
    salt: int | str | None = None,
    large_budget: int | None = None,
    overflow_level: int = OVERFLOW_LEVEL,
    overflow_salt: int = OVERFLOW_SALT,
    salt_rows_per_shard: int = 50_000,
) -> DataFrame:
    """(point_id, doc_id) pairs where the point lies inside the doc extent
    (closed intervals).  Two-tier like the overlap join; optional salting
    replicates the small-tier index ``salt`` ways for residual hot cells.
    ``salt="auto"`` derives the factor from the measured hot-cell occupancy
    (:func:`recommend_salt` — one eager aggregate over ``extents``; cache
    the input, same caveat as ``large_budget``) instead of a hand-picked
    constant.

    ``large_budget``: over budget, the non-split large tier probes through
    the salted coarse-cell equi-join instead of a broadcast (each point maps
    to exactly one coarse cell, so no dedup is needed); the wrapped
    antimeridian-crossing rows stay broadcast."""

    ix = CellIndex.build(extents, level, large_cap)
    return _point_hits(
        points, ix, large_budget, overflow_level, overflow_salt, salt, salt_rows_per_shard
    )


def centroids(extents: DataFrame, level: int) -> DataFrame:
    """The kNN centroid index (doc_id, cx, cy, cell), one row per doc: an
    antimeridian-crossing box is represented by its eastern-hemisphere part
    (part 0, [west, 180]) — deterministic and single-rowed, so a doc can
    never appear twice in one point's top k."""

    base_ext = extents.filter("part = 0") if "part" in extents.columns else extents
    return base_ext.selectExpr(
        "doc_id", "(west + east) / 2 AS cx", "(south + north) / 2 AS cy"
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


def _tile_hits(
    tiles: DataFrame,
    ix: CellIndex,
    large_budget: int | None = None,
    overflow_level: int = OVERFLOW_LEVEL,
    overflow_salt: int = OVERFLOW_SALT,
) -> DataFrame:
    """The raster-tile join body: tile coverings join the small tier with
    reference-point dedup, the large tier in one broadcast (or, over
    ``large_budget``, its non-split rows through :func:`_coarse_join`); a
    crossing box is one wrapped row, so no tile reaches a doc twice."""

    tbox = tile_boxes(tiles)
    t, d = _explode_cover(tbox, ix.level, "cell").alias("t"), ix.cells.alias("d")
    small_hits = t.join(d, F.expr(_refine("t", "d", "cell", ix.level))).select("tile_id", "doc_id")
    bcast, coarse = _large_tiers(ix, large_budget)
    hits = small_hits.unionByName(
        tbox.alias("t")
        .join(F.broadcast(bcast.alias("d")), F.expr(_wrap_overlap("t", "d")))
        .select("tile_id", "doc_id")
    )
    if coarse is None:
        return hits
    return hits.unionByName(
        _coarse_join(tbox, "tile_id", coarse, overflow_level, overflow_salt)
        .select("o.tile_id", "l.doc_id")
    )


def tile_extent_join(
    tiles: DataFrame,
    extents: DataFrame,
    level: int = DEFAULT_LEVEL,
    large_cap: int = DEFAULT_LARGE_CAP,
    large_budget: int | None = None,
    overflow_level: int = OVERFLOW_LEVEL,
    overflow_salt: int = OVERFLOW_SALT,
) -> DataFrame:
    """(tile_id, doc_id) pairs where a raster tile's footprint overlaps a doc
    extent.  ``tiles`` needs (tile_id, z, x, y) on the equirectangular grid;
    the tile bbox is closed-form, then the same tiered filter-and-refine.

    ``large_budget``: over budget, the non-split large tier joins tiles
    through the salted coarse-cell equi-join with reference-point dedup
    (wrapped crossing rows stay broadcast — bounded by crossing-box
    rarity)."""

    ix = CellIndex.build(extents, level, large_cap)
    return _tile_hits(tiles, ix, large_budget, overflow_level, overflow_salt)
