"""Bucketed cell-index tables: shuffle-free repeated spatial joins.

PLANS.md §11 prices the cell-index equi-joins at c x ~48 B per doc PER
QUERY — the dominant recurring shuffle at corpus scale.  Spark's native
answer is bucketing: persist the exploded (cell, doc) covering index ONCE,
bucketed and sorted by ``cell``; every later join keyed on ``cell`` between
co-bucketed sides then runs with NO Exchange on the bucketed side(s) — the
shuffle is paid once at write time, not per query.

This is catalog-level metadata, so the index must be written with
``bucketBy(...).saveAsTable(...)`` (a path-only parquet write cannot carry
bucketing info).  The tables are external (``option("path", ...)``) so the
data lives where the caller says; on a real deployment these are Iceberg
tables with a bucket partition transform and the same join shape.

The grid ``level`` the index was written at is persisted as a table
property (``gmx.cell_level``) and read back by the join functions — a
caller re-supplying a mismatched level would silently drop pairs (the
reference-corner predicate compares level-tagged cell ids), so the table
itself is the source of truth.

Reference: none (north-rule scale mechanism; the reference processes one
document at a time and has no joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gmx.geometry.cellgrid import (
    DEFAULT_LEVEL,
    cell_id_expr,
    cell_ix_expr,
    cell_iy_expr,
    point_cell_expr,
)
from gmx.geometry.joins import (
    DEFAULT_LARGE_CAP,
    OVERFLOW_LEVEL,
    OVERFLOW_SALT,
    _knn_probe,
    _large_tier_pairs,
    _ljoin_large,
    _overflow_pairs,
    _overlap,
    _pip_overflow_hits,
    _with_tier,
    cover_cells,
    tile_boxes,
    tile_cell_hits,
)
from gmx.session import app_scoped


def write_cell_index(
    extents: DataFrame,
    table: str,
    path: str,
    level: int = DEFAULT_LEVEL,
    large_cap: int = DEFAULT_LARGE_CAP,
    buckets: int = 16,
) -> None:
    """Materialize the small-tier covering index as a bucketed+sorted table.

    Only the small tier is indexed (the large/split tier goes through the
    broadcast path exactly as in the on-the-fly joins, and is stored
    alongside as ``<table>_large`` — a tiny unbucketed table).  The grid
    level and bucket count are recorded as table properties; at corpus
    scale pick buckets ~ O(cluster cores)."""

    ext = _with_tier(extents, level, large_cap)
    small = ext.filter(~F.col("is_large"))
    idx = cover_cells(small, level)
    spark = extents.sparkSession
    (
        idx.write.mode("overwrite")
        .bucketBy(buckets, "cell")
        .sortBy("cell")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('gmx.cell_level'='{level}', 'gmx.buckets'='{buckets}')"
    )
    _LEVEL_MEMO[_memo_key(spark, table)] = level
    large = ext.filter(F.col("is_large")).select(
        "doc_id", "west", "south", "east", "north", "split"
    )
    (
        large.write.mode("overwrite")
        .option("path", f"{path}_large")
        .format("parquet")
        .saveAsTable(f"{table}_large")
    )


def write_centroid_index(
    extents: DataFrame,
    table: str,
    path: str,
    level: int = 6,
    buckets: int = 16,
) -> None:
    """Materialize the kNN centroid index (doc_id, cx, cy, cell) bucketed +
    sorted by ``cell``.

    One row per doc (antimeridian boxes contribute their eastern part, same
    convention as :func:`gmx.geometry.joins.knn_points`); the finer default
    level matches kNN's probe grid, not the covering index's.  Repeated kNN
    workloads then read the centroid side of every probe join without an
    Exchange — only the (small) point stream shuffles."""

    base_ext = extents.filter(F.col("part") == 0) if "part" in extents.columns else extents
    cents = base_ext.select(
        "doc_id",
        ((F.col("west") + F.col("east")) / 2).alias("cx"),
        ((F.col("south") + F.col("north")) / 2).alias("cy"),
    ).withColumn("cell", point_cell_expr(F.col("cx"), F.col("cy"), level))
    (
        cents.write.mode("overwrite")
        .bucketBy(buckets, "cell")
        .sortBy("cell")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )
    spark = extents.sparkSession
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('gmx.cell_level'='{level}', 'gmx.buckets'='{buckets}')"
    )
    _LEVEL_MEMO[_memo_key(spark, table)] = level


def knn_from_index(
    spark: SparkSession,
    points: DataFrame,
    table: str,
    k: int = 5,
) -> DataFrame:
    """kNN against the bucketed centroid index: the same one-pass exact core
    (``joins._knn_probe``) and results as ``knn_points``, at the grid level
    recorded in the table property.  Both index reads consume bucket
    metadata — the per-cell count aggregate groups by the bucket column and
    the probe join reads the centroid side in bucket order — so only the
    point stream shuffles.  The count aggregate is the one job run at
    call time; its 4^level-row ring table (4096 at the default level 6)
    rides a broadcast join to the points.  Nothing is persisted, so no cache
    outlives the call.  Completeness argument: see ``joins._knn_probe``."""

    return _knn_probe(points, spark.table(table), k, index_level(spark, table))


# Per-process memo: (application id, database-qualified table name) ->
# written grid level.  Levels are immutable for a given index generation
# and every writer in this module records the level here, so from-index
# plan CONSTRUCTION is zero-job after the first lookup (the SHOW
# TBLPROPERTIES driver round-trip is paid once per session per table).
# Keys carry the live SparkContext's application id (gmx.session.app_scoped):
# a session restart starts from a fresh catalog view, so an entry from a
# stopped application is never reused.  Unqualified names are scoped to
# the session's current database so two tables sharing a bare name in
# different databases cannot share a slot.  The memo trusts THIS process's
# view: a rewrite by another process at a different level is invisible
# until invalidate_index_level is called — same staleness contract as any
# driver-side metadata cache (Spark's own relation cache included); the
# table property remains the durable source of truth.
_LEVEL_MEMO: dict[tuple[str, str], int] = {}


def _memo_key(spark: SparkSession, table: str) -> tuple[str, str]:
    return app_scoped(
        spark, table if "." in table else f"{spark.catalog.currentDatabase()}.{table}"
    )


def invalidate_index_level(table: str) -> None:
    """Forget the memoized grid level for ``table`` (after an out-of-band
    rewrite); the next :func:`index_level` call re-reads the property.
    An unqualified name drops the entry in EVERY database — over-
    invalidation is safe (the next lookup pays one driver round-trip)."""

    for key in [k for k in _LEVEL_MEMO if table in (k[1], k[1].rsplit(".", 1)[-1])]:
        del _LEVEL_MEMO[key]


def index_level(spark: SparkSession, table: str) -> int:
    """The grid level the index table was written at (table property),
    memoized per process so repeated from-index plan builds cost no job."""

    key = _memo_key(spark, table)
    if key in _LEVEL_MEMO:
        return _LEVEL_MEMO[key]
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {r["key"]: r["value"] for r in rows}
    level = int(props["gmx.cell_level"])
    _LEVEL_MEMO[key] = level
    return level


def index_self_join(spark: SparkSession, table: str) -> DataFrame:
    """The small x small overlap pairs from the bucketed index alone —
    both join inputs are bucketed scans of the same table, so the physical
    plan contains NO Exchange (asserted in tests): the per-query shuffle is
    gone."""

    level = index_level(spark, table)
    idx = spark.table(table)
    a, b = idx.alias("a"), idx.alias("b")
    corner_ix = cell_ix_expr(F.greatest("a.west", "b.west"), level)
    corner_iy = cell_iy_expr(F.greatest("a.south", "b.south"), level)
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _overlap("a", "b")
            & (F.col("a.cell") == cell_id_expr(level, corner_ix, corner_iy)),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )


def bbox_overlap_pairs_from_index(
    spark: SparkSession,
    table: str,
    large_budget: int | None = None,
    overflow_level: int = OVERFLOW_LEVEL,
    overflow_salt: int = OVERFLOW_SALT,
) -> DataFrame:
    """Self-join the bucketed index on ``cell``: same semantics as
    ``bbox_overlap_pairs`` (reference-point dedup, two-tier), but the
    small x small join consumes bucket metadata — ``.explain`` shows no
    Exchange under either join input (asserted in tests).  The shuffle was
    paid once, at :func:`write_cell_index` time.  The large tier reuses the
    SAME pair-assembly helpers as the on-the-fly join (_large_tier_pairs /
    _overflow_pairs) so the dedup predicate cannot drift.

    ``large_budget`` mirrors ``bbox_overlap_pairs``: over budget the
    non-split large tier routes through the salted coarse-cell equi-join
    instead of a broadcast (the ``<table>_large`` side is a stored table,
    so the ``limit(budget+1).count()`` probe is a cheap scan, not a
    recomputation)."""

    small_pairs = index_self_join(spark, table)

    idx = spark.table(table)
    large = spark.table(f"{table}_large")
    l_ns = large.filter(~F.col("split"))
    l_s = large.filter(F.col("split"))
    overflow = (
        large_budget is not None
        and l_ns.limit(large_budget + 1).count() > large_budget
    )
    other_small = (
        idx.select("doc_id", "west", "south", "east", "north")
        .dropDuplicates(["doc_id"])  # small-tier docs carry one extent each
        .withColumn("is_large", F.lit(False))
        .withColumn("split", F.lit(False))
    )
    other = other_small.unionByName(
        large.withColumn("is_large", F.lit(True)).select(
            "doc_id", "west", "south", "east", "north", "is_large", "split"
        )
    ).withColumn(
        "is_overflow", F.lit(overflow) & F.col("is_large") & ~F.col("split")
    )
    if overflow:
        large_pairs = _overflow_pairs(
            l_ns, other.filter(~F.col("split")), overflow_level, overflow_salt
        )
        split_pairs = _ljoin_large(other, l_s).dropDuplicates(["a_id", "b_id"])
        return small_pairs.unionByName(large_pairs).unionByName(split_pairs)
    return small_pairs.unionByName(_large_tier_pairs(other, l_ns, l_s))


def point_in_bbox_from_index(
    spark: SparkSession,
    points: DataFrame,
    table: str,
    large_budget: int | None = None,
    overflow_level: int = OVERFLOW_LEVEL,
    overflow_salt: int = OVERFLOW_SALT,
) -> DataFrame:
    """Points vs the bucketed index: the index side reads WITHOUT an
    Exchange (bucket metadata); only the (small) point stream shuffles to
    the index's bucketing.  Same semantics as ``point_in_bbox``, including
    the count-budgeted overflow tier (``large_budget``): over budget the
    ENTIRE stored large table probes through the shared salted coarse-cell
    equi-join (joins._pip_overflow_hits) instead of a broadcast."""

    level = index_level(spark, table)
    idx = spark.table(table)
    pts = points.withColumn("cell", point_cell_expr(F.col("lon"), F.col("lat"), level))
    contains = (
        (F.col("west") <= F.col("lon")) & (F.col("lon") <= F.col("east"))
        & (F.col("south") <= F.col("lat")) & (F.col("lat") <= F.col("north"))
    )
    small_hits = pts.join(idx, on="cell").filter(contains).select("point_id", "doc_id")
    large = spark.table(f"{table}_large")
    if (
        large_budget is not None
        and large.limit(large_budget + 1).count() > large_budget
    ):
        large_hits = _pip_overflow_hits(points, large, overflow_level, overflow_salt)
    else:
        large_hits = (
            points.join(
                F.broadcast(large),
                (F.col("west") <= F.col("lon")) & (F.col("lon") <= F.col("east"))
                & (F.col("south") <= F.col("lat")) & (F.col("lat") <= F.col("north")),
            ).select("point_id", "doc_id")
        )
    return small_hits.unionByName(large_hits)


def tile_extent_join_from_index(
    spark: SparkSession,
    tiles: DataFrame,
    table: str,
) -> DataFrame:
    """Raster tiles vs the bucketed index: the (big) index side of the cell
    equi-join reads WITHOUT an Exchange (bucket metadata); only the tiny
    exploded tile stream shuffles.  Same semantics as ``tile_extent_join``
    — the small tier reuses joins.tile_cell_hits (shared reference-point
    dedup), the large tier mirrors the on-the-fly broadcast split handling
    over ``<table>_large``."""

    level = index_level(spark, table)
    tbox = tile_boxes(tiles)
    small_hits = tile_cell_hits(tbox, spark.table(table), level)

    large = spark.table(f"{table}_large")
    large_hits = (
        tbox.alias("t")
        .join(F.broadcast(large.filter(~F.col("split")).alias("d")), _overlap("t", "d"))
        .select("tile_id", "doc_id")
    )
    # a tile can overlap both parts of an antimeridian-crossing box: the
    # split slice dedups separately, exactly as in tile_extent_join
    split_hits = (
        tbox.alias("t")
        .join(F.broadcast(large.filter(F.col("split")).alias("d")), _overlap("t", "d"))
        .select("tile_id", "doc_id")
        .dropDuplicates(["tile_id", "doc_id"])
    )
    return small_hits.unionByName(large_hits).unionByName(split_hits)
