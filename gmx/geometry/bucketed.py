"""Bucketed cell-index tables: shuffle-free repeated spatial joins.

PLANS.md §11 prices the cell-index equi-joins at c x ~48 B per doc PER
QUERY — the dominant recurring shuffle at corpus scale.  Spark's native
answer is bucketing: persist the exploded (cell, doc) covering index ONCE,
bucketed and sorted by ``cell``; every later join keyed on ``cell`` between
co-bucketed sides then runs with NO Exchange on the bucketed side(s) — the
shuffle is paid once at write time, not per query.

Each bucketed table is shuffled to bucket alignment before it is written
(``repartition(buckets, "cell")`` hashes exactly like ``bucketBy``), so
every write task holds one bucket and writes ONE file: a table has at most
``buckets`` files, whatever the input's partitioning, and every reader
opens that many.  Write parallelism and served-scan partitions therefore
equal ``buckets``, which defaults to the session's parallelism (one bucket
per core); at corpus scale pass ``buckets`` sized to the data.  The
broadcast tier ``<table>_large`` is written through a rebalance, so AQE
coalesces it to one file at small scale and to files near its advisory
partition size at corpus scale.

This module only stores and opens indexes: :func:`write_cell_index` writes
the two frames of ``joins.CellIndex.build`` and :func:`open_cell_index`
reads them back as the same ``CellIndex`` value, so every ``*_from_index``
join is one call into the join body ``gmx.geometry.joins`` also runs on
the fly.

This is catalog-level metadata, so the index must be written with
``bucketBy(...).saveAsTable(...)`` (a path-only parquet write cannot carry
bucketing info).  The tables are external (``option("path", ...)``) so the
data lives where the caller says; on a real deployment these are Iceberg
tables with a bucket partition transform and the same join shape.

The grid ``level`` the index was written at is persisted as a table
property (``gmx.cell_level``) and read back by :func:`open_cell_index` — a
caller re-supplying a mismatched level would silently drop pairs (the
reference-corner predicate compares level-tagged cell ids), so the table
itself is the source of truth.  The centroid index also records its
per-occupied-cell centroid counts (``gmx.cell_counts``, at most
min(docs, 4^level) ``ix:iy:count`` entries), counted at write time over the
written table; :func:`knn_from_index` sizes its probe windows from them, so
opening an index and building any ``*_from_index`` plan launches no Spark
job.

Reference: none (north-rule scale mechanism; the reference processes one
document at a time and has no joins).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gmx.geometry.cellgrid import DEFAULT_LEVEL
from gmx.geometry.joins import (
    CellIndex,
    _knn_probe,
    _overlap_pairs,
    _point_hits,
    _tile_hits,
    cell_counts,
    centroids,
)
from gmx.session import app_scoped


def _write_bucketed(
    df: DataFrame, table: str, path: str, level: int, buckets: int | None,
    with_counts: bool = False,
) -> None:
    """Write ``df`` as an external table bucketed and sorted by ``cell``,
    one file per bucket (``buckets`` write tasks; ``None`` is one per
    core), recording the grid level and the resolved bucket count as table
    properties (and the level in the process memo).  ``with_counts`` also
    records the per-cell row counts (``gmx.cell_counts``), aggregated over
    the written table:
    grouping by the bucket column is one stage with no Exchange, and it
    counts exactly the rows readers will see."""

    spark = df.sparkSession
    buckets = buckets or spark.sparkContext.defaultParallelism
    (
        df.repartition(buckets, "cell")
        .write.mode("overwrite")
        .bucketBy(buckets, "cell")
        .sortBy("cell")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )
    props = {"gmx.cell_level": level, "gmx.buckets": buckets}
    if with_counts:
        counts = cell_counts(spark.table(table))
        props["gmx.cell_counts"] = ",".join(f"{ix}:{iy}:{c}" for ix, iy, c in counts.tolist())
    listed = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({listed})")
    key = _memo_key(spark, table)
    _LEVEL_MEMO[key] = level
    if with_counts:
        _COUNTS_MEMO[key] = counts


def write_cell_index(
    extents: DataFrame,
    table: str,
    path: str,
    level: int = DEFAULT_LEVEL,
    buckets: int | None = None,
) -> None:
    """Materialize ``CellIndex.build(extents, level)``: the small-tier
    covering as a bucketed+sorted table, one file per bucket, the broadcast
    tier alongside as ``<table>_large`` (a small unbucketed table, one row
    per doc: a crossing box is one wrapped row; AQE sizes its files).  The
    grid level and bucket count are recorded as table properties.  ``buckets`` defaults to one
    per core of the session; at corpus scale pass a count sized to the
    data."""

    ix = CellIndex.build(extents, level)
    _write_bucketed(ix.cells, table, path, level, buckets)
    (
        ix.large.hint("rebalance")
        .write.mode("overwrite")
        .option("path", f"{path}_large")
        .format("parquet")
        .saveAsTable(f"{table}_large")
    )


def write_centroid_index(
    extents: DataFrame,
    table: str,
    path: str,
    level: int = 6,
    buckets: int | None = None,
) -> None:
    """Materialize the kNN centroid index (doc_id, cx, cy, cell) bucketed +
    sorted by ``cell``, one file per bucket written by ``buckets`` tasks
    (default one per core of the session, as in :func:`write_cell_index`),
    with its per-occupied-cell centroid
    counts recorded as table property ``gmx.cell_counts`` (one aggregate
    over the written table, run here once instead of on every kNN call).

    One row per doc (a wrapped antimeridian box contributes the centre of
    its eastern side, same convention as
    :func:`gmx.geometry.joins.knn_points`); the finer default
    level matches kNN's probe grid, not the covering index's.  Repeated kNN
    workloads then read the centroid side of every probe join without an
    Exchange — only the (small) point stream shuffles."""

    _write_bucketed(centroids(extents, level), table, path, level, buckets, with_counts=True)


def knn_from_index(
    spark: SparkSession,
    points: DataFrame,
    table: str,
    k: int = 5,
) -> DataFrame:
    """kNN against the bucketed centroid index: the same one-pass exact core
    (``joins._knn_probe``) and results as ``knn_points``, at the grid level
    and with the per-cell counts recorded in the table properties (one
    ``SHOW TBLPROPERTIES`` per table and application, memoized), so
    building the plan launches no Spark job.  The probe join reads the
    centroid side in bucket order, so only the point stream shuffles; the
    4^level-row ring table (4096 at the default level 6) rides a broadcast
    join to the points.  Nothing is persisted, so no cache outlives the
    call.  A centroid table without ``gmx.cell_counts`` raises
    ``ValueError``: rebuild it with :func:`write_centroid_index`.
    Completeness argument: see ``joins._knn_probe``."""

    level, counts = index_cell_counts(spark, table)
    return _knn_probe(points, spark.table(table), k, level, counts)


# Per-process memos: (application id, database-qualified table name) ->
# written grid level, and -> recorded per-cell centroid counts (centroid
# indexes only; the (ix, iy, count) array of joins.cell_counts).  Both are
# immutable for a given index generation, every writer in this module
# records them here, and one SHOW TBLPROPERTIES fills both, so from-index
# plan CONSTRUCTION is zero-job after the first lookup (the driver
# round-trip is paid once per session per table).
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
_COUNTS_MEMO: dict[tuple[str, str], np.ndarray] = {}


def _memo_key(spark: SparkSession, table: str) -> tuple[str, str]:
    return app_scoped(
        spark, table if "." in table else f"{spark.catalog.currentDatabase()}.{table}"
    )


def invalidate_index_level(table: str) -> None:
    """Forget the memoized grid level and cell counts for ``table`` (after
    an out-of-band rewrite); the next lookup re-reads the properties.
    An unqualified name drops the entries in EVERY database — over-
    invalidation is safe (the next lookup pays one driver round-trip)."""

    for memo in (_LEVEL_MEMO, _COUNTS_MEMO):
        for key in [k for k in memo if table in (k[1], k[1].rsplit(".", 1)[-1])]:
            del memo[key]


def _read_properties(spark: SparkSession, table: str, key: tuple[str, str]) -> None:
    """One ``SHOW TBLPROPERTIES`` fills both memos for ``table``."""

    props = {r["key"]: r["value"] for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}
    _LEVEL_MEMO[key] = int(props["gmx.cell_level"])
    if "gmx.cell_counts" in props:
        entries = props["gmx.cell_counts"].replace(",", ":").split(":")
        _COUNTS_MEMO[key] = np.array(entries if entries != [""] else [], np.int64).reshape(-1, 3)


def index_level(spark: SparkSession, table: str) -> int:
    """The grid level the index table was written at (table property),
    memoized per process so repeated from-index plan builds cost no job."""

    key = _memo_key(spark, table)
    if key not in _LEVEL_MEMO:
        _read_properties(spark, table, key)
    return _LEVEL_MEMO[key]


def index_cell_counts(spark: SparkSession, table: str) -> tuple[int, np.ndarray]:
    """The grid level and the per-cell centroid counts a centroid index was
    written with (table properties, memoized like :func:`index_level`)."""

    key = _memo_key(spark, table)
    if key not in _LEVEL_MEMO or key not in _COUNTS_MEMO:
        _read_properties(spark, table, key)
    if key not in _COUNTS_MEMO:
        raise ValueError(
            f"{table} records no gmx.cell_counts property: build it with write_centroid_index"
        )
    return _LEVEL_MEMO[key], _COUNTS_MEMO[key]


def open_cell_index(spark: SparkSession, table: str) -> CellIndex:
    """The cell index :func:`write_cell_index` stored, as the value the
    join bodies take: both tables are plain reads (the covering keeps its
    bucket metadata) at the level recorded in the table property."""

    return CellIndex(spark.table(table), spark.table(f"{table}_large"), index_level(spark, table))


def bbox_overlap_pairs_from_index(spark: SparkSession, table: str) -> DataFrame:
    """``bbox_overlap_pairs`` over the stored index: the small x small join
    consumes bucket metadata (no Exchange under either input, asserted in
    tests) and the large tier's doc view is a filter over the index, so
    the query pays no shuffle for the small tier.  The large-tier route
    reads the size estimate of the stored ``<table>_large`` (file sizes,
    no job)."""

    return _overlap_pairs(open_cell_index(spark, table))


def point_in_bbox_from_index(spark: SparkSession, points: DataFrame, table: str) -> DataFrame:
    """``point_in_bbox`` over the stored index: the index side reads WITHOUT
    an Exchange (bucket metadata); only the (small) point stream shuffles
    to the index's bucketing."""

    return _point_hits(points, open_cell_index(spark, table))


def tile_extent_join_from_index(spark: SparkSession, tiles: DataFrame, table: str) -> DataFrame:
    """``tile_extent_join`` over the stored index: the (big) index side of
    the cell equi-join reads WITHOUT an Exchange (bucket metadata); only
    the tiny exploded tile stream shuffles."""

    return _tile_hits(tiles, open_cell_index(spark, table))
