"""Hierarchical equirectangular cell grid (H3/S2-style discrete global grid).

Neither the h3 nor s2geometry wheels exist in this environment, so the engine
ships its own discrete global grid with the same *join semantics* (hierarchical
covering -> equi-join -> exact refine).  Level ``L`` divides lon [-180,180)
into 2^L columns and lat [-90,90) into 2^L rows; a cell id packs
``(level, ix, iy)`` into one int64 via pure integer arithmetic:

    cell_id = (L * 2^28 + ix) * 2^28 + iy

Everything is closed-form integer math on the half-degree coordinate lattice
(gmx.corpus), so cell assignment is bit-identical between the Spark
expressions, numpy (``np_cell_*``, pinned to them in tests), and the DuckDB
oracle SQL — no library dependence, no floating-point grid-boundary
ambiguity.

Each grid expression (cell ix/iy/id, point cell, covering, covering size,
range window) is one SQL expression: the ``*_sql`` builders compose SQL
text from column names or SQL text, and each ``*_expr`` turns it into a
Column with a single ``F.expr``.  Building a plan then costs a few driver
round trips per expression, not several per operator node.  Literal-typing
rule: doubles are written ``180.0D`` (a bare ``180.0`` is a DECIMAL in
Spark SQL) and bigints ``...L``, so every expression keeps the types —
and the values — of the closed-form math above.

Parent/child relation: cell at L+1 has ix//2, iy//2 at L — used to coarsen
coverings of huge (whole-world) extents instead of emitting thousands of
fine cells (skew control, SURVEY.md §2.7).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

CELL_BASE = 1 << 28  # packing radix; supports levels up to 27

DEFAULT_LEVEL = 4  # 22.5 deg x 11.25 deg cells; whole-world covering = 256 cells


def nx(level: int) -> int:
    return 1 << level


# SQL text builders.  Inputs are column names or SQL text and are always
# parenthesised, so ``"lon - 1"`` composes safely.  Literal types follow
# the rule in the module docstring.

def _grid_index(v: str, offset: str, span: str, level: int) -> str:
    """Coordinate ``v`` -> grid index at ``level``, clamped to the grid.
    greatest/least skip nulls, so a null ``v`` is mapped to null
    explicitly: a null coordinate has no cell and joins nothing."""

    n = nx(level)
    clamped = f"greatest(0, least({n - 1}, floor((({v}) + {offset}) / {span} * {n})))"
    return f"CASE WHEN ({v}) IS NOT NULL THEN CAST({clamped} AS BIGINT) END"


def cell_ix_sql(lon: str, level: int) -> str:
    """Longitude (deg) -> column index at ``level``."""

    return _grid_index(lon, "180.0D", "360.0D", level)


def cell_iy_sql(lat: str, level: int) -> str:
    """Latitude (deg) -> row index at ``level``."""

    return _grid_index(lat, "90.0D", "180.0D", level)


def cell_id_sql(level: int, ix: str, iy: str) -> str:
    return f"({level}L * {CELL_BASE}L + ({ix})) * {CELL_BASE}L + ({iy})"


def point_cell_sql(lon: str, lat: str, level: int) -> str:
    return cell_id_sql(level, cell_ix_sql(lon, level), cell_iy_sql(lat, level))


def cells_for_ranges_sql(ix0: str, ix1: str, iy0: str, iy1: str, level: int) -> str:
    """Array<long> of cell ids for an inclusive index-range window — built
    with sequence + nested transform + flatten so the generated code is a
    loop, not an unrolled expression (unrolling blows janino's 64KB method
    limit for large windows).  Column indices wrap modulo the grid width,
    so a window may run past the last column into the first.  The lambda
    variables carry a ``_gmx_`` prefix so they cannot shadow a data column
    the bounds refer to."""

    cell = cell_id_sql(level, f"_gmx_ix % {nx(level)}", "_gmx_iy")
    return (
        f"flatten(transform(sequence({ix0}, {ix1}), _gmx_ix -> "
        f"transform(sequence({iy0}, {iy1}), _gmx_iy -> {cell})))"
    )


def _last_column_sql(west: str, east: str, level: int) -> str:
    """The last column of a box's covering, counted past the grid's last
    column for a wrapped box (west > east): its columns are
    [ix(west), n-1] then [0, ix(east)], at most n distinct ones."""

    n, ix0, ix1 = nx(level), cell_ix_sql(west, level), cell_ix_sql(east, level)
    return f"CASE WHEN ({west}) > ({east}) THEN least({ix1} + {n}, {ix0} + {n - 1}) ELSE {ix1} END"


def covering_sql(west: str, south: str, east: str, north: str, level: int) -> str:
    """Array<long> of distinct cell ids covering a bbox at ``level``; a
    wrapped box (west > east) covers both sides of the antimeridian."""

    return cells_for_ranges_sql(
        cell_ix_sql(west, level), _last_column_sql(west, east, level),
        cell_iy_sql(south, level), cell_iy_sql(north, level), level,
    )


def covering_size_sql(west: str, south: str, east: str, north: str, level: int) -> str:
    """The number of cells :func:`covering_sql` yields."""

    return (
        f"({_last_column_sql(west, east, level)} - {cell_ix_sql(west, level)} + 1)"
        f" * ({cell_iy_sql(north, level)} - {cell_iy_sql(south, level)} + 1)"
    )


# Column forms: one F.expr over the SQL text above each.

def cell_ix_expr(lon: str, level: int) -> Column:
    return F.expr(cell_ix_sql(lon, level))


def cell_iy_expr(lat: str, level: int) -> Column:
    return F.expr(cell_iy_sql(lat, level))


def cell_id_expr(level: int, ix: str, iy: str) -> Column:
    return F.expr(cell_id_sql(level, ix, iy))


def point_cell_expr(lon: str, lat: str, level: int) -> Column:
    return F.expr(point_cell_sql(lon, lat, level))


def covering_expr(west: str, south: str, east: str, north: str, level: int) -> Column:
    return F.expr(covering_sql(west, south, east, north, level))


def covering_size_expr(west: str, south: str, east: str, north: str, level: int) -> Column:
    return F.expr(covering_size_sql(west, south, east, north, level))


# ----------------------------------------------------------- numpy twin
# Used by single-node oracles in tests; must match the Spark expressions
# exactly (integer/double arithmetic is identical by construction).

def np_cell_ix(lon: np.ndarray, level: int) -> np.ndarray:
    n = nx(level)
    return np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)


def np_cell_iy(lat: np.ndarray, level: int) -> np.ndarray:
    n = nx(level)
    return np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)


def np_cell_id(level: int, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (level * CELL_BASE + ix) * CELL_BASE + iy
