"""Driver-contract checks: every query hash-equals its DuckDB twin, the
comparison tools/check_correctness.py runs."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    from tools.check_correctness import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_oracle_keys_subset_of_queries():
    # every contract query has a DuckDB twin, and every twin a query
    assert set(entry.oracle_sql()) == set(entry.queries())


def test_xxhash64_twin_matches_spark(spark, duck):
    """The oracles' xxhash64 SQL equals Spark's xxhash64 on seeded strings
    of UTF-8 byte length 0-100 (multi-byte characters included, so every
    tail path of XXH64 and the 32-byte stripes run) and on chained
    (int, long, long) rows at the type extremes."""
    import random

    from pyspark.sql import functions as F

    from gmx.oracles import xxhash64_sql

    rng = random.Random(14)
    alphabet = "ab z09é日本語"
    strs = [""]
    for n in range(101):
        s = ""
        while len((s + "日").encode()) <= n:
            s += rng.choice(alphabet)
        strs.append(s + "a" * (n - len(s.encode())))
    assert sorted({len(s.encode()) for s in strs}) == list(range(101))
    want = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    got = duck.sql(
        f"SELECT s, {xxhash64_sql(('s', 'string'))} AS h FROM (SELECT unnest($1) AS s)",
        params=[strs],
    ).fetchall()
    assert dict(got) == {r.s: r.h for r in want.collect()}

    i32, i64 = (-(2**31), 2**31 - 1), (-(2**63), 2**63 - 1)
    rows = [(i32[0], i64[0], i64[1]), (i32[1], 0, -1), (0, 0, 0)] + [
        (rng.randint(*i32), rng.randint(*i64), rng.randint(*i64)) for _ in range(100)
    ]
    want = spark.createDataFrame(rows, "a int, b long, c long").select(
        "a", "b", "c", F.xxhash64("a", "b", "c").alias("h")
    )
    hashed = xxhash64_sql(("a", "int"), ("b", "long"), ("c", "long"))
    got = duck.sql(
        f"SELECT a, b, c, {hashed} FROM (SELECT r[1]::INT AS a, r[2]::BIGINT AS b, "
        "r[3]::BIGINT AS c FROM (SELECT unnest($1) AS r))",
        params=[[list(r) for r in rows]],
    ).fetchall()
    assert set(got) == {tuple(r) for r in want.collect()}


def test_gate_memos_scoped_to_application(spark, sf_dir, monkeypatch):
    """Gate memos made under another (stopped) application are not reused:
    the index is rebuilt and the pair set recomputed for the live one."""
    from gmx import queries
    from gmx.geometry import bucketed

    writes = []
    monkeypatch.setattr(bucketed, "write_cell_index", lambda *a, **k: writes.append(a[1]))
    monkeypatch.setattr(queries, "_GATE_INDEXES", set())
    table = queries._gate_index(spark, sf_dir, "cell")
    stale = ("local-stopped-app", table)
    monkeypatch.setattr(queries, "_GATE_INDEXES", {stale})
    assert queries._gate_index(spark, sf_dir, "cell") == table
    assert writes == [table, table]
    queries._gate_index(spark, sf_dir, "cell")
    assert len(writes) == 2  # the live application's entry is reused

    monkeypatch.setattr(queries, "minhash_pairs", lambda *a, **k: spark.range(3))
    monkeypatch.setattr(queries, "_GATE_PAIRS", {("local-stopped-app", sf_dir): "stale"})
    pairs = queries._gate_near_dup_pairs(spark, sf_dir)
    assert pairs != "stale" and pairs.count() == 3
    pairs.unpersist()


def test_gate_index_rebuild_leaves_no_directory(spark, sf_dir, tmp_path, monkeypatch):
    """A rebuilt gate index overwrites its own files: the process keeps ONE
    gmx_gate_* directory, however often an index is rebuilt."""
    import tempfile

    from gmx import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    queries._gate_root.cache_clear()
    own = f"{sf_dir}/"  # same data, a table of its own: other tests' stay put
    try:
        for _ in range(2):
            monkeypatch.setattr(queries, "_GATE_INDEXES", set())
            table = queries._gate_index(spark, own, "cell")
            assert spark.table(table).count() > 0
        assert [str(p) for p in tmp_path.glob("gmx_gate_*")] == [queries._gate_root()]
    finally:
        queries._gate_root.cache_clear()


def _assert_matches_oracle(duck, df, name):
    from tools.check_correctness import frame_hash

    want = duck.sql(entry.oracle_sql()[name])
    assert frame_hash(df.columns, [tuple(r) for r in df.collect()]) == frame_hash(
        want.columns, want.fetchall()
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# the six cell joins: three on the fly, three served from the bucketed index
SPATIAL_JOINS = [
    "spatial_bbox_overlap_join", "spatial_point_in_bbox", "spatial_raster_tile_join",
    "spatial_bbox_overlap_indexed", "spatial_point_in_bbox_indexed", "spatial_tile_join_indexed",
]


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_queries_match_oracle(spark, sf_dir, duck, name):
    """Every contract query hash-equals its DuckDB twin.  At the session's
    broadcast threshold the spatial joins broadcast their large tier: no
    coarse-cell join (``ccell``) in their plans."""

    df = entry.queries()[name](spark, sf_dir)
    if name in SPATIAL_JOINS:
        assert "ccell" not in _plan(df)
    _assert_matches_oracle(duck, df, name)


@pytest.mark.parametrize("name", SPATIAL_JOINS)
def test_spatial_joins_match_oracle_without_broadcast(spark, sf_dir, duck, no_broadcast, name):
    """With broadcasts refused (``autoBroadcastJoinThreshold=-1``) the
    large tier takes the salted coarse-cell route, and each spatial join
    still hash-equals its DuckDB twin."""

    with no_broadcast():
        df = entry.queries()[name](spark, sf_dir)
        assert "ccell" in _plan(df)
        _assert_matches_oracle(duck, df, name)


def test_spatial_joins_take_no_tuning_parameter():
    """No public spatial join takes a tuning knob: every parameter is an
    input, the session, the index table, the grid level or kNN's k."""
    import inspect

    import gmx.geometry as G
    from gmx.geometry import bucketed

    joins = [G.bbox_overlap_pairs, G.point_in_bbox, G.tile_extent_join, G.knn_points,
             bucketed.bbox_overlap_pairs_from_index, bucketed.point_in_bbox_from_index,
             bucketed.tile_extent_join_from_index, bucketed.knn_from_index]
    assert {f.__name__ for f in joins[:4]} <= set(G.__all__)
    allowed = {"points", "extents", "tiles", "spark", "table", "k", "level"}
    for f in joins:
        assert set(inspect.signature(f).parameters) <= allowed, f.__name__
