"""Driver-contract consistency checks (cheap; full oracle comparison runs in
tools/check_correctness.py and in the driver itself)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def test_oracle_keys_subset_of_queries():
    # every contract query has a DuckDB twin, and every twin a query
    assert set(entry.oracle_sql()) == set(entry.queries())


def test_oracle_sql_is_runnable_duckdb(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, sql in entry.oracle_sql().items():
        n = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        assert n >= 0, name


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


@pytest.mark.parametrize("name", [
    "spatial_knn", "spatial_knn_indexed",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "ann_lsh_topk",
    "dedup_clusters", "dedup_clusters_star",
])
def test_queries_match_oracle(spark, sf_dir, name):
    """These contract queries hash-equal their DuckDB twins: both kNN
    queries and the band-join dedup, ANN LSH and clustering queries."""
    import duckdb

    from tools.check_correctness import TABLES, frame_hash

    df = entry.queries()[name](spark, sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = con.sql(entry.oracle_sql()[name])
    assert frame_hash(df.columns, [tuple(r) for r in df.collect()]) == frame_hash(
        want.columns, want.fetchall()
    )
