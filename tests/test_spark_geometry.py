"""Spatial-join correctness vs single-node brute-force oracles (SURVEY.md §5
our-strategy (f): join row counts + tile assignments vs a single-node oracle)."""

from __future__ import annotations

import itertools
import math

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from gmx.corpus import bbox_halfdeg
from gmx.geometry import (
    bbox_overlap_pairs,
    cover_cells,
    extents_df,
    knn_points,
    point_in_bbox,
    tile_extent_join,
)


@pytest.fixture(scope="module")
def boxes(doc_ids):
    return {f"doc-{i:08d}": tuple(v / 2 for v in bbox_halfdeg(i)) for i in doc_ids}


@pytest.fixture(scope="module")
def extents(metadata):
    e = extents_df(metadata)
    e.cache().count()
    return e


@pytest.fixture(scope="module")
def points(spark):
    pts = [(k, (-360 + (k * 91) % 720) / 2.0, (-180 + (k * 73) % 360) / 2.0) for k in range(150)]
    df = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    df.cache().count()
    return pts, df


def test_overlap_pairs_exact(extents, boxes):
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(boxes), 2)
        if boxes[a][0] <= boxes[b][2] and boxes[b][0] <= boxes[a][2]
        and boxes[a][1] <= boxes[b][3] and boxes[b][1] <= boxes[a][3]
    }
    got = {(r.a_id, r.b_id) for r in bbox_overlap_pairs(extents).collect()}
    assert got == want


def test_point_in_bbox_exact(extents, boxes, points):
    pts, df = points
    want = {
        (k, d)
        for (k, x, y) in pts
        for d, (w, s, e, n) in boxes.items()
        if w <= x <= e and s <= y <= n
    }
    assert {(r.point_id, r.doc_id) for r in point_in_bbox(df, extents).collect()} == want


def knn_oracle(pts, boxes, k=5):
    cents = {d: ((w + e) / 2, (s + n) / 2) for d, (w, s, e, n) in boxes.items()}
    want = set()
    for pid, x, y in pts:
        order = sorted(((x - cx) ** 2 + (y - cy) ** 2, d) for d, (cx, cy) in cents.items())
        want.update((pid, r + 1, d) for r, (_, d) in enumerate(order[:k]))
    return want


def test_knn_exact(extents, boxes, points):
    pts, df = points
    want = knn_oracle(pts, boxes)
    got = {(r.point_id, r.rank, r.doc_id) for r in knn_points(df, extents).collect()}
    assert got == want


def test_knn_exact_wide_windows_level8(extents, boxes, points):
    """Fine cells (level 8: 1.4 x 0.7 degrees) leave most cells empty, so
    probe windows are many rings wide and the per-cell ring sizing, not
    a dense neighbourhood, carries exactness."""

    pts, df = points
    want = knn_oracle(pts, boxes)
    got = {(r.point_id, r.rank, r.doc_id)
           for r in knn_points(df, extents, level=8).collect()}
    assert got == want


# a coarse lattice with the poles and the antimeridian on it: equal
# distances are common (exact in binary floating point), so the doc_id
# tie-break decides ranks
_LON = st.one_of(st.sampled_from([-180.0, 180.0]), st.integers(-36, 36).map(lambda v: v * 5.0))
_LAT = st.one_of(st.sampled_from([-90.0, 90.0]), st.integers(-18, 18).map(lambda v: v * 5.0))


@settings(max_examples=15, deadline=None)
@given(
    cents=st.lists(st.tuples(_LON, _LAT), max_size=12),
    pts=st.lists(st.tuples(_LON, _LAT), min_size=1, max_size=6),
    k=st.integers(1, 8),
    level=st.sampled_from([1, 4, 8]),
)
@example(cents=[], pts=[(0.0, 0.0)], k=3, level=6)  # empty index
@example(cents=[(10.0, 10.0)] * 3, pts=[(180.0, 90.0), (-180.0, -90.0)], k=5, level=6)
@example(cents=[(0.0, 5.0), (5.0, 0.0), (0.0, -5.0), (-5.0, 0.0)], pts=[(0.0, 0.0)], k=2, level=4)
# the nearest centroid sits two columns out while the point's own cell holds
# a farther one: the probe must reach floor(D/cw)+1 columns, not floor(D/cw)
@example(cents=[(44.5, 22.0), (-45.5, 0.0)], pts=[(0.0, 0.0)], k=1, level=3)
def test_knn_matches_brute_force(spark, cents, pts, k, level):
    """knn_points equals the brute-force oracle for any corpus: k above the
    corpus size, an empty index, points on the poles and at +-180, and
    equal-distance ties (broken by doc_id)."""

    # doc ids in reverse insertion order, so the tie-break is not the
    # order the rows happen to arrive in
    boxes = {f"d{len(cents) - i:02d}": (x, y, x, y) for i, (x, y) in enumerate(cents)}
    ext = spark.createDataFrame(
        [(d, *b) for d, b in boxes.items()],
        "doc_id string, west double, south double, east double, north double",
    )
    pts = [(i, x, y) for i, (x, y) in enumerate(pts)]
    pdf = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    got = {(r.point_id, r.rank, r.doc_id)
           for r in knn_points(pdf, ext, k=k, level=level).collect()}
    assert got == knn_oracle(pts, boxes, k)


def test_knn_plan_has_no_cross_join(spark, extents, points):
    """The probe join is an equi-join at every density — dense, sparse
    (3 docs, windows span most of the grid) and empty — so neither the
    planned nor the final adaptive plan holds a cross product."""

    _, df = points
    sparse = spark.createDataFrame(
        [("a", 170.0, 85.0, 170.0, 85.0), ("b", -170.0, -85.0, -170.0, -85.0),
         ("c", 0.0, 0.0, 0.0, 0.0)],
        "doc_id string, west double, south double, east double, north double",
    )
    for ext in (extents, sparse, sparse.limit(0)):
        for level in (6, 8):
            res = knn_points(df, ext, k=5, level=level)
            planned = res._jdf.queryExecution().executedPlan().toString()
            res.collect()
            final = res._jdf.queryExecution().executedPlan().toString()
            for plan in (planned, final):
                assert "CartesianProduct" not in plan, plan[:3000]
                assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_tile_join_exact(spark, extents, boxes):
    tiles = [(f"t4-{x}-{y}", 4, x, y) for x in range(16) for y in range(16)]
    tdf = spark.createDataFrame(tiles, "tile_id string, z int, x int, y int")
    want = set()
    for t, z, x, y in tiles:
        tw, ts = -180 + x * 360 / 2**z, -90 + y * 180 / 2**z
        te, tn = tw + 360 / 2**z, ts + 180 / 2**z
        for d, (w, s, e, n) in boxes.items():
            if tw <= e and w <= te and ts <= n and s <= tn:
                want.add((t, d))
    got = {(r.tile_id, r.doc_id) for r in tile_extent_join(tdf, extents).collect()}
    assert got == want


def _lon_parts(w, e):
    return [(w, e)] if w <= e else [(w, 180.0), (-180.0, e)]


def _parts_overlap(a, b):
    lon = any(pw <= qe and qw <= pe
              for pw, pe in _lon_parts(a[0], a[2]) for qw, qe in _lon_parts(b[0], b[2]))
    return lon and a[1] <= b[3] and b[1] <= a[3]


def _box_meta(spark, boxes):
    """A metadata frame with one (doc_id -> box) bounding box per row."""
    return spark.createDataFrame(
        [(d, "iso", tuple(str(v) for v in b)) for d, b in boxes.items()],
        "doc_id string, standard string, "
        "bounding_box struct<west:string,south:string,east:string,north:string>",
    )


def test_antimeridian_crossing_boxes(spark):
    """A west>east box is ONE wrapped extent row; pair-emitting joins must
    yield each (a, b) exactly once even when a counterpart overlaps both
    sides of the antimeridian, its covering holds each cell once, and the
    joins answer the same for a plain caller-built extents frame."""

    boxes = {
        "band": (-180.0, -20.0, 180.0, 20.0),   # overlaps both sides of cross
        "cross": (170.0, -10.0, -170.0, 10.0),  # antimeridian-crossing
        "east": (175.0, -5.0, 179.0, 5.0),      # overlaps cross's eastern side only
        "far": (0.0, 40.0, 10.0, 50.0),         # no overlap with cross
        "west2": (-179.0, -5.0, -175.0, 5.0),   # overlaps cross's western side only
        "wide": (10.0, -10.0, 5.0, 10.0),       # crossing, both sides in grid column 8
    }
    ext = extents_df(_box_meta(spark, boxes))

    crossing = [tuple(r) for r in ext.filter("west > east")
                .select("doc_id", "west", "south", "east", "north").collect()]
    assert sorted(crossing) == [(d, *boxes[d]) for d in ("cross", "wide")]
    assert ext.count() == len(boxes)  # one row per doc

    # the covering of a wrapped box: every cell of either side, each once
    cells = [(r.doc_id, r.cell) for r in cover_cells(ext, 4).collect()]
    assert len(cells) == len(set(cells)), "duplicate (doc, cell) rows"

    def span(lo, hi, offset, width):  # level-4 grid indices of [lo, hi]
        first, last = (min(math.floor((v + offset) / width * 16), 15) for v in (lo, hi))
        return range(first, last + 1)

    want_cells = set()
    for d, (w, s, e, n) in boxes.items():
        for pw, pe in _lon_parts(w, e):
            want_cells |= {(d, (4 * 2**28 + x) * 2**28 + y)
                           for x in span(pw, pe, 180, 360) for y in span(s, n, 90, 180)}
    assert set(cells) == want_cells

    want = {
        (x, y)
        for x, y in itertools.combinations(sorted(boxes), 2)
        if _parts_overlap(boxes[x], boxes[y])
    }
    got = [(r.a_id, r.b_id) for r in bbox_overlap_pairs(ext).collect()]
    assert len(got) == len(set(got)), "duplicate pairs emitted"
    assert set(got) == want

    # whole-world tile overlaps every box (and both parts of cross): each
    # (tile, doc) pair exactly once
    tdf = spark.createDataFrame([("t0-0-0", 0, 0, 0)], "tile_id string, z int, x int, y int")
    tj = [(r.tile_id, r.doc_id) for r in tile_extent_join(tdf, ext).collect()]
    assert sorted(tj) == sorted({("t0-0-0", d) for d in boxes})

    # kNN: a crossing doc appears at most once per point (one centroid)
    pdf = spark.createDataFrame(
        [(1, 179.0, 0.0), (2, -179.0, 0.0), (3, 7.0, 0.0)], "point_id long, lon double, lat double"
    )
    res = knn_points(pdf, ext, k=3).collect()
    assert len(res) == len({(r.point_id, r.doc_id) for r in res}) == 9
    # the same boxes as a plain caller-built frame, with no derived columns
    plain = spark.createDataFrame(
        [(d, *b) for d, b in boxes.items()],
        "doc_id string, west double, south double, east double, north double",
    )
    for join in (
        bbox_overlap_pairs,
        lambda e: point_in_bbox(pdf, e),
        lambda e: knn_points(pdf, e, k=3),
    ):
        assert sorted(tuple(r) for r in join(plain).collect()) == sorted(
            tuple(r) for r in join(ext).collect()
        )


_COORD = st.one_of(
    st.none(),
    st.sampled_from(["180", "-180", "180.0", "-180.0", "90", "-90", "0", "junk", "", "1.5x"]),
    st.floats(-400, 400, allow_nan=False).map(repr),
)


def _py_extents(rows):
    """Pure-Python model of extents_df over (doc_id, standard, box) rows: a
    crossing box (west > east) stays one row."""
    out = []
    for doc_id, standard, box in rows:
        try:
            w, s, e, n = (float(v) for v in box)
        except (TypeError, ValueError):
            continue
        if not (-180 <= w <= 180 and -180 <= e <= 180 and s >= -90 and n <= 90 and s <= n):
            continue
        out.append((doc_id, standard, w, s, e, n))
    return sorted(out)


@settings(max_examples=25, deadline=None)
@given(boxes=st.lists(st.tuples(_COORD, _COORD, _COORD, _COORD), max_size=12))
@example(boxes=[("180", "0", "-180", "1"), ("170", "-10", "-170", "10"), ("-180", "0", "180", "0")])
@example(boxes=[("10", "5", "20", "1"), ("200", "0", "10", "1"), ("0", "-91", "1", "0"),
                ("0", "0", "1", "91"), ("junk", "0", "1", "1"), (None, "0", "1", "1")])
def test_extents_match_python_split(spark, boxes):
    """extents_df rows equal a pure-Python validation: crossing boxes (kept
    as one wrapped row), the 180/-180 edges, non-numeric strings, nulls,
    out-of-range values and south > north."""

    rows = [(f"doc-{i}", "iso", b) for i, b in enumerate(boxes)] + [("doc-null", "iso", None)]
    meta = spark.createDataFrame(
        rows,
        "doc_id string, standard string, "
        "bounding_box struct<west:string,south:string,east:string,north:string>",
    )
    got = sorted(tuple(r) for r in extents_df(meta).collect())
    assert got == _py_extents(rows)


def test_extents_plan_is_one_extraction_pass(spark, sf_dir, tmp_path):
    """Extents read ONE extraction node: an unpersisted metadata input is
    not re-run per branch of a union."""
    from gmx import pipeline as P

    P.corpus_df(spark, sf_dir).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))  # a table, as in production
    ext = extents_df(P.metadata_from_corpus(corpus, persist=False, props={"bounding_box"}))

    plan = ext._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Union" not in plan, plan


def test_count_budgeted_overflow_tier(extents, boxes, points, spark, no_broadcast):
    """With broadcasts refused (no_broadcast) the whole-world tier (planted
    1/97 in the corpus) leaves the broadcast for the salted coarse-cell
    equi-join; results must be identical to the broadcast path for all
    three joins, and the forced plan must actually contain the coarse-cell
    join (ccell)."""

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(boxes), 2)
        if boxes[a][0] <= boxes[b][2] and boxes[b][0] <= boxes[a][2]
        and boxes[a][1] <= boxes[b][3] and boxes[b][1] <= boxes[a][3]
    }
    with no_broadcast():
        over = bbox_overlap_pairs(extents)
        got = [(r.a_id, r.b_id) for r in over.collect()]
    assert len(got) == len(set(got)), "coarse route emitted duplicate pairs"
    assert set(got) == want
    plan = over._jdf.queryExecution().optimizedPlan().toString()
    assert "ccell" in plan  # the coarse join is really in the plan
    default_plan = bbox_overlap_pairs(extents)._jdf.queryExecution().optimizedPlan().toString()
    assert "ccell" not in default_plan  # and absent at the session's threshold

    pts, df = points
    want_pts = {
        (k, d)
        for (k, x, y) in pts
        for d, (w, s, e, n) in boxes.items()
        if w <= x <= e and s <= y <= n
    }
    with no_broadcast():
        got_pts = {(r.point_id, r.doc_id) for r in point_in_bbox(df, extents).collect()}
    assert got_pts == want_pts

    tiles = [(f"t3-{x}-{y}", 3, x, y) for x in range(8) for y in range(8)]
    tdf = spark.createDataFrame(tiles, "tile_id string, z int, x int, y int")
    want_tiles = set()
    for t, z, x, y in tiles:
        tw, ts = -180 + x * 360 / 2**z, -90 + y * 180 / 2**z
        te, tn = tw + 360 / 2**z, ts + 180 / 2**z
        for d, (w, s, e, n) in boxes.items():
            if tw <= e and w <= te and ts <= n and s <= tn:
                want_tiles.add((t, d))
    with no_broadcast():
        got_tiles = [(r.tile_id, r.doc_id) for r in tile_extent_join(tdf, extents).collect()]
    assert len(got_tiles) == len(set(got_tiles))
    assert set(got_tiles) == want_tiles

    # at the session's threshold the tier fits and the broadcast path is kept
    assert {(r.a_id, r.b_id) for r in bbox_overlap_pairs(extents).collect()} == want


def test_overflow_tier_with_split_boxes(spark, no_broadcast):
    """The forced coarse route on a corpus that ALSO has antimeridian-
    crossing boxes: the wrapped (split) rows stay broadcast and pair
    emission remains exactly-once even when a counterpart overlaps both
    sides and a coarse-route row pairs with a wrapped row in either doc-id
    order."""

    boxes = {
        "band": (-180.0, -20.0, 180.0, 20.0),   # whole-world -> overflow tier
        "cross": (170.0, -10.0, -170.0, 10.0),  # wrapped row (broadcast)
        "east": (175.0, -5.0, 179.0, 5.0),
        "far": (0.0, 40.0, 10.0, 50.0),
        "west2": (-179.0, -5.0, -175.0, 5.0),
        "zband": (-180.0, -25.0, 180.0, 25.0),  # second overflow row, doc_id AFTER cross
    }
    ext = extents_df(_box_meta(spark, boxes))

    want = {
        (x, y)
        for x, y in itertools.combinations(sorted(boxes), 2)
        if _parts_overlap(boxes[x], boxes[y])
    }
    got = [(r.a_id, r.b_id) for r in bbox_overlap_pairs(ext).collect()]
    assert len(got) == len(set(got)), "duplicates at the session's threshold"
    assert set(got) == want, "wrong pairs at the session's threshold"
    with no_broadcast():
        got = [(r.a_id, r.b_id) for r in bbox_overlap_pairs(ext).collect()]
    assert len(got) == len(set(got)), "duplicates with broadcasts refused"
    assert set(got) == want, "wrong pairs with broadcasts refused"

    tdf = spark.createDataFrame(
        [("t0-0-0", 0, 0, 0)], "tile_id string, z int, x int, y int"
    )
    with no_broadcast():
        tj = [(r.tile_id, r.doc_id) for r in tile_extent_join(tdf, ext).collect()]
    assert sorted(tj) == sorted({("t0-0-0", d) for d in boxes})

    pdf = spark.createDataFrame(
        [(1, 179.0, 0.0), (2, -179.0, 0.0), (3, 5.0, 45.0)],
        "point_id long, lon double, lat double",
    )
    want_pts = {
        (pid, d)
        for pid, x, y in ((1, 179.0, 0.0), (2, -179.0, 0.0), (3, 5.0, 45.0))
        for d, b in boxes.items()
        if _parts_overlap(b, (x, y, x, y))
    }
    with no_broadcast():
        got_pts = {(r.point_id, r.doc_id) for r in point_in_bbox(pdf, ext).collect()}
    assert got_pts == want_pts


def test_tier_stats_observability(extents, spark):
    """tier_stats reports the whole-world (large) tier the corpus plants
    (1/97 docs) and flags crossing boxes as their own slice."""
    from gmx.geometry import tier_stats

    rows = {(r.is_large, r.split): r for r in tier_stats(extents).collect()}
    assert (False, False) in rows and (True, False) in rows
    small, large = rows[(False, False)], rows[(True, False)]
    assert small.n_extents > large.n_extents > 0
    assert large.max_cells > 64  # whole-world coverings exceed the cap

    meta = spark.createDataFrame(
        [("x", "iso", ("170", "-10", "-170", "10"))],
        "doc_id string, standard string, "
        "bounding_box struct<west:string,south:string,east:string,north:string>",
    )
    cross = {(r.is_large, r.split) for r in tier_stats(extents_df(meta)).collect()}
    assert cross == {(True, True)}  # the wrapped row rides the broadcast tier


def test_aqe_skew_join_splits_planted_hot_cell(spark):
    """Turns the documented skew story into a proven one: with one planted
    hot cell (every extent in the same half-degree cell), AQE's skew-join
    must split the hot partition — asserted by reading
    `skew=true` out of the final adaptive physical plan.  Thresholds are
    lowered to test scale; production relies on the same mechanism at its
    defaults (gmx/session.py enables AQE + skewJoin)."""

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        # 20k tiny extents all inside one cell near (0.1..0.15, 0.1..0.15)
        ext = spark.range(20_000).selectExpr(
            "concat('d-', id) AS doc_id",
            "0.1 + (id % 100) * 0.0004 AS west",
            "0.1 + (id % 100) * 0.0004 AS south",
            "0.1001 + (id % 100) * 0.0004 AS east",
            "0.1001 + (id % 100) * 0.0004 AS north",
        )
        # non-constant coords so the cell key is computed per row (a literal
        # would constant-fold the equi-join into a cartesian filter)
        pts = spark.range(50).selectExpr(
            "id AS point_id",
            "0.12 + id * 1e-7 AS lon",
            "0.12 + id * 1e-7 AS lat",
        )
        out = point_in_bbox(pts, ext)
        # collect() drives THIS DataFrame's QueryExecution, so its adaptive
        # plan is final afterwards (count() would execute a sibling plan)
        assert len(out.collect()) > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_cell_index_joins(spark, extents, boxes, points, tmp_path, no_broadcast):
    """Bucketed index tables make repeated spatial joins shuffle-free: the
    index self-join's physical plan has NO Exchange (bucket metadata
    co-locates both sides), and results equal the on-the-fly joins."""

    from gmx.geometry.bucketed import (
        bbox_overlap_pairs_from_index,
        open_cell_index,
        point_in_bbox_from_index,
        write_cell_index,
    )
    from gmx.geometry.joins import _small_pairs

    table = "gmx_test_cellidx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_large")
    write_cell_index(extents, table, str(tmp_path / "cellidx"))

    # at corpus scale the index self-join is a sort-merge join; the test
    # table is broadcast-sized, so pin SMJ to expose the bucketed scan
    with no_broadcast():
        sj = _small_pairs(open_cell_index(spark, table))
        plan = sj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:3000]  # the whole point of bucketing
    assert "Bucketed: true" in plan, plan[:3000]

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(boxes), 2)
        if boxes[a][0] <= boxes[b][2] and boxes[b][0] <= boxes[a][2]
        and boxes[a][1] <= boxes[b][3] and boxes[b][1] <= boxes[a][3]
    }
    got = [(r.a_id, r.b_id) for r in bbox_overlap_pairs_from_index(spark, table).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want

    pts, df = points
    want_pts = {
        (k, d)
        for (k, x, y) in pts
        for d, (w, s, e, n) in boxes.items()
        if w <= x <= e and s <= y <= n
    }
    got_pts = {
        (r.point_id, r.doc_id)
        for r in point_in_bbox_from_index(spark, df, table).collect()
    }
    assert got_pts == want_pts

    # tile join from the same index equals the on-the-fly join exactly
    from gmx.geometry.bucketed import tile_extent_join_from_index

    tiles = [(f"t4-{x}-{y}", 4, x, y) for x in range(16) for y in range(16)]
    tdf = spark.createDataFrame(tiles, "tile_id string, z int, x int, y int")
    want_tiles = {
        (r.tile_id, r.doc_id) for r in tile_extent_join(tdf, extents).collect()
    }
    got_tiles = [
        (r.tile_id, r.doc_id)
        for r in tile_extent_join_from_index(spark, tdf, table).collect()
    ]
    assert len(got_tiles) == len(set(got_tiles))
    assert set(got_tiles) == want_tiles
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_large")


def test_cell_index_doc_view(spark, extents, tmp_path, no_broadcast):
    """CellIndex.docs() yields every small-tier doc exactly once plus every
    large-tier row, for a built and for an opened index alike — on cell
    edges, point boxes, the +-180/+-90 clamps and antimeridian-crossing
    boxes, each of which is ONE wrapped row — and on an opened index it is
    a filter over the stored tables: no Exchange."""

    from gmx.geometry.bucketed import open_cell_index, write_cell_index
    from gmx.geometry.joins import CellIndex

    # level-4 cells are 22.5 x 11.25 degrees
    boxes = {
        "edge_w": (22.5, 10.0, 30.0, 20.0),       # west on a cell edge
        "edge_s": (10.0, 11.25, 20.0, 15.0),      # south on a cell edge
        "edge_all": (-45.0, -22.5, -22.5, 0.0),   # every side on an edge
        "pt": (5.0, 5.0, 5.0, 5.0),
        "pt_edge": (0.0, 0.0, 0.0, 0.0),          # point on a cell corner
        "pt_ne": (180.0, 90.0, 180.0, 90.0),      # clamped into the last cell
        "pt_sw": (-180.0, -90.0, -180.0, -90.0),
        "ne": (170.0, 80.0, 180.0, 90.0),
        "sw": (-180.0, -90.0, -170.0, -80.0),
        "cross": (170.0, -10.0, -170.0, 10.0),    # antimeridian-crossing
        "cross_line": (180.0, 0.0, -180.0, 5.0),  # two slivers, one wrapped row
        "world": (-180.0, -90.0, 180.0, 90.0),    # large tier
    }
    meta = _box_meta(spark, boxes)
    small_ids = set(boxes) - {"cross", "cross_line", "world"}

    def rows(df):
        return sorted(tuple(r) for r in df.select("doc_id", "west", "south", "east", "north",
                                                  "split").collect())

    for name, ext in (("gmx_test_docview", extents_df(meta)), ("gmx_test_docview_sf", extents)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_large")
        write_cell_index(ext, name, str(tmp_path / name))
        for ix in (CellIndex.build(ext), open_cell_index(spark, name)):
            docs = ix.docs()
            small = [r.doc_id for r in docs.filter(~F.col("is_large")).collect()]
            assert len(small) == len(set(small))  # one row per small-tier doc
            assert set(small) == {r.doc_id for r in ix.cells.select("doc_id").collect()}
            assert rows(docs.filter("is_large")) == rows(ix.large)
            # every doc, once: its extent row itself
            assert rows(docs) == rows(ext.selectExpr("*", "west > east AS split"))
            if name == "gmx_test_docview":
                assert set(small) == small_ids

        with no_broadcast():
            docs = open_cell_index(spark, name).docs()
            plan = docs._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:3000]
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_large")


def test_wrapped_large_tier_matches_brute_force(spark, tmp_path, no_broadcast):
    """The large tier holds one row per doc, a crossing box as one wrapped
    row (west > east), and bbox overlap, point-in-bbox and tile joins equal
    brute force over its two longitude ranges — on the fly, from the index, and
    with broadcasts refused (no_broadcast) — each pair exactly once.  The
    served bbox and tile plans join the large tier in ONE broadcast
    nested-loop join with no pair-level aggregate."""

    from gmx.geometry.bucketed import (
        bbox_overlap_pairs_from_index,
        point_in_bbox_from_index,
        tile_extent_join_from_index,
        write_cell_index,
    )
    from gmx.geometry.joins import CellIndex

    boxes = {
        "band": (-180.0, -20.0, 180.0, 20.0),      # whole longitude range in 64 cells: small tier
        "cross": (170.0, -10.0, -170.0, 10.0),
        "cross2": (175.0, 0.0, -175.0, 30.0),      # crossing x crossing
        "cross_line": (180.0, 0.0, -180.0, 5.0),   # west=180, east=-180: two slivers
        "touch_e": (170.0, 40.0, -180.0, 50.0),    # western side is the line lon=-180
        "touch_w": (180.0, -50.0, -170.0, -40.0),  # eastern side is the line lon=180
        "east": (175.0, -5.0, 180.0, 5.0),         # touches 180 only
        "west": (-180.0, -5.0, -175.0, 5.0),       # touches -180 only
        "far": (0.0, 40.0, 10.0, 50.0),
        "small_e": (172.0, 42.0, 174.0, 44.0),     # inside touch_e's eastern side
        "world": (-180.0, -90.0, 180.0, 90.0),     # crossing x whole world
    }
    pts = [
        (1, 179.0, 0.0), (2, -179.0, 0.0), (3, 180.0, 0.0), (4, -180.0, 0.0),
        (5, 180.0, 45.0), (6, -180.0, 45.0), (7, 180.0, -45.0), (8, -180.0, -45.0),
        (9, 173.0, 43.0), (10, 5.0, 45.0), (11, 180.0, 2.0), (12, -180.0, 2.0),
    ]
    ext = extents_df(_box_meta(spark, boxes))
    large = [tuple(r) for r in CellIndex.build(ext).large
             .select("doc_id", "west", "south", "east", "north", "split").collect()]
    assert len(large) == len({r[0] for r in large})  # one row per large doc
    crossing = {d for d, b in boxes.items() if b[0] > b[2]}
    assert {r[0] for r in large} == crossing | {"world"}
    for d, *box, split in large:
        assert (tuple(box), split) == (boxes[d], d in crossing)  # wrapped: the box itself

    want = {(a, b) for a, b in itertools.combinations(sorted(boxes), 2)
            if _parts_overlap(boxes[a], boxes[b])}
    pdf = spark.createDataFrame(pts, "point_id long, lon double, lat double")
    want_pts = {(k, d) for k, x, y in pts for d, b in boxes.items()
                if _parts_overlap(b, (x, y, x, y))}
    tiles = [(f"t{z}-{x}-{y}", z, x, y) for z in (0, 2, 3)
             for x in range(2**z) for y in range(2**z)]
    tdf = spark.createDataFrame(tiles, "tile_id string, z int, x int, y int")
    want_tiles = set()
    for t, z, x, y in tiles:
        tw, ts = -180 + x * 360 / 2**z, -90 + y * 180 / 2**z
        tbox = (tw, ts, tw + 360 / 2**z, ts + 180 / 2**z)
        want_tiles |= {(t, d) for d, b in boxes.items() if _parts_overlap(tbox, b)}

    table = "gmx_test_wrapidx"
    for t in (table, f"{table}_large"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_cell_index(ext, table, str(tmp_path / "wrapidx"))
    runs = {
        "on the fly": (
            lambda: bbox_overlap_pairs(ext),
            lambda: point_in_bbox(pdf, ext),
            lambda: tile_extent_join(tdf, ext),
        ),
        "from index": (
            lambda: bbox_overlap_pairs_from_index(spark, table),
            lambda: point_in_bbox_from_index(spark, pdf, table),
            lambda: tile_extent_join_from_index(spark, tdf, table),
        ),
    }

    def check(pairs, hits, tile_hits, at):
        got = [(r.a_id, r.b_id) for r in pairs().collect()]
        assert len(got) == len(set(got)) and set(got) == want, at
        got = [(r.point_id, r.doc_id) for r in hits().collect()]
        assert len(got) == len(set(got)) and set(got) == want_pts, at
        got = [(r.tile_id, r.doc_id) for r in tile_hits().collect()]
        assert len(got) == len(set(got)) and set(got) == want_tiles, at

    for source, joins in runs.items():
        check(*joins, (source, "broadcast"))
        with no_broadcast():
            check(*joins, (source, "coarse"))

    for served in (bbox_overlap_pairs_from_index(spark, table),
                   tile_extent_join_from_index(spark, tdf, table)):
        planned = served._jdf.queryExecution().executedPlan().toString()
        served.collect()
        # the finished adaptive plan prints its final and its initial plan
        final = served._jdf.queryExecution().executedPlan().toString()
        final = final.split("== Initial Plan ==")[0]
        for plan in (planned, final):
            assert plan.count("BroadcastNestedLoopJoin") == 1, plan[:3000]
            assert "HashAggregate" not in plan, plan[:3000]
    for t in (table, f"{table}_large"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_index_tables_one_file_per_bucket(spark, extents, tmp_path):
    """Every bucketed table write_cell_index and write_centroid_index store
    holds at most ``buckets`` data files, and every row of its file hashes
    to the bucket id in that file's name: the tables are written
    bucket-aligned, one file per bucket.  The broadcast tier ``cell_large``
    is one file whatever the input's partitioning.  Without ``buckets`` the
    count is the session's parallelism, recorded as ``gmx.buckets``."""

    import re

    from gmx.geometry.bucketed import write_cell_index, write_centroid_index

    width = spark.sparkContext.defaultParallelism
    cell, cent = "gmx_test_layout_cell", "gmx_test_layout_cent"
    for buckets in (4, None):
        want = buckets or width
        root = tmp_path / str(buckets)
        # more input partitions than buckets: a per-partition write of the
        # broadcast tier would leave several files
        ext = extents.repartition(2 * want + 1)
        for t in (cell, f"{cell}_large", cent):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        write_cell_index(ext, cell, str(root / "cell"), buckets=buckets)
        write_centroid_index(ext, cent, str(root / "cent"), buckets=buckets)
        for t in (cell, cent):
            props = {r["key"]: r["value"]
                     for r in spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
            assert props["gmx.buckets"] == str(want), (t, props)

        assert len(list((root / "cell_large").glob("*.parquet"))) == 1
        for name in ("cell", "cent"):
            files = sorted((root / name).glob("*.parquet"))
            assert 0 < len(files) <= want, (name, [f.name for f in files])
            ids = [int(re.fullmatch(r".*_(\d+)(?:\..*)?", f.name).group(1)) for f in files]
            assert len(set(ids)) == len(ids), name  # one file per bucket
            for f, bucket in zip(files, ids):
                got = {r[0] for r in spark.read.parquet(str(f))
                       .selectExpr(f"pmod(hash(cell), {want})").distinct().collect()}
                assert got == {bucket}, (name, f.name)
    for t in (cell, f"{cell}_large", cent):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_index_forced_overflow(spark, extents, points, tmp_path, no_broadcast):
    """The coarse large-tier route works on the bucketed-index path too:
    with broadcasts refused (no_broadcast) the whole-world tier routes
    through the salted coarse-cell equi-join instead of a broadcast, with
    identical results."""

    from gmx.geometry.bucketed import (
        bbox_overlap_pairs_from_index,
        point_in_bbox_from_index,
        write_cell_index,
    )

    table = "gmx_test_ovfidx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_large")
    write_cell_index(extents, table, str(tmp_path / "ovfidx"))
    assert spark.table(f"{table}_large").count() > 0  # whole-world boxes exist

    base = {(r.a_id, r.b_id) for r in bbox_overlap_pairs_from_index(spark, table).collect()}
    with no_broadcast():
        ovf = [(r.a_id, r.b_id) for r in bbox_overlap_pairs_from_index(spark, table).collect()]
    assert len(ovf) == len(set(ovf))  # coarse reference-point dedup holds
    assert set(ovf) == base

    _, df = points
    base_pts = {(r.point_id, r.doc_id)
                for r in point_in_bbox_from_index(spark, df, table).collect()}
    with no_broadcast():
        ovf_pts = {(r.point_id, r.doc_id)
                   for r in point_in_bbox_from_index(spark, df, table).collect()}
    assert ovf_pts == base_pts
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_large")


def test_bucketed_centroid_index_knn(spark, extents, boxes, points, tmp_path, no_broadcast):
    """At write levels 5, 6 and 7, knn_from_index, sized by the cell counts
    the writer recorded, equals both knn_points (counts aggregated on the
    fly) and the brute-force oracle — also for points far from every
    centroid, whose probe windows span many empty rings;
    invalidate_index_level forgets the counts and the re-read table
    property gives the same answer.  The probe join reads the centroid
    side from bucket metadata (bucketed scan, no Exchange above it)."""

    import numpy as np

    from gmx.geometry import bucketed
    from gmx.geometry.bucketed import (
        invalidate_index_level,
        knn_from_index,
        write_centroid_index,
    )

    table = "gmx_test_centidx"
    # centroids reach lat 79 at most: the pole is 11-33 degrees from all
    far = [(1000 + i, x, y) for i, (x, y) in enumerate(
        [(180.0, 90.0), (120.0, 90.0), (-150.0, 90.0), (179.5, 89.5)])]
    far_df = spark.createDataFrame(far, "point_id long, lon double, lat double")
    pts, df = points
    for level in (5, 6, 7):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        write_centroid_index(extents, table, str(tmp_path / f"centidx{level}"), level=level)
        for batch, bdf in ((pts, df), (far, far_df)):
            got = {tuple(r) for r in knn_from_index(spark, bdf, table).collect()}
            want = {tuple(r) for r in knn_points(bdf, extents, level=level).collect()}
            assert got == want, level
            assert {(p, r, d) for p, r, d, _ in got} == knn_oracle(batch, boxes), level

        key = bucketed._memo_key(spark, table)
        written = bucketed._COUNTS_MEMO[key]
        assert len(written) <= min(len(boxes), 4**level)
        invalidate_index_level(table)
        assert key not in bucketed._COUNTS_MEMO and key not in bucketed._LEVEL_MEMO
        again = {tuple(r) for r in knn_from_index(spark, far_df, table).collect()}
        assert np.array_equal(bucketed._COUNTS_MEMO[key], written), level  # property round-trips
        assert {(p, r, d) for p, r, d, _ in again} == knn_oracle(far, boxes), level

    # plan check on the first-round probe join shape: points side shuffles
    # to the index's bucketing, index side scans its buckets directly
    from gmx.geometry.cellgrid import covering_expr

    with no_broadcast():
        probe = df.select(
            "point_id",
            F.explode(
                covering_expr("lon - 1", "lat - 1", "lon + 1", "lat + 1", 6)
            ).alias("cell"),
        ).join(spark.table(table), on="cell")
        plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan[:3000]
    # exactly one Exchange (the probe side); none above the bucketed scan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.fixture(scope="module")
def served_index(spark, extents, tmp_path_factory):
    """(cell table, centroid table) written once for the served-plan tests."""

    from gmx.geometry.bucketed import write_cell_index, write_centroid_index

    cell, cent = "gmx_test_served_cell", "gmx_test_served_cent"
    tables = (cell, f"{cell}_large", cent)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    path = tmp_path_factory.mktemp("served")
    write_cell_index(extents, cell, str(path / "cell"))
    write_centroid_index(extents, cent, str(path / "cent"))
    yield cell, cent
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("query", ["bbox_overlap", "point_in_bbox", "knn", "tile_join"])
def test_served_plans_build_without_jobs(spark, served_index, points, tmp_path, query):
    """Building a *_from_index DataFrame launches no Spark job, also with a
    cold property memo (SHOW TBLPROPERTIES is a driver-side command): the
    kNN probe windows come from the counts write_centroid_index recorded,
    not from an aggregate at call time.  A centroid table without them is
    refused rather than counted."""

    from gmx.geometry.bucketed import (
        bbox_overlap_pairs_from_index,
        invalidate_index_level,
        knn_from_index,
        point_in_bbox_from_index,
        tile_extent_join_from_index,
        write_centroid_index,
    )

    cell, cent = served_index
    _, pts = points
    tiles = spark.createDataFrame([("t3-1-2", 3, 1, 2)], "tile_id string, z int, x int, y int")
    build = {
        "bbox_overlap": lambda: bbox_overlap_pairs_from_index(spark, cell),
        "point_in_bbox": lambda: point_in_bbox_from_index(spark, pts, cell),
        "knn": lambda: knn_from_index(spark, pts, cent),
        "tile_join": lambda: tile_extent_join_from_index(spark, tiles, cell),
    }[query]
    sc = spark.sparkContext
    for memo in ("cold", "warm"):
        if memo == "cold":
            invalidate_index_level(cell)
            invalidate_index_level(cent)
        group = f"gmx-test-build-{query}-{memo}"
        sc.setJobGroup(group, "plan build only")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], memo

    if query == "knn":
        table = "gmx_test_nocounts"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        ext = spark.createDataFrame(
            [("a", 1.0, 2.0, 3.0, 4.0)],
            "doc_id string, west double, south double, east double, north double",
        )
        write_centroid_index(ext, table, str(tmp_path / "nocounts"))
        spark.sql(f"ALTER TABLE {table} UNSET TBLPROPERTIES ('gmx.cell_counts')")
        invalidate_index_level(table)
        with pytest.raises(ValueError, match="write_centroid_index"):
            knn_from_index(spark, pts, table)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_cover_cells_match_oracle(spark, extents, boxes):
    """At levels 2, 4, 6 and 10 the SQL-text grid equals closed-form Python
    math on the corpus extents, and its numpy twin (np_cell_id of
    np_cell_ix, np_cell_iy) on adversarial coordinates: +-180 and +-90,
    exact cell edges, values just outside the globe (clamped into the edge
    cells) and null coordinates."""

    import numpy as np

    from gmx.geometry.cellgrid import (
        covering_expr,
        covering_size_expr,
        np_cell_id,
        np_cell_ix,
        np_cell_iy,
        point_cell_expr,
    )

    for level in (2, 4, 6, 10):
        n = 2**level
        cap = 1024  # the level-10 whole-world covering is 2^20 cells per doc
        want, small = set(), []
        for d, (w, s, e, nn) in boxes.items():
            ix0, ix1 = (min(max(math.floor((v + 180) / 360 * n), 0), n - 1) for v in (w, e))
            iy0, iy1 = (min(max(math.floor((v + 90) / 180 * n), 0), n - 1) for v in (s, nn))
            if (ix1 - ix0 + 1) * (iy1 - iy0 + 1) > cap:
                continue
            small.append(d)
            for ix in range(ix0, ix1 + 1):
                for iy in range(iy0, iy1 + 1):
                    want.add((d, (level * 2**28 + ix) * 2**28 + iy))
        small_ext = extents.filter(F.col("doc_id").isin(small))
        got = {(r.doc_id, r.cell) for r in cover_cells(small_ext, level).collect()}
        assert got == want, level

        cw, ch = 360 / n, 180 / n
        lons = [-180.5, math.nextafter(-180.0, -181.0), -180.0, -180 + cw, -cw, 0.0, cw / 3,
                180 - cw, 180.0, math.nextafter(180.0, 181.0), 180.5]
        lats = [-90.5, math.nextafter(-90.0, -91.0), -90.0, -90 + ch, -ch, 0.0, ch / 3,
                90 - ch, 90.0, math.nextafter(90.0, 91.0), 90.5]
        # each box spans (x, y) to two cells further north-east, so coverings
        # stay small at every level and both ends meet the clamps
        coords = [(x, y) for x in lons for y in lats] + [(None, 0.0), (0.0, None)]
        rows = [(i, x, y, None if x is None else x + 2 * cw, None if y is None else y + 2 * ch)
                for i, (x, y) in enumerate(coords)]
        df = spark.createDataFrame(rows, "id long, x double, y double, x2 double, y2 double")
        got = df.select(
            "id",
            point_cell_expr("x", "y", level).alias("cell"),
            covering_expr("x", "y", "x2", "y2", level).alias("cover"),
            covering_size_expr("x", "y", "x2", "y2", level).alias("size"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            _, x, y, x2, y2 = rows[r.id]
            if x is None or y is None:
                assert (r.cell, r.cover, r.size) == (None, None, None), (level, x, y)
                continue
            ix0, ix1 = np_cell_ix(np.array([x, x2]), level)
            iy0, iy1 = np_cell_iy(np.array([y, y2]), level)
            ix, iy = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1), indexing="ij")
            assert r.cell == np_cell_id(level, ix0, iy0), (level, x, y)
            assert r.cover == np_cell_id(level, ix, iy).ravel().tolist(), (level, x, y)
            assert r.size == (ix1 - ix0 + 1) * (iy1 - iy0 + 1), (level, x, y)


def test_index_level_memoized(spark, extents, tmp_path, monkeypatch):
    """After a write (or one cold lookup) index_level is a pure dict hit:
    from-index plan construction runs NO driver job / SQL round-trip.
    VERDICT r4 #5."""

    from gmx.geometry import bucketed
    from gmx.geometry.bucketed import (
        index_level,
        invalidate_index_level,
        write_cell_index,
    )

    table = "gmx_test_levelmemo"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_large")
    write_cell_index(extents, table, str(tmp_path / "lvlidx"))

    # the writer primed the memo — a repeated lookup must not touch the
    # catalog at all (any spark.sql would blow up here)
    lvl = index_level(spark, table)
    monkeypatch.setattr(
        spark, "sql", lambda *a, **k: (_ for _ in ()).throw(AssertionError("SQL issued"))
    )
    for _ in range(5):
        assert index_level(spark, table) == lvl
    monkeypatch.undo()

    # invalidation forces a real re-read and re-primes the memo; keys are
    # scoped to the current database so bare names cannot collide across
    # databases (r5 review)
    key = bucketed._memo_key(spark, table)
    assert key[1].endswith("." + table)
    invalidate_index_level(table)
    assert key not in bucketed._LEVEL_MEMO
    assert index_level(spark, table) == lvl
    assert bucketed._LEVEL_MEMO[key] == lvl

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_large")


def test_index_level_memo_scoped_to_application(spark, extents, tmp_path, monkeypatch):
    """A level memoized under another (stopped) application is never
    reused: the lookup re-reads the table property of the live catalog."""

    from gmx.geometry import bucketed
    from gmx.geometry.bucketed import index_level, write_centroid_index

    table = "gmx_test_levelapp"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_centroid_index(extents, table, str(tmp_path / "lvlapp"), level=5)
    key = bucketed._memo_key(spark, table)
    assert key[0] == spark.sparkContext.applicationId
    monkeypatch.setattr(bucketed, "_LEVEL_MEMO", {("local-stopped-app", key[1]): 9})
    assert index_level(spark, table) == 5
    assert bucketed._LEVEL_MEMO[key] == 5
    spark.sql(f"DROP TABLE IF EXISTS {table}")
