"""Bench harness: spatial-join + tile-assignment pipeline throughput.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (else the usable core count) and prints ONE
JSON line:
  {"metric": ..., "value": spatial_pipeline_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "docs": N, "docs_per_sec": ...}

``value`` is the wall time of the north-rule pipeline (corpus table scan ->
extraction -> bucketed cell/centroid INDEX BUILD -> bbox-overlap / PIP /
kNN / tile joins SERVED FROM THE INDEX) over ``GMX_BENCH_SCALE`` x
|documents| docs (default x40).  Since round 4 the measured pipeline is the
amortized 100 TB plan: ``index_build`` (timed, included in the headline)
pays the exploded-covering shuffle ONCE into bucketed+sorted tables
(gmx.geometry.bucketed), and every spatial join reads the index side with
no Exchange — at corpus scale that build is amortized over many queries,
so one-build + one-of-each-join is the conservative accounting.  The
synthetic span corpus is materialized to parquet under /tmp ONCE, untimed,
and reused across runs: in production the corpus is an existing Iceberg
table, so the engine's work starts at the scan — timing synthesis would
charge test scaffolding to the engine (and it costs as much as extraction
itself).  Fixed-size auxiliary ops (dedup/ANN over the raw sf tables) are
timed and reported in ``queries`` but excluded from the headline value,
matching BASELINE.json's metric ("spatial-join + tile-assignment throughput
(docs/sec)").

A small untimed warm-up pass runs every query shape first so JIT compilation
and Python-worker spawn (one-time costs on a long-lived cluster) don't skew
the steady-state measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

SPATIAL = (
    "extract", "index_build", "tile_cover", "bbox_overlap", "point_in_bbox",
    "knn", "tile_join",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scale = int(os.environ.get("GMX_BENCH_SCALE", "40"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from gmx import pipeline as P
    from gmx.geometry import cover_cells, extents_df
    from gmx.geometry.bucketed import (
        bbox_overlap_pairs_from_index,
        knn_from_index,
        point_in_bbox_from_index,
        tile_extent_join_from_index,
        write_cell_index,
        write_centroid_index,
    )
    from gmx.queries import _points, _tiles
    from gmx.session import get_spark, usable_cpus
    from gmx.textops import cosine_topk, minhash_pairs

    cpus = usable_cpus()  # SPARK_GRAFT_CPUS, else the usable core count
    spark = get_spark("gmx-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    raw_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    raw_docs.count()

    # materialize the span corpus as a table (untimed; reused across runs so
    # both parallelism levels in the scaling comparison read identical input).
    # The cache key includes a hash of the synthesis code so editing corpus
    # generation can never silently reuse a stale /tmp corpus.
    import hashlib
    import gmx.corpus, gmx.serialize  # noqa: E401 (corpus rows depend on both)

    src = b""
    for mod in (gmx.corpus, gmx.serialize):
        with open(mod.__file__, "rb") as fh:
            src += fh.read()
    tag = hashlib.sha1(src).hexdigest()[:8]
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    corpus_path = f"/tmp/gmx_bench_corpus_{sf_name}_x{scale}_{tag}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        # fixed file count, independent of THIS run's parallelism: a corpus
        # written by the local[2] leg would otherwise carry 2 files and cap
        # the local[8] leg's scan parallelism (a real Iceberg corpus has
        # thousands of files, so scan splits are never the binding constraint)
        P.corpus_df(spark, sf_dir, scale=scale, partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()
    pts = _points(spark, sf_dir).persist()
    pts.count()
    tiles = _tiles(spark)

    # index table names/paths: per (sf, scale) so parallel configurations
    # never collide; the writers default to one bucket per core of the
    # session (at corpus scale pass buckets sized to the data)
    idx_dir = f"/tmp/gmx_bench_idx_{sf_name}_x{scale}"
    cell_tab, cent_tab = "gmx_bench_cell_idx", "gmx_bench_cent_idx"

    # ---- warm-up (untimed): every query shape once at scale 1, including
    # one index build + the from-index join shapes
    warm_meta = P.metadata_df(spark, sf_dir, scale=1).persist()
    warm_meta.count()
    warm_ext = extents_df(warm_meta).persist()
    warm_ext.count()
    cover_cells(warm_ext, 4).count()
    write_cell_index(warm_ext, cell_tab, f"{idx_dir}/cell")
    write_centroid_index(warm_ext, cent_tab, f"{idx_dir}/cent")
    bbox_overlap_pairs_from_index(spark, cell_tab).count()
    point_in_bbox_from_index(spark, pts, cell_tab).count()
    knn_from_index(spark, pts, cent_tab).count()
    tile_extent_join_from_index(spark, tiles, cell_tab).count()
    minhash_pairs(raw_docs, threshold=0.1).count()
    cosine_topk(emb).count()
    warm_meta.unpersist()
    warm_ext.unpersist()

    # ---- timed runs
    # The sandbox host shows BURSTY hypervisor CPU steal (measured up to 35%
    # for ~2-minute windows, with 3-10x wall-time swings on identical runs).
    # A single-shot measurement landing in a steal window misstates the
    # engine by the same factor, so each query is timed GMX_BENCH_REPS times
    # (default 3, identical uncached work each rep) and the MEDIAN is
    # reported; the full per-query distributions ride in the JSON so the
    # spread is visible, not hidden.  The steal-sensitive queries (extract —
    # the long Python-worker stage — plus the three heavyweight spatial
    # stages) get GMX_BENCH_REPS_HEAVY reps (default 5) so their medians
    # stop being noise-bound (round-3 spreads: extract [6.4, 23.2, 15.3]).
    # Rebuilding the index EVERY round keeps every query genuinely fresh:
    # the table version changes, so Spark's cache manager can never serve a
    # repeat rep from a previous rep's internally-persisted subtrees (which
    # flattered repeated identical kNN plans in rounds <= 3).
    # Reps are INTERLEAVED round-robin across queries (not k-per-query
    # consecutively): the steal bursts last ~2 minutes, so back-to-back reps
    # of one query all land in the same burst, while a full round takes
    # longer than a burst and decorrelates each query's reps.
    reps = int(os.environ.get("GMX_BENCH_REPS", "3"))
    heavy_reps = max(reps, int(os.environ.get("GMX_BENCH_REPS_HEAVY", "5")))
    heavy = {"extract", "index_build", "bbox_overlap", "knn"}
    times: dict[str, float] = {}
    dists: dict[str, list[float]] = {}

    def timed_once(name: str, fn):
        t0 = time.time()
        out = fn()
        dists.setdefault(name, []).append(round(time.time() - t0, 3))
        return out

    # the spatial pipeline consumes only the bounding box: declare the
    # projection so the extraction pass prunes the other ~75 chain
    # resolutions per doc and the catalog join (projection pushdown into
    # the Python stage — Catalyst cannot see through mapInPandas).
    # meta itself is NEVER persisted: the cache manager substitutes cached
    # data into any identical plan, which would turn the timed extraction
    # reps into cache reads.  Downstream queries only need ext, so only ext
    # is cached (its cached plan is not a subtree of the extraction count).
    meta = P.metadata_from_corpus(corpus, persist=False, props={"bounding_box"})
    ext = extents_df(meta).persist()
    ext.count()
    n_docs = 0

    def build_indexes():
        # the once-per-corpus shuffle the from-index joins amortize: exploded
        # small-tier covering -> bucketed+sorted cell table (+ tiny large
        # table), centroids -> bucketed centroid table
        write_cell_index(ext, cell_tab, f"{idx_dir}/cell")
        write_centroid_index(ext, cent_tab, f"{idx_dir}/cent")
        return 1

    queries = [
        ("extract", lambda: P.metadata_from_corpus(
            corpus, persist=False, props={"bounding_box"}).count()),
        ("index_build", build_indexes),
        ("tile_cover", cover_cells(ext, 4).count),
        ("bbox_overlap", lambda: bbox_overlap_pairs_from_index(spark, cell_tab).count()),
        ("point_in_bbox", lambda: point_in_bbox_from_index(spark, pts, cell_tab).count()),
        ("knn", lambda: knn_from_index(spark, pts, cent_tab).count()),
        ("tile_join", lambda: tile_extent_join_from_index(spark, tiles, cell_tab).count()),
        ("minhash_dedup", lambda: minhash_pairs(raw_docs, threshold=0.1).count()),
        ("ann_cosine", lambda: cosine_topk(emb).count()),
    ]
    max_reps = max(reps, heavy_reps)
    for r in range(max_reps):
        for name, fn in queries:
            if r >= (heavy_reps if name in heavy else reps):
                continue
            out = timed_once(name, fn)
            if name == "extract":
                n_docs = out
    for name, _fn in queries:
        times[name] = sorted(dists[name])[(len(dists[name]) - 1) // 2]

    # in-place update at scale 1 (full-property extraction + patch + re-span;
    # fixed-size auxiliary op like dedup/ANN, excluded from the headline)
    from pyspark.sql import functions as F
    from gmx.update import update_corpus_df

    upd_corpus = P.corpus_df(spark, sf_dir).persist()
    upd_meta = P.metadata_from_corpus(upd_corpus, persist=False).persist()
    upd_meta.count()  # extraction cost not charged to the update op
    for _ in range(reps):
        timed_once(
            "update_inplace",
            lambda: update_corpus_df(
                upd_corpus, upd_meta.withColumn("title", F.concat("title", F.lit(" v2")))
            ).count(),
        )
    times["update_inplace"] = sorted(dists["update_inplace"])[(reps - 1) // 2]
    upd_corpus.unpersist()
    upd_meta.unpersist()

    # steal-burst marker (r4 verdict #7): reps whose wall exceeds 2x the
    # query's median are almost certainly hypervisor-steal windows on this
    # host (documented in BENCH/BASELINE.md); reporting the count per query
    # lets round-over-round comparisons be machine-filtered instead of
    # eyeballed from query_dists
    outlier_reps = {
        name: sum(1 for t in ds if t > 2 * times[name])
        for name, ds in dists.items()
    }
    spatial_sec = round(sum(times[q] for q in SPATIAL), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(json.dumps({
        "metric": "spatial-join + tile-assignment pipeline wall time (docs/sec in docs_per_sec)",
        "value": spatial_sec,
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "docs": n_docs,
        "docs_per_sec": round(n_docs / spatial_sec, 1),
        "extract_docs_per_sec": round(n_docs / times["extract"], 1),
        "cpus": cpus,
        "scale": scale,
        "reps": reps,
        "query_dists": dists,
        "outlier_reps": outlier_reps,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
