"""The closed-loop workloads.

Each workload has three phases, driven by ``run.py``:

- ``prepare``: generate the seeded inputs and the independent expected
  answers (not timed, not part of ``setup_s``);
- ``setup``: the prerequisites an operation needs (timed; ``run.py`` runs it
  several times and reports the median);
- ``cycle``: one round of operations in seeded order.  An operation calls
  into gmx, returns the number of documents (or queries) it completed and a
  check that runs outside the timed region, verifies the output and frees
  what the operation built, so the next operation does fresh work.
  ``warmup_cycle`` is the round the warm-up runs.

Every call into a gmx layer is wrapped in a tracer span named after the
layer, which with tracing on also tags the Spark jobs it launches.
"""

from __future__ import annotations

import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gmx import pipeline
from gmx.extract import extract_record
from gmx.geometry import extents_df
from gmx.geometry.bucketed import (
    bbox_overlap_pairs_from_index,
    knn_from_index,
    point_in_bbox_from_index,
    tile_extent_join_from_index,
    write_cell_index,
    write_centroid_index,
)
from gmx.geometry.joins import release_knn_caches

import inputs
from oracle import KNN_K, RANK_SLOTS, ServeOracle, docnum, spark_fingerprint


@dataclass
class Ctx:
    spark: object
    seed: int
    cpus: int
    work: Path
    cache: Path
    tracer: object
    # per-layer observations made outside the timed region (medians later)
    obs: dict = field(default_factory=lambda: defaultdict(list))
    _gen: int = 0

    def generation(self, label: str) -> tuple[str, Path]:
        """A fresh table-name suffix and directory: every pass writes a new
        generation, so nothing is served from an earlier pass's output."""

        self._gen += 1
        path = self.work / f"{label}-g{self._gen}"
        return f"perfbench_{label}_g{self._gen}", path


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""

    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in files), len(files)


def parquet_rows(path: Path) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in path.rglob("*.parquet")
    )


def drop_generation(ctx: Ctx, tables, path: Path) -> None:
    for table in tables:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)


def sample_xml(corpus_path: str, seed: int, n: int) -> list[str]:
    """Reassembled metadata XML of ``n`` seeded corpus documents, read on
    in this process for the in-process kernel timings."""

    table = pq.read_table(corpus_path, columns=["doc_id", "spans"]).to_pylist()
    docs = [r for r in table if r["doc_id"].startswith("doc-")]
    rng = inputs.rng_for(seed, "kernel-sample")
    pick = rng.choice(len(docs), min(n, len(docs)), replace=False)
    return [
        "".join(s["text"] for s in docs[i]["spans"] if s["kind"] == "text")
        for i in sorted(pick)
    ]


def per_doc_ms(fn, items) -> float:
    t0 = time.perf_counter()
    for item in items:
        fn(item)
    return (time.perf_counter() - t0) * 1000.0 / len(items)


KERNEL_SAMPLE = 200


# --------------------------------------------------------------- ingest

class Ingest:
    """Span corpus -> pruned bbox extraction -> extents -> cell and centroid
    index writes; one full pass over the corpus per operation."""

    name = "ingest"
    DOCS = 4000

    def prepare(self, ctx: Ctx) -> None:
        self.path, ids = inputs.span_corpus(
            ctx.spark, ctx.cache, ctx.seed, self.DOCS, "ingest", 2 * ctx.cpus)
        exp = inputs.expected_extents(ids)
        self.expected = {
            int(r.docnum): (r.west, r.south, r.east, r.north) for r in exp.itertuples()
        }
        if ctx.tracer.enabled:
            xml = sample_xml(self.path, ctx.seed, KERNEL_SAMPLE)
            ctx.obs["extract.kernel_ms_per_doc.pruned"].append(
                per_doc_ms(lambda x: extract_record(x, props={"bounding_box"}), xml))

    def setup(self, ctx: Ctx) -> None:
        with ctx.tracer.span("setup.open_corpus", spark=True):
            self.corpus = ctx.spark.read.parquet(self.path)
            self.corpus.count()

    def cycle(self, rng):
        return [("ingest", self.ingest_pass)]

    def warmup_cycle(self, rng):
        """Three passes: pass time keeps falling for about that long while
        the JVM compiles the hot paths (measured 9.0, 5.6, 4.9, then
        4.4-3.8 s on a 4-core host)."""

        return self.cycle(rng) * 3

    def ingest_pass(self, ctx: Ctx):
        tr = ctx.tracer
        suffix, path = ctx.generation("ingest")
        cell, cent = f"{suffix}_cell", f"{suffix}_cent"
        with tr.span("pipeline.extract", spark=True) as at:
            meta = pipeline.metadata_from_corpus(
                self.corpus, persist=False, props={"bounding_box"})
            ext = extents_df(meta).persist()
            at["rows_out"] = ext.count()
        with tr.span("bucketed.cell_index", spark=True):
            write_cell_index(ext, cell, str(path / "cell"))
        with tr.span("bucketed.centroid_index", spark=True):
            write_centroid_index(ext, cent, str(path / "cent"))

        def check():
            try:
                got = {
                    int(r.doc_id[4:]): (r.west, r.south, r.east, r.north)
                    for r in ext.select("doc_id", "west", "south", "east", "north").collect()
                }
                record_index(ctx, path, len(self.expected))
                ok = got == self.expected
                return ok, "" if ok else f"{sum(got.get(k) != v for k, v in self.expected.items())} bboxes differ"
            finally:
                ext.unpersist(blocking=True)
                drop_generation(ctx, (cell, f"{cell}_large", cent), path)

        return len(self.expected), check


def record_index(ctx: Ctx, path: Path, docs: int) -> None:
    """Size observations of one written cell + centroid index generation."""

    size, files = dir_bytes(path)
    ctx.obs["bytes_written_per_doc"].append(size / docs)
    ctx.obs["bucketed.files_written"].append(files)
    ctx.obs["bucketed.cells_per_doc"].append(parquet_rows(path / "cell") / docs)
    ctx.obs["bucketed.large_rows"].append(parquet_rows(path / "cell_large"))


# ---------------------------------------------------------------- serve

SERVE_BATCHES = {"uniform": 400, "hot": 400, "sparse": 60}
SERVE_TILE_ZOOMS = (3, 4, 5, 6)
SERVE_TILES = 32


class Serve:
    """Queries against indexes built during set-up: bbox overlap, point in
    bbox and kNN over uniform / hot / sparse point batches, and tile joins
    at several zooms and tile counts.  The indexes are built from a
    generated extents table, so no extraction runs in this workload."""

    name = "serve"
    DOCS = 3000

    def prepare(self, ctx: Ctx) -> None:
        ids = inputs.doc_ids(ctx.seed, self.DOCS, "serve")
        expected = inputs.expected_extents(ids)
        self.extents_path = ctx.work / "serve-extents"
        inputs.write_parts(inputs.extents_table(ids), self.extents_path, 2 * ctx.cpus)
        oracle = ServeOracle(expected)
        rng = inputs.rng_for(ctx.seed, "serve-probes")
        self.points, first = {}, 0
        for kind, n in SERVE_BATCHES.items():
            batches = []
            for _ in range(2):
                pts = inputs.points(rng, kind, n, first, expected)
                first += n
                batches.append((ctx.spark.createDataFrame(pts), oracle.point_in_bbox(pts), oracle.knn(pts)))
            self.points[kind] = batches
        self.tiles = []
        for z in SERVE_TILE_ZOOMS:
            tls = inputs.tiles(rng, z, SERVE_TILES)
            self.tiles.append((ctx.spark.createDataFrame(tls), oracle.tile_join(tls)))
        self.overlap = oracle.bbox_overlap()
        self.table = None

    def setup(self, ctx: Ctx) -> None:
        """The index build: cell and centroid index over the extents table."""

        tr = ctx.tracer
        suffix, path = ctx.generation("serve")
        with tr.span("setup.index_build"):
            ext = ctx.spark.read.parquet(str(self.extents_path))
            with tr.span("bucketed.cell_index", spark=True):
                write_cell_index(ext, f"{suffix}_cell", str(path / "cell"))
            with tr.span("bucketed.centroid_index", spark=True):
                write_centroid_index(ext, f"{suffix}_cent", str(path / "cent"))
        record_index(ctx, path, self.DOCS)
        if self.table is not None:
            old, old_path = self.table
            drop_generation(ctx, (f"{old}_cell", f"{old}_cell_large", f"{old}_cent"), old_path)
        self.table = (suffix, path)

    def warmup_cycle(self, rng):
        """One call of every query shape, then one full round: query times
        keep falling through the first round while the JVM compiles the hot
        paths (kNN measured 5.2, then 4.1-2.6, then 2.8-2.2 s)."""

        pts = self.points["sparse"][0]
        return [
            ("bbox_overlap", self.bbox_overlap),
            ("point_in_bbox", lambda ctx: self.point_in_bbox(ctx, pts)),
            ("knn", lambda ctx: self.knn(ctx, pts)),
            ("tile_join", lambda ctx: self.tile_join(ctx, self.tiles[0])),
        ] + self.cycle(rng)

    def cycle(self, rng):
        ops = [("bbox_overlap", self.bbox_overlap)]
        for _ in range(2):
            batch = self.points[("uniform", "hot", "sparse")[rng.integers(0, 3)]][rng.integers(0, 2)]
            ops.append(("point_in_bbox", lambda ctx, b=batch: self.point_in_bbox(ctx, b)))
        for kind in ("uniform", "hot", "sparse"):
            batch = self.points[kind][rng.integers(0, 2)]
            ops.append(("knn", lambda ctx, b=batch: self.knn(ctx, b)))
        for _ in range(2):
            tiles = self.tiles[rng.integers(0, len(self.tiles))]
            ops.append(("tile_join", lambda ctx, t=tiles: self.tile_join(ctx, t)))
        rng.shuffle(ops)
        return ops

    def _query(self, ctx: Ctx, op: str, build, a, b, expected, after=None):
        with ctx.tracer.span(f"join.{op}", spark=True) as at:
            got = spark_fingerprint(build(), a, b)
            at["rows_out"] = got[0]

        def check():
            if after is not None:
                after()
            return got == expected, f"{op}: fingerprint {got} != {expected}"

        return 1, check

    def bbox_overlap(self, ctx: Ctx):
        cell = f"{self.table[0]}_cell"
        return self._query(
            ctx, "bbox_overlap", lambda: bbox_overlap_pairs_from_index(ctx.spark, cell),
            docnum(F.col("a_id")), docnum(F.col("b_id")), self.overlap)

    def point_in_bbox(self, ctx: Ctx, batch):
        pts, expected, _ = batch
        cell = f"{self.table[0]}_cell"
        return self._query(
            ctx, "point_in_bbox", lambda: point_in_bbox_from_index(ctx.spark, pts, cell),
            F.col("point_id"), docnum(F.col("doc_id")), expected)

    def knn(self, ctx: Ctx, batch):
        pts, _, expected = batch
        cent = f"{self.table[0]}_cent"
        return self._query(
            ctx, "knn", lambda: knn_from_index(ctx.spark, pts, cent, k=KNN_K),
            F.col("point_id") * RANK_SLOTS + F.col("rank"), docnum(F.col("doc_id")), expected,
            after=release_knn_caches)

    def tile_join(self, ctx: Ctx, tiles):
        tls, expected = tiles
        cell = f"{self.table[0]}_cell"
        return self._query(
            ctx, "tile_join", lambda: tile_extent_join_from_index(ctx.spark, tls, cell),
            F.col("tile_id").cast("long"), docnum(F.col("doc_id")), expected)


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
