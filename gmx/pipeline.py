"""The Spark dataflow: span corpus -> dispatch -> wide metadata DataFrame.

Stage map (SURVEY.md §2/§3 EP1):
- S1 ingest: span table scan; document text reassembled JVM-side with
  ``array_join(transform(filter(spans, ...)))`` — no Python touches the
  corpus until the single Arrow extraction pass.
- S2 dispatch: ``standard`` from the parsed root inside the extraction pass
  (the kernel's detect_standard: root tag + its direct children).
- P1-P5/C1-C9 extraction: ONE ``mapInPandas`` pass per partition running the
  shared batch kernel (gmx.extract) — Arrow-batched, no per-row Python UDFs.
- S3 catalog resolution: remote ISO-19110 attribute catalogs are sibling
  corpus rows; resolved with a left join + coalesce instead of the
  reference's per-doc HTTP fetch (iso_metadata_parser.py:357-381) — the only
  shuffle in the extraction pipeline, and it only moves the ISO slice.

Scale notes: extraction is embarrassingly parallel (narrow, one pass, no
shuffle); partition count is inherited from the corpus scan, so at 100 TB the
same plan runs with ``spark.sql.files.maxPartitionBytes``-sized splits.  The
catalog join uses the ``catalog_url`` key whose cardinality ~= catalog count;
Spark auto-broadcasts when the catalog side is small, AQE handles it when not.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gmx import corpus as corpus_mod
from gmx.extract import extract_catalog_attributes, extract_record
from gmx.schema import CATALOG_ATTRS_SCHEMA, CORPUS_SCHEMA, METADATA_SCHEMA

METADATA_STANDARDS = ("fgdc", "iso", "arcgis")


# --------------------------------------------------------------- corpus (S1)

def corpus_df(
    spark: SparkSession,
    sf_dir: str,
    partitions: int | None = None,
    scale: int = 1,
) -> DataFrame:
    """Synthesize the deterministic span corpus from the driver-provided
    ``documents.parquet`` ids (TESTDATA.md): one metadata doc per id plus
    catalog sibling rows.  Generation runs distributed via mapInPandas.

    ``scale`` replicates the id space (id + k*1_000_000 for k < scale) — used
    by the bench harness to push document counts beyond the sf tables while
    keeping every field's arithmetic definition intact."""

    ids = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if scale > 1:
        ids = ids.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(scale - 1)),
                    lambda k: F.col("doc_id") + k * F.lit(1_000_000).cast("long"),
                )
            ).alias("doc_id")
        )
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    ids = ids.repartition(partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = corpus_mod.generate_rows(pdf["doc_id"].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "spans": [
                        [
                            {"kind": k, "text": t, "media_ref": m, "offset": o}
                            for (k, t, m, o) in spans
                        ]
                        for _, spans in rows
                    ],
                }
            )

    return ids.mapInPandas(gen, schema=CORPUS_SCHEMA)


def with_document_text(corpus: DataFrame) -> DataFrame:
    """Reassemble each document from its text spans and collect media refs —
    pure JVM column expressions (S1)."""

    return corpus.select(
        "doc_id",
        F.array_join(
            F.transform(F.filter("spans", lambda s: s["kind"] == F.lit("text")), lambda s: s["text"]),
            "",
        ).alias("xml"),
        F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("media")), lambda s: s["media_ref"]
        ).alias("media_refs"),
    )


# ----------------------------------------------------- extraction (P1..C9)

ALWAYS_FIELDS = ("doc_id", "standard", "error", "media_refs")


def _expanded_props(props: set | None) -> set | None:
    """The attribute family derives from one parse (and the catalog join
    consumes attr_catalog_url): requesting any member pulls in all three."""

    from gmx.extract import ATTRIBUTE_PROPS

    if props is not None and props & ATTRIBUTE_PROPS:
        return set(props) | ATTRIBUTE_PROPS
    return props


def _pruned_schema(props: set | None):
    if props is None:
        return METADATA_SCHEMA
    from pyspark.sql.types import StructType

    keep = set(ALWAYS_FIELDS) | props
    return StructType([f for f in METADATA_SCHEMA.fields if f.name in keep])


def extract_wide(
    docs_with_xml: DataFrame,
    props: set | None = None,
    specs: dict | None = None,
    extra_schema=None,
) -> DataFrame:
    """One Arrow pass: (doc_id, xml, media_refs) -> wide metadata rows.

    ``props`` prunes the projection INTO the Python stage (Catalyst cannot
    see through mapInPandas): only the requested properties are parsed and
    only their columns cross Arrow back to the JVM.

    ``specs`` + ``extra_schema`` are the distributed extension surface
    (SURVEY §2.6 X1/X2): pass per-standard spec overrides built with
    specs.model.extend_spec and a list of StructFields (or a StructType)
    typing the custom properties — their columns ride the same Arrow pass
    as the built-ins."""

    from pyspark.sql.types import StructType

    props = _expanded_props(props)
    schema = _pruned_schema(props)
    if extra_schema is not None:
        extra = extra_schema.fields if isinstance(extra_schema, StructType) else list(extra_schema)
        existing = {f.name for f in schema.fields}
        schema = StructType(schema.fields + [f for f in extra if f.name not in existing])
    out_fields = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id, xml, media in zip(pdf["doc_id"], pdf["xml"], pdf["media_refs"]):
                rec = extract_record(xml, props=props, specs=specs)
                rec["doc_id"] = doc_id
                rec["media_refs"] = list(media) if media is not None else []
                recs.append(rec)
            yield pd.DataFrame({name: [r.get(name) for r in recs] for name in out_fields})

    return docs_with_xml.mapInPandas(run, schema=schema)


def catalog_attrs_df(docs_with_xml: DataFrame) -> DataFrame:
    """Attribute lists parsed from ISO-19110 catalog rows, keyed by the URL
    carried in their media span (join side of S3)."""

    cats = docs_with_xml.filter(F.col("xml").startswith("<FC_FeatureCatalogue")).select(
        F.element_at("media_refs", 1).alias("catalog_url"), "xml"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "catalog_url": pdf["catalog_url"],
                    "remote_attributes": [
                        extract_catalog_attributes(xml) for xml in pdf["xml"]
                    ],
                }
            )

    return cats.mapInPandas(run, schema=CATALOG_ATTRS_SCHEMA)


def resolve_catalog_attributes(meta: DataFrame, catalogs: DataFrame) -> DataFrame:
    """S3 as dataflow: remote attributes win when the catalog resolves, else
    inline; ISO aliases default to label (C9, iso_metadata_parser.py:343-355).

    Scale shape: only the slice that actually carries a catalog URL (a few
    percent of ISO rows) enters the join — the rest of the table is never
    shuffled.  The catalog side is naturally small relative to the corpus;
    Spark broadcasts it under the threshold, AQE handles it above."""

    finished = F.when(
        F.col("standard") == "iso",
        F.transform(
            "attributes",
            lambda a: F.struct(
                a["label"].alias("label"),
                F.when(a["aliases"] == "", a["label"]).otherwise(a["aliases"]).alias("aliases"),
                a["definition"].alias("definition"),
                a["definition_source"].alias("definition_source"),
            ),
        ),
    ).otherwise(F.col("attributes"))

    # One left join over the whole table, with the empty-URL majority given
    # unique never-matching keys (null-key skew salting).  A filter/union
    # split would re-execute the (unpersisted) extraction pass once per
    # branch — measured 2x the extraction cost; and joining on the raw URL
    # would make '' the hottest key in a shuffle join at scale.  Unique
    # no-hit keys keep ONE extraction pass, no union, and no hot key
    # whichever physical join AQE picks.
    join_key = F.when(
        F.col("attr_catalog_url") != "", F.col("attr_catalog_url")
    ).otherwise(F.concat(F.lit("\x00nohit:"), F.col("doc_id")))

    resolved = (
        meta.withColumn("__catalog_key", join_key)
        .join(catalogs, F.col("__catalog_key") == catalogs.catalog_url, "left")
        .withColumn(
            "attributes",
            F.when(F.col("remote_attributes").isNotNull(), F.col("remote_attributes"))
            .otherwise(F.col("attributes")),
        )
        .drop("__catalog_key", "catalog_url", "remote_attributes")
    )
    return resolved.withColumn("attributes", finished)


def metadata_from_corpus(
    corpus: DataFrame,
    persist: bool = True,
    props: set | None = None,
    specs: dict | None = None,
    extra_schema=None,
) -> DataFrame:
    """EP1 from an existing span table (the production entry point — the
    corpus is an Iceberg table of ``(doc_id, spans)`` rows per
    BASELINE.json's input_hint): reassembled text -> dispatch -> extraction
    -> catalog resolution -> wide metadata DataFrame.

    ``persist``: the reassembled-docs stage feeds both the metadata branch
    and the catalog branch.  When the corpus is synthesized on the fly
    (tests), persist it so generation runs once; when the corpus is a real
    table (bench/production), leave it off — the second branch is just a
    cheap re-scan and nothing needs cache memory.

    ``props``: property subset for projection pushdown into the extraction
    pass (see extract_wide); when ``attributes`` is not requested, the
    catalog branch and its join are pruned from the plan entirely."""

    props = _expanded_props(props)
    docs = with_document_text(corpus)
    if persist:
        docs = docs.persist()
    wide = extract_wide(docs, props=props, specs=specs, extra_schema=extra_schema)
    meta = wide.filter(F.col("standard").isin(*METADATA_STANDARDS))
    if props is not None and "attributes" not in props:
        return meta
    return resolve_catalog_attributes(meta, catalog_attrs_df(docs))


def metadata_df(spark: SparkSession, sf_dir: str, scale: int = 1) -> DataFrame:
    """End-to-end EP1 over the synthesized corpus (test/gate entry point)."""

    return metadata_from_corpus(corpus_df(spark, sf_dir, scale=scale), persist=True)
