"""Validation-quarantine (Q2-Q8) and conversion (Q1) at the DataFrame level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmx.convert import convert_df, serialize_df
from gmx.validate import SchemaValidationError, validate_schema, validation_report, quarantine_split


def test_corpus_is_clean(metadata):
    assert validation_report(metadata).count() == 0


def test_validate_schema_raises_on_missing_props(metadata):
    validate_schema(metadata)  # full schema passes
    with pytest.raises(SchemaValidationError) as err:
        validate_schema(metadata.drop("title", "dates"))
    assert "dates" in str(err.value) and "title" in str(err.value)


def test_violations_detected_and_quarantined(spark, metadata):
    """Reference ValidationError cases (tests/tests.py:1181-1231) as rows:
    bad date cardinality, bad date type, malformed bbox."""

    base = metadata.limit(3).collect()
    rows = []
    for i, r in enumerate(base):
        d = r.asDict(recursive=True)
        d["doc_id"] = f"bad-{i}"
        if i == 0:
            d["dates"] = {"type": "single", "values": ["a", "b"]}  # card mismatch
        elif i == 1:
            d["dates"] = {"type": "sometimes", "values": ["a"]}  # enum violation
        else:
            d["bounding_box"] = {"east": "junk", "south": "0", "west": "0", "north": "1"}
        rows.append(d)
    bad_df = spark.createDataFrame(rows, metadata.schema)
    corpus = metadata.unionByName(bad_df)

    report = validation_report(corpus)
    got = {(r.doc_id, r.rule) for r in report.collect()}
    assert ("bad-0", "cardinality_mismatch") in got
    assert ("bad-1", "type_not_in_enum") in got
    assert ("bad-2", "not_numeric") in got

    clean, quarantined = quarantine_split(corpus)
    assert quarantined.count() == 3
    assert clean.count() == metadata.count()


def test_report_plan_is_one_extraction_pass(spark, sf_dir, tmp_path):
    """Every rule is one Generate over ONE extraction node: an unpersisted
    extraction output is not re-run per rule."""
    from gmx import pipeline as P

    P.corpus_df(spark, sf_dir).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))  # a table, as in production
    report = validation_report(P.extract_wide(P.with_document_text(corpus)))

    plan = report._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Union" not in plan and "Generate" in plan, plan
    assert report.count() == 0


@pytest.mark.parametrize("target", ["iso", "arcgis", "fgdc"])
def test_conversion_round_trip_equality(metadata, target):
    """Q1: converting the whole corpus to one dialect preserves every
    property (cross-standard conversion equality, tests/tests.py:928-1022)."""

    sample = metadata.filter(F.col("doc_id").isin(
        *["doc-%08d" % i for i in (0, 1, 2, 5, 11, 97)])).cache()
    conv = convert_df(sample, target)
    a = {r["doc_id"]: r.asDict(recursive=True) for r in sample.collect()}
    b = {r["doc_id"]: r.asDict(recursive=True) for r in conv.collect()}
    assert set(a) == set(b)
    skip = {"standard", "error", "media_refs", "attr_catalog_url", "attributes_inline"}
    if target != "arcgis":
        # ArcGIS-only keyword kinds are outside the 39-prop contract and have
        # no location in the other dialects (like the reference, which copies
        # SUPPORTED_PROPS only — metadata_parser.py:25-43)
        skip |= {
            "discipline_keywords", "other_keywords", "product_keywords",
            "search_keywords", "topic_category_keywords",
        }
    for did in a:
        assert b[did]["standard"] == target
        for key, want in a[did].items():
            if key in skip:
                continue
            assert b[did][key] == want, f"{did}.{key}: {want!r} != {b[did][key]!r}"


def test_serialize_df_is_dispatchable(metadata):
    """S4 output re-dispatches to the row's own standard: the kernel's
    detect_standard over each serialized document's parsed root."""

    from gmx.extract import detect_standard
    from gmx.xmlkit import parse_xml

    rows = serialize_df(metadata.limit(50)).collect()
    assert len(rows) == 50
    for r in rows:
        root = parse_xml(r.xml)
        assert detect_standard(root.tag, {c.tag for c in root}) == r.standard, r.doc_id
