"""Spark-side end-to-end tests: pipeline extraction and dispatch vs golden
records (SURVEY.md §5 category 1 at DataFrame level)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmx import pipeline as P
from gmx.corpus import catalog_attributes, catalog_kind, make_record, standard_of
from gmx.extract import finish_attributes
from gmx.serialize import serialize

# an XML declaration the encoding tests rewrite to declare other charsets
DECL = "<?xml version='1.0' encoding='UTF-8'?>\n"


def xml_doc(i: int) -> str:
    """Synthesized metadata document of record ``i`` in its own standard
    (fgdc, iso, arcgis for i % 3 == 0, 1, 2)."""
    return serialize(make_record(i), standard_of(i))


def golden_for(i: int) -> dict:
    want = make_record(i)
    want["attributes_inline"] = want["attributes"]  # pre-resolution view
    kind = catalog_kind(i)
    if kind == "ok":
        want["attributes"] = finish_attributes([], catalog_attributes(i))
    elif i % 3 == 1:  # iso: aliases default applied post-join
        want["attributes"] = finish_attributes(want["attributes"], None)
    return want


def test_pipeline_matches_golden_records(metadata):
    sample = ["doc-%08d" % i for i in (0, 1, 2, 5, 10, 25, 75, 97, 100, 121)]
    rows = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in metadata.filter(F.col("doc_id").isin(sample)).collect()
    }
    assert len(rows) == len(sample)
    for did, row in rows.items():
        want = golden_for(int(did.split("-")[1]))
        for key, val in want.items():
            assert row.get(key) == val, f"{did}.{key}: {val!r} != {row.get(key)!r}"


def test_dispatch_matches_corpus_standards(spark, sf_dir):
    """The extraction pass dispatches every corpus row to the standard it
    was generated in: a metadata doc to its own, a catalog sibling to
    ISO-19110."""

    docs = P.with_document_text(P.corpus_df(spark, sf_dir))
    got = {r.doc_id: r.standard for r in P.extract_wide(docs).select("doc_id", "standard").collect()}
    assert any(d.startswith("cat-") for d in got)
    for did, std in got.items():
        kind, num = did.split("-")
        assert std == (standard_of(int(num)) if kind == "doc" else "iso19110"), did


def test_standard_distribution(metadata):
    counts = {r["standard"]: r["n"] for r in
              metadata.groupBy("standard").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"fgdc", "iso", "arcgis"}
    assert sum(counts.values()) == 500


def test_no_extraction_errors(metadata):
    assert metadata.filter(F.col("error") != "").count() == 0


def test_pruned_pipeline_with_attributes(spark, sf_dir):
    """props={'attributes'} must carry attr_catalog_url through the pruned
    schema so the catalog join resolves (regression: UNRESOLVED_COLUMN)."""
    from gmx import pipeline as P

    corpus = P.corpus_df(spark, sf_dir)
    m = P.metadata_from_corpus(corpus, props={"attributes"})
    rows = m.select("doc_id", "attributes").limit(5).collect()
    assert rows and "attributes" in m.columns


def test_pruned_pipeline_bbox_skips_catalog(spark, sf_dir):
    """props={'bounding_box'} prunes the catalog join and yields the same
    extents as the full pipeline."""
    from pyspark.sql import functions as F
    from gmx import pipeline as P
    from gmx.geometry import extents_df

    corpus = P.corpus_df(spark, sf_dir)
    pruned = extents_df(P.metadata_from_corpus(corpus, props={"bounding_box"}))
    full = extents_df(P.metadata_from_corpus(P.corpus_df(spark, sf_dir)))
    assert pruned.exceptAll(full).isEmpty() and full.exceptAll(pruned).isEmpty()


def test_ingest_reference_xml_directory(spark, tmp_path):
    """Reference-input compatibility: a directory of raw metadata XML files
    (the reference's native input) ingests into the span corpus and extracts
    each document's own values unchanged."""
    from gmx import pipeline as P
    from gmx.ingest import corpus_from_xml_files

    names = {"fgdc_metadata": 0, "iso_metadata": 1, "arcgis_metadata": 2}
    for name, i in names.items():
        (tmp_path / f"{name}.xml").write_text(xml_doc(i))

    corpus = corpus_from_xml_files(spark, str(tmp_path))
    meta = P.metadata_from_corpus(corpus, persist=False)
    rows = {r.doc_id.rsplit("/", 1)[-1]: r for r in meta.select("doc_id", "standard", "title").collect()}
    # doc_id is the full path sans extension (collision-free); stems here
    assert set(rows) == set(names)
    assert all(rows[n].title == make_record(i)["title"] for n, i in names.items())
    assert {r.standard for r in rows.values()} == {"fgdc", "iso", "arcgis"}


def test_ingest_xml_strings(spark):
    from gmx import pipeline as P
    from gmx.ingest import corpus_from_xml_strings

    xml = xml_doc(0)
    corpus = corpus_from_xml_strings(spark, [("d1", xml), ("d2", "<not-metadata/>")])
    meta = P.extract_wide(P.with_document_text(corpus))
    got = {r.doc_id: (r.standard, r.error) for r in meta.select("doc_id", "standard", "error").collect()}
    assert got["d1"] == ("fgdc", "")
    assert got["d2"][0] == "" and "invalid root" in got["d2"][1]


def test_ingest_encodings_and_case(spark, tmp_path):
    """Ingest handles UTF-8 BOMs, declared latin-1, UTF-16 BOMs, and
    case-insensitive .XML extensions — and path-based doc_ids keep
    same-named files in different directories distinct."""
    from gmx import pipeline as P
    from gmx.ingest import corpus_from_xml_files

    base = DECL + xml_doc(0)
    (tmp_path / "bom.xml").write_bytes(b"\xef\xbb\xbf" + base.encode("utf-8"))
    latin = base.replace("encoding='UTF-8'", "encoding='ISO-8859-1'").replace(
        make_record(0)["abstract"], "Résumé")
    assert "ISO-8859-1" in latin and "Résumé" in latin
    (tmp_path / "latin.XML").write_bytes(latin.encode("iso-8859-1"))
    (tmp_path / "utf16.xml").write_bytes(base.encode("utf-16"))  # with BOM
    (tmp_path / "notes.txt").write_text("not xml")
    sub = tmp_path / "sub"; sub.mkdir()
    (sub / "bom.xml").write_bytes(base.encode("utf-8"))  # same stem, other dir

    corpus = corpus_from_xml_files(spark, f"{tmp_path}/**")
    meta = P.metadata_from_corpus(corpus, persist=False)
    rows = {r.doc_id: r for r in meta.select("doc_id", "standard", "abstract").collect()}
    stems = sorted(d.rsplit("/", 1)[-1] for d in rows)
    assert stems == ["bom", "bom", "latin", "utf16"]  # .txt excluded; both boms kept
    assert len(rows) == 4  # path-based ids: no collision
    by_stem = {d.rsplit("/", 1)[-1]: r for d, r in rows.items()}
    assert by_stem["latin"].abstract == "Résumé"
    assert by_stem["utf16"].standard == "fgdc"
    assert by_stem["utf16"].abstract == make_record(0)["abstract"]
    assert by_stem["bom"].standard == "fgdc"


def test_ingest_unsupported_declared_encoding_errors(spark, tmp_path):
    """A file declaring a charset the JVM decode set can't honor must yield
    a readable error row, not silent UTF-8 mojibake; a declared us-ascii
    file decodes fine."""
    from gmx import pipeline as P
    from gmx.ingest import corpus_from_xml_files

    base = DECL + xml_doc(0)
    sjis = base.replace("encoding='UTF-8'", "encoding='Shift_JIS'")
    assert "Shift_JIS" in sjis
    (tmp_path / "sjis.xml").write_bytes(sjis.encode("shift_jis"))
    ascii_doc = base.replace("encoding='UTF-8'", "encoding='US-ASCII'").replace("é", "e")
    assert "US-ASCII" in ascii_doc
    (tmp_path / "plain.xml").write_bytes(ascii_doc.encode("ascii", errors="replace"))

    corpus = corpus_from_xml_files(spark, str(tmp_path))
    meta = P.extract_wide(P.with_document_text(corpus))
    rows = {r.doc_id.rsplit("/", 1)[-1]: r for r in meta.select("doc_id", "standard", "error", "title").collect()}
    assert "unsupported declared encoding: shift_jis" in rows["sjis"].error
    assert rows["sjis"].standard == ""
    assert rows["plain"].standard == "fgdc"
    assert rows["plain"].title == make_record(0)["title"]


def test_write_xml_files_round_trip(spark, tmp_path):
    """S5 sink with encoding control: serialize -> write .xml files in
    latin-1 -> re-ingest -> identical values (reference
    write(out_file_or_path, encoding), metadata_parser.py:377-391)."""
    from gmx import pipeline as P
    from gmx.convert import serialize_df
    from gmx.ingest import corpus_from_xml_files, write_xml_files

    in_dir = tmp_path / "in"; in_dir.mkdir()
    for name, i in (("fgdc_metadata", 0), ("iso_metadata", 1)):
        (in_dir / f"{name}.xml").write_text(xml_doc(i))

    meta = P.metadata_from_corpus(corpus_from_xml_files(spark, str(in_dir)), persist=False)
    out_dir = tmp_path / "out"
    write_xml_files(serialize_df(meta), str(out_dir), encoding="latin-1")

    files = sorted(p.name for p in out_dir.glob("*.xml"))
    assert len(files) == 2
    raw = next(out_dir.glob("*fgdc*")).read_bytes()
    assert b"encoding='ISO-8859-1'" in raw

    back = P.metadata_from_corpus(corpus_from_xml_files(spark, str(out_dir)), persist=False)
    rows = back.select("standard", "title", "abstract").collect()
    assert {r.standard for r in rows} == {"fgdc", "iso"}
    assert {(r.title, r.abstract) for r in rows} == {
        (make_record(i)["title"], make_record(i)["abstract"]) for i in (0, 1)
    }


def test_distributed_custom_property(spark, tmp_path):
    """Extension surface through the Spark engine: custom spec + extra
    schema ride the same Arrow extraction pass — the first path when the
    document has it, the fallback path otherwise."""
    from pyspark.sql.types import StringType, StructField
    from gmx import pipeline as P
    from gmx.ingest import corpus_from_xml_files
    from gmx.specs import SPECS
    from gmx.specs.model import extend_spec

    (tmp_path / "d0.xml").write_text(xml_doc(0))
    published = xml_doc(3).replace(
        "<origin>", "<pubinfo><publish>Publisher 3</publish></pubinfo><origin>", 1)
    assert "Publisher 3" in published
    (tmp_path / "d3.xml").write_text(published)
    custom = {"fgdc": extend_spec(SPECS["fgdc"], simple={"publisher_name": (
        "idinfo/citation/citeinfo/pubinfo/publish", "idinfo/citation/citeinfo/origin")})}
    meta = P.metadata_from_corpus(
        corpus_from_xml_files(spark, str(tmp_path)),
        persist=False,
        specs=custom,
        extra_schema=[StructField("publisher_name", StringType())],
    )
    rows = {r.doc_id.rsplit("/", 1)[-1]: (r.standard, r.publisher_name)
            for r in meta.select("doc_id", "standard", "publisher_name").collect()}
    assert rows == {"d0": ("fgdc", make_record(0)["originators"]),
                    "d3": ("fgdc", "Publisher 3")}
