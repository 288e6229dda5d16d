"""Kernel-level golden tests (no Spark): extraction semantics vs the
reference's behavioral contract (SURVEY.md §5 categories 1, 2, 3, 5)."""

from __future__ import annotations

import pytest

from gmx.extract import (
    detect_standard,
    empty_record,
    extract_catalog_attributes,
    extract_record,
)
from gmx.serialize import serialize, serialize_catalog, serialize_sections

GOLDEN = None


def golden_record() -> dict:
    rec = empty_record()
    rec.update({
        "title": "Golden Dataset", "abstract": "An abstract", "purpose": "A purpose",
        "supplementary_info": "Supp", "other_citation_info": "Other cit",
        "online_linkages": "https://example.org/ds", "originators": "Org X",
        "publish_date": "2020-01-15", "data_credits": "Credits",
        "dist_contact_org": "Dist Org", "dist_contact_person": "Dist Person",
        "dist_email": "d@example.org", "dist_phone": "555-0000",
        "dist_address": "1 Main", "dist_address_type": "mailing",
        "dist_city": "Springfield", "dist_state": "OR", "dist_postal": "97000",
        "dist_country": "USA", "dist_liability": "None", "processing_fees": "5",
        "processing_instrs": "Order", "resource_desc": "Download",
        "tech_prerequisites": "GIS", "attribute_accuracy": "Accurate",
        "dataset_completeness": "Complete", "use_constraints": "None",
        "place_keywords": ["Springfield", "Oregon"],
        "stratum_keywords": ["surface"], "temporal_keywords": ["2020"],
        "thematic_keywords": ["hydrology", "rivers"],
        "bounding_box": {"east": "179.5", "south": "-86.5", "west": "-179.5", "north": "87.5"},
        "dates": {"type": "multiple", "values": ["2001-01-01", "2002-02-02", "2003-03-03"]},
        "larger_works": {
            "title": "LW", "edition": "2", "origin": ["A", "B"],
            "online_linkage": "http://lw", "other_citation": "oc",
            "publish_date": "1999-09-09", "publish_place": "Portland",
            "publish_info": "Pub",
        },
        "raster_info": {
            "dimensions": "2", "row_count": "100", "column_count": "200",
            "vertical_count": "", "x_resolution": "12.5 meters",
            "y_resolution": "10.5 meters",
        },
        "attributes": [
            {"label": "a1", "aliases": "al1", "definition": "d1", "definition_source": "s1"},
            {"label": "a2", "aliases": "al2", "definition": "d2", "definition_source": "s2"},
        ],
        "contacts": [
            {"name": "N1", "email": "e1@x", "organization": "O1", "position": "P1"},
            {"name": "N2", "email": "e2@x", "organization": "O2", "position": "P2"},
        ],
        "digital_forms": [{
            "name": "SHP", "content": "Vector", "decompression": "zip",
            "version": "1.0", "specification": "Spec A", "access_desc": "dl",
            "access_instrs": "click", "network_resource": "http://dl/1",
        }],
        "process_steps": [
            {"description": "step1", "date": "2000-01-01", "sources": ["s1", "s2"]},
        ],
    })
    rec["attributes_inline"] = rec["attributes"]
    return rec


@pytest.mark.parametrize("standard", ["fgdc", "iso", "arcgis"])
def test_round_trip_full_record(standard):
    """serialize -> extract reproduces every property (§5.2 round-trip)."""

    rec = golden_record()
    out = extract_record(serialize(rec, standard))
    assert out["standard"] == standard
    for key, want in rec.items():
        assert out[key] == want, f"{standard}.{key}: {want!r} != {out[key]!r}"


def test_cross_standard_conversion_equality():
    """Extract once, serialize into each dialect, extract again — all equal
    (§5.3; convert_parser_to, metadata_parser.py:25-43)."""

    base = extract_record(serialize(golden_record(), "fgdc"))
    payload = {k: v for k, v in base.items() if k not in ("standard", "error", "attr_catalog_url")}
    for std in ("iso", "arcgis"):
        again = extract_record(serialize(payload, std))
        for key, want in payload.items():
            assert again[key] == want, f"{std}.{key}"


def test_dispatch_rules():
    assert detect_standard("MD_Metadata", set()) == "iso"
    assert detect_standard("MI_Metadata", set()) == "iso"
    assert detect_standard("metadata", {"idinfo"}) == "fgdc"
    assert detect_standard("metadata", {"dataIdInfo"}) == "arcgis"
    assert detect_standard("Metadata", {"Esri"}) == "arcgis"
    assert detect_standard("FC_FeatureCatalogue", set()) == "iso19110"
    assert detect_standard("rss", set()) == ""


def test_bad_content_routed_not_raised():
    assert extract_record("")["error"] == "no content"
    assert "invalid XML" in extract_record("<a><b></a")["error"]
    assert extract_record("<rss/>")["error"].startswith("invalid root")


def test_dates_cascade_fgdc():
    """§5.5 tree-surgery: priority single > multiple > range; counts decide
    type (parse_dates, utils.py:296-329)."""

    def dates_of(body):
        return extract_record(
            f"<metadata><idinfo><timeperd><timeinfo>{body}</timeinfo></timeperd></idinfo></metadata>"
        )["dates"]

    assert dates_of("<sngdate><caldate>2001</caldate></sngdate>") == {
        "type": "single", "values": ["2001"]}
    assert dates_of(
        "<mdattim><sngdate><caldate>a</caldate></sngdate>"
        "<sngdate><caldate>b</caldate></sngdate></mdattim>"
    ) == {"type": "multiple", "values": ["a", "b"]}
    assert dates_of("<rngdates><begdate>a</begdate><enddate>b</enddate></rngdates>") == {
        "type": "range", "values": ["a", "b"]}
    # utility_metadata.xml case: 2 begdates + 2 enddates -> multiple of 4
    assert dates_of(
        "<rngdates><begdate>a</begdate><begdate>b</begdate>"
        "<enddate>c</enddate><enddate>d</enddate></rngdates>"
    ) == {"type": "multiple", "values": ["a", "b", "c", "d"]}
    # single stored under mdattim -> single (one value at multiple path)
    assert dates_of("<mdattim><sngdate><caldate>x</caldate></sngdate></mdattim>") == {
        "type": "single", "values": ["x"]}
    assert dates_of("") is None


def test_contact_org_fallback_fgdc():
    """§5.5: person/org read from cntorgp when cntperp missing
    (fgdc_metadata_parser.py:142-147)."""

    xml = (
        "<metadata><idinfo><ptcontac><cntinfo>"
        "<cntorgp><cntper>Jane</cntper><cntorg>Acme</cntorg></cntorgp>"
        "<cntpos>Boss</cntpos><cntemail>j@a.co</cntemail>"
        "</cntinfo></ptcontac></idinfo></metadata>"
    )
    assert extract_record(xml)["contacts"] == [
        {"name": "Jane", "email": "j@a.co", "organization": "Acme", "position": "Boss"}
    ]


def test_arcgis_date_attribute_fallback():
    """ArcGIS @date attribute locations (arcgis_metadata_parser.py:158-166)."""

    xml = (
        "<metadata><dataIdInfo><dataExt><tempEle><TempExtent><exTemp>"
        '<TM_Instant><tmPosition date="2005-05-05"/></TM_Instant>'
        "</exTemp></TempExtent></tempEle></dataExt></dataIdInfo></metadata>"
    )
    assert extract_record(xml)["dates"] == {"type": "single", "values": ["2005-05-05"]}


def test_arcgis_report_item_filter():
    """Shared dqInfo/report path split on the type attribute
    (arcgis_metadata_parser.py:279-294)."""

    xml = (
        "<metadata><dataIdInfo/><dqInfo>"
        '<report type="DQQuanAttAcc"><measDesc>acc</measDesc></report>'
        '<report type="DQCompOm"><measDesc>comp</measDesc></report>'
        "</dqInfo></metadata>"
    )
    rec = extract_record(xml)
    assert rec["attribute_accuracy"] == "acc"
    assert rec["dataset_completeness"] == "comp"


def test_iso_sentinel_content_split():
    """Digital-form content appended after sentinel splits back
    (iso_metadata_parser.py:41, 396-421)."""

    rec = empty_record()
    rec["title"] = "t"
    rec["digital_forms"] = [{
        "name": "SHP", "content": "C1\nC2", "decompression": "", "version": "9",
        "specification": "S1\nS2", "access_desc": "ad", "access_instrs": "ai",
        "network_resource": "nr",
    }]
    out = extract_record(serialize(rec, "iso"))
    assert out["digital_forms"] == rec["digital_forms"]


def test_iso_catalog_remote_wins_and_aliases_default():
    cat = serialize_catalog(
        [{"label": "cl", "aliases": "", "definition": "cd", "definition_source": "cs"}]
    )
    assert extract_catalog_attributes(cat) == [
        {"label": "cl", "aliases": "", "definition": "cd", "definition_source": "cs"}
    ]
    rec = empty_record()
    rec["title"] = "t"
    rec["attr_catalog_url"] = "catalog://1"
    rec["attributes"] = [
        {"label": "il", "aliases": "", "definition": "id", "definition_source": "is"}
    ]
    xml = serialize(rec, "iso")
    hit = extract_record(xml, catalog_lookup={"catalog://1": cat}.get)
    assert hit["attributes"] == [
        {"label": "cl", "aliases": "cl", "definition": "cd", "definition_source": "cs"}
    ]
    miss = extract_record(xml, catalog_lookup={}.get)
    assert miss["attributes"] == [
        {"label": "il", "aliases": "il", "definition": "id", "definition_source": "is"}
    ]


def test_multivalue_scalar_newline_normalization():
    """'\\n' join of repeated elements and re-split on write (utils.py:226-270)."""

    rec = empty_record()
    rec["title"] = "t"
    rec["originators"] = "Org A\nOrg B"
    for std in ("fgdc", "iso", "arcgis"):
        assert extract_record(serialize(rec, std))["originators"] == "Org A\nOrg B"


def test_fgdc_raster_resolution_fallback():
    """planar absres primary; geograph longres secondary (fgdc:198-211)."""

    xml = (
        "<metadata><idinfo/><spdoinfo><rastinfo><rasttype>Grid</rasttype>"
        "<rowcount>10</rowcount><colcount>20</colcount></rastinfo></spdoinfo>"
        "<spref><horizsys><geograph><longres>0.1</longres><latres>0.2</latres>"
        "</geograph></horizsys></spref></metadata>"
    )
    info = extract_record(xml)["raster_info"]
    assert info["x_resolution"] == "0.1"
    assert info["y_resolution"] == "0.2"
    assert info["row_count"] == "10"


# ---------------------------------------------------------- pruned parsing


def test_pruned_parse_equals_full_on_corpus():
    """The truncated pruned-projection parse (r4 verdict #3) returns the
    exact values of a full parse on every corpus standard + catalogs, for
    single- and multi-prop projections."""
    from gmx import corpus as C

    docs = []
    for i in range(0, 120):
        docs.append("".join(t for (k, t, m, o) in C.make_spans(i) if k == "text"))
        if C.catalog_kind(i) == "ok":
            docs.append(
                "".join(t for (k, t, m, o) in C.make_catalog_spans(i) if k == "text")
            )
    subsets = [
        {"bounding_box"}, {"title"}, {"dates"}, {"attributes"},
        {"raster_info"}, {"digital_forms"}, {"place_keywords"},
        {"bounding_box", "title", "dates", "contacts"},
    ]
    for xml in docs:
        full = extract_record(xml)
        for props in subsets:
            pruned = extract_record(xml, props=props)
            assert pruned["standard"] == full["standard"]
            for p in props:
                if p in pruned:
                    assert pruned[p] == full[p], (props, p)


def test_pruned_parse_adversarial_shapes():
    """The fallback conditions each keep pruned == full: a needed section
    re-opening after the cut, an ArcGIS probe appearing only nested in an
    FGDC document, a probe section after the data sections, namespaced
    documents, and unknown roots."""
    from gmx.extract import _parse_pruned, pruning_plan

    plan = pruning_plan({"bounding_box"})
    pad = "<other>" + "x" * 200 + "</other>"

    # needed section re-opens after the would-be cut -> full-parse values
    reopen = (
        "<metadata><idinfo><spdom><bounding><westbc>1</westbc></bounding>"
        f"</spdom></idinfo>{pad}<idinfo><spdom><bounding><eastbc>2</eastbc>"
        "</bounding></spdom></idinfo></metadata>"
    )
    assert _parse_pruned(reopen, plan) is None  # must decline to truncate
    assert extract_record(reopen, props={"bounding_box"})["bounding_box"] == \
        extract_record(reopen)["bounding_box"]

    # ArcGIS probe only NESTED inside an FGDC doc, plus a top-level probe
    # after the data section: dispatch must stay identical to a full parse
    tricky = (
        "<metadata><idinfo><spdom><bounding><westbc>1</westbc><eastbc>2</eastbc>"
        "<southbc>3</southbc><northbc>4</northbc></bounding></spdom></idinfo>"
        f"{pad}<Esri><CreaDate>x</CreaDate></Esri></metadata>"
    )
    full = extract_record(tricky)
    pruned = extract_record(tricky, props={"bounding_box"})
    assert pruned["standard"] == full["standard"] == "arcgis"
    assert pruned["bounding_box"] == full["bounding_box"]

    # namespaced doc: falls back (Clark-notation strip needs the whole tree)
    ns = (
        '<metadata xmlns:x="urn:a"><idinfo><spdom><bounding>'
        "<westbc>1</westbc><eastbc>2</eastbc><southbc>3</southbc>"
        f"<northbc>4</northbc></bounding></spdom></idinfo>{pad}</metadata>"
    )
    assert _parse_pruned(ns, plan) is None
    assert extract_record(ns, props={"bounding_box"})["bounding_box"] == \
        extract_record(ns)["bounding_box"]

    # unknown root: dispatch-only, error string identical
    weird = f"<banana><idinfo/>{pad}</banana>"
    assert extract_record(weird, props={"bounding_box"})["error"] == \
        extract_record(weird)["error"]

    # malformed PREFIX: same BadContent routing as the full parser
    broken = "<metadata><idinfo><spdom></idinfo></metadata>" + pad
    assert extract_record(broken, props={"bounding_box"})["error"].startswith(
        "invalid XML"
    )


def test_pruned_parse_selfclosing_straddle():
    """A SELF-CLOSING needed section has no close tag to anchor the cut, so
    when its open tag straddles the pull parser's 512-byte feed boundary
    expat buffers it incomplete (no start event) and a remainder scan
    starting AT the boundary misses its "<idinfo" prefix — the
    dangling-tag guard (r5 review) must force the full parse instead of
    silently dropping the section.  Swept across the boundary, including
    opens whose prefix sits before fed but whose '>' lands after it."""
    from gmx.extract import _parse_pruned, pruning_plan

    plan = pruning_plan({"bounding_box"})
    tail = "<other>" + "z" * 300 + "</other>"
    elem = '<idinfo code="X" pad="' + "w" * 24 + '"/>'
    for pos in range(512 - len(elem) - 4, 516):
        head = "<metadata><filler>"
        body = "p" * (pos - len(head) - len("</filler>")) + "</filler>"
        xml = head + body + elem + tail + "</metadata>"
        assert xml.index("<idinfo") == pos
        tree = _parse_pruned(xml, plan)
        # either the guard declined (None) or the parsed tree really does
        # carry the idinfo child — never a silently-dropped section
        if tree is not None:
            assert any(c.tag == "idinfo" for c in tree), pos
        full = extract_record(xml)
        pruned = extract_record(xml, props={"bounding_box"})
        assert pruned["standard"] == full["standard"] == "fgdc", pos


def test_pruned_parse_quoted_gt_straddle():
    """A '>' inside a quoted attribute value must not pass for the end of a
    tag straddling the 512-byte feed boundary: a custom ``@attr`` property
    on a self-closing section head (the extend_spec surface) then keeps the
    full parse's value at every boundary position."""
    from gmx.specs import SPECS
    from gmx.specs.model import extend_spec

    specs = {"fgdc": extend_spec(SPECS["fgdc"], simple={"my_code": ("idinfo/@code",)})}
    tail = "<other>" + "z" * 300 + "</other>"
    elem = '<idinfo code="a>b" pad="' + "w" * 24 + '"/>'
    for pos in range(512 - len(elem) - 4, 516):
        head = "<metadata><filler>"
        body = "p" * (pos - len(head) - len("</filler>")) + "</filler>"
        xml = head + body + elem + tail + "</metadata>"
        assert xml.index("<idinfo") == pos
        full = extract_record(xml, specs=specs)
        pruned = extract_record(xml, props={"my_code"}, specs=specs)
        assert full["my_code"] == "a>b"
        assert pruned["my_code"] == full["my_code"], pos


def test_pruned_parse_whitespace_close_tag():
    """A close tag with legal whitespace ("</idinfo >") must still anchor
    the cut — the section's values equal the full parse's."""

    pad = "<other>" + "y" * 200 + "</other>"
    xml = (
        "<metadata><idinfo><spdom><bounding><westbc>1</westbc><eastbc>2</eastbc>"
        "<southbc>3</southbc><northbc>4</northbc></bounding></spdom></idinfo >"
        f"{pad}</metadata>"
    )
    full = extract_record(xml)
    pruned = extract_record(xml, props={"bounding_box"})
    assert full["bounding_box"] == {"east": "2", "south": "3", "west": "1", "north": "4"}
    assert pruned["bounding_box"] == full["bounding_box"]
