"""Batch extraction kernel: XML text -> wide property record.

This is the columnar re-derivation of the reference's read path
(EP1: MetadataParser.__init__ -> parse_property/parse_complex*,
/root/reference/gis_metadata/metadata_parser.py:209-249 and utils.py:256-367).
It is a plain-Python *batch* function: the Spark layer calls it from an
Arrow-batched ``mapInPandas`` pass (one call per record inside a columnar
batch — no per-row Python UDFs), and the pytest/DuckDB oracles call it
directly, so golden equality is asserted on exactly the executor code.

Value-shaping rules reproduced bit-for-bit (they define golden outputs):
- first non-empty location in a fallback chain wins (utils.py:354-359)
- multi-valued scalar subs join with '\\n' (element text) or ',' (attribute
  values); embedded '\\n' is re-split first (utils.py:226-237, 269-270)
- empty defaults: '' scalar / [] list / None struct (get_default_for,
  utils.py:201-212; the reference's {} struct default maps to NULL struct)
- date-type inference cascade over value counts (parse_dates, utils.py:296-329)
- ISO keyword groups filtered by sibling type code, case-insensitive
  (iso_metadata_parser.py:442-459)
- digital-forms positional zip-merge of formats and transfer options
  (iso:383-440 / arcgis:247-277), ISO sentinel split of content appended to
  specification (iso:41, 396-421)
- raster-dims pivot on dimension type (iso:461-491 / arcgis:296-326)
- ArcGIS report items filtered on a type attribute (arcgis:279-294)
- ISO attribute aliases default to label (iso:351-353)
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from gmx import xmlkit
from gmx.specs import (
    ARCGIS_NODES,
    CATALOG_ROOT,
    COMPLEX_FIELDS,
    ISO_CONTENT_DELIM,
    MULTI_SUBS,
    SIMPLE_PROPS,
    SPECS,
)
from gmx.specs.model import ComplexSpec, StandardSpec

STANDARD_CATALOG = "iso19110"
STANDARD_UNKNOWN = ""

# props that derive from the same parse; requested together or not at all
ATTRIBUTE_PROPS = {"attributes", "attributes_inline", "attr_catalog_url"}


def _heads(*chains) -> set[str]:
    """First path component of every path in the given chains — the set of
    top-level sections a chain can touch (paths are root-anchored; a bare
    '@attr' touches only the root and contributes nothing)."""

    out = set()
    for chain in chains:
        if not chain:
            continue
        paths = (chain,) if isinstance(chain, str) else chain
        for p in paths:
            head = p.split("/", 1)[0]
            if head and not head.startswith("@"):
                out.add(head)
    return out


def _spec_heads(spec: StandardSpec, props: set) -> set[str] | None:
    """Top-level sections the given props can read in one spec, or None when
    pruning is unsafe (a needed prop is a callable — arbitrary code may walk
    the whole tree)."""

    if spec.callables and props & set(spec.callables):
        return None
    roots: set[str] = set()
    for prop in props:
        if prop in (spec.keyword_groups or {}):
            roots |= _heads(spec.keyword_groups[prop].root)
        if prop in spec.complexes and prop not in ("digital_forms",):
            c = spec.complexes[prop]
            roots |= _heads(c.root, *c.subs.values())
        if prop == "digital_forms" and "digital_forms" in spec.complexes:
            c = spec.complexes["digital_forms"]
            roots |= _heads(c.root, *c.subs.values())
            if spec.transfer_options is not None:
                t = spec.transfer_options
                roots |= _heads(t.root, *t.subs.values())
        if prop == "dates":
            d = spec.dates
            roots |= _heads(d.root, d.single, d.multiple, d.range_begin, d.range_end)
        if prop == "raster_info" and spec.raster_dims is not None:
            r = spec.raster_dims
            roots |= _heads(
                r.root, r.type_chain, r.size_chain, r.value_chain,
                r.units_chain, r.num_dims_chain,
            )
        if prop in spec.report_items:
            roots |= _heads(spec.report_items[prop].root)
        if prop == "attributes":
            roots |= _heads(spec.attr_catalog_url)
        roots |= _heads(spec.simple.get(prop))
        roots |= _heads((spec.keywords or {}).get(prop))
        roots |= _heads(spec.extra_keywords.get(prop))
    return roots


_PRUNE_PLAN_CACHE: dict[frozenset, dict | None] = {}
# Custom-spec plans: one slot per props set holding (specs_object, plan).
# Keyed by IDENTITY with a strong reference to the keyed object (so its
# id cannot be recycled while cached) — the per-executor mapInPandas
# closure unpickles ONE specs dict and reuses it for every row, so this
# hits from the second document on; without it the extension path rebuilt
# the plan per document inside the hot kernel.
_PRUNE_PLAN_CUSTOM: dict[frozenset, tuple[dict, dict | None]] = {}


def pruning_plan(props: set, specs: dict | None = None) -> dict | None:
    """Per-standard top-level section tags a pruned extraction may read —
    the input to :func:`_parse_pruned`.  None = don't prune (a needed prop
    has a callable binding somewhere — arbitrary code may walk the whole
    tree).  Memoized per props set (built-in specs) and per (props, specs
    instance) for spec overrides."""

    key = frozenset(props)
    if specs is None:
        if key in _PRUNE_PLAN_CACHE:
            return _PRUNE_PLAN_CACHE[key]
    else:
        hit = _PRUNE_PLAN_CUSTOM.get(key)
        if hit is not None and hit[0] is specs:
            return hit[1]
    all_specs = SPECS if specs is None else {**SPECS, **specs}
    plan: dict | None = {}
    for name, spec in all_specs.items():
        h = _spec_heads(spec, props)
        if h is None:
            plan = None
            break
        plan[name] = frozenset(h)
    if specs is None:
        _PRUNE_PLAN_CACHE[key] = plan
    else:
        _PRUNE_PLAN_CUSTOM[key] = (specs, plan)
    return plan


def _feed_until_root(parser: ET.XMLPullParser, text: str, fed: int):
    """Feed in small steps until the root start event arrives; returns
    (root_or_None, fed)."""

    root = None
    while root is None and fed < len(text):
        nxt = min(fed + 512, len(text))
        parser.feed(text[fed:nxt])
        fed = nxt
        for _, el in parser.read_events():
            root = el
            break
    return root, fed


def _parse_pruned(text: str, plan: dict) -> ET.Element | None:
    """Truncated parse for pruned projections (r4 verdict #3): parse only
    the prefix that contains every COMPLETE top-level section the decided
    standard's needed props can read, skipping the rest of the document —
    at a bounding-box projection that skips ~half of each document's parse
    bytes (and all but the root tag of catalog/unknown-root documents).

    Exactness argument (results identical to a full parse):

    - standard dispatch: an ISO root tag decides by itself; a shared
      ``metadata``/``Metadata`` root is ArcGIS iff a probe node is a root
      child — decided from the parsed prefix when a probe child is present,
      by full-text absence of every probe substring when none occurs, and
      by FALLING BACK to the full parser when ambiguous (probe substrings
      exist but none surfaced as a root child in the prefix);
    - the cut point is past the LAST occurrence of every tracked present
      section's close tag, so no later close exists; a later RE-OPEN of a
      needed tag is caught by a string scan of the remainder and falls
      back; untracked sections re-opening later are never read by the
      decided standard's needed paths;
    - needed paths are anchored at root children with tracked tags, so a
      partially-fed untracked section (attached but incomplete) can never
      match them;
    - namespaced documents (anything that could produce Clark-notation
      tags) fall back — the strip pass needs the whole tree.

    The one documented divergence: malformed content AFTER the cut point
    is not detected (the full parser would raise BadContent).  A pruned
    projection validates only what it parses; the full-extraction path is
    unchanged.

    Returns None whenever truncation is not provably safe; the caller then
    uses :func:`xmlkit.parse_xml`."""

    if not isinstance(text, str) or not text or "xmlns" in text or "xml:" in text:
        # empty/None/non-str content: the full parser owns the error
        # semantics (BadContent for empty, the historical TypeError for
        # bytes) — pruning must never change what a bad input produces
        return None
    parser = ET.XMLPullParser(events=("start",))
    try:
        root, fed = _feed_until_root(parser, text, 0)
        if root is None:
            return None  # no element at all: let the full parser raise
        rt = root.tag
        if rt in ("MD_Metadata", "MI_Metadata"):
            cands = ("iso",)
        elif rt in ("metadata", "Metadata"):
            cands = ("fgdc", "arcgis")
        else:
            # unknown or catalog root: extract_record stops at dispatch, so
            # the root tag is all it needs
            return root

        track = set()
        for c in cands:
            track |= plan.get(c, frozenset())
        present = [t for t in track if ("<" + t) in text]
        stop = fed
        for t in present:
            # match "</t" rather than "</t>": a close tag may legally carry
            # whitespace before '>' ("</idinfo >"), and a longer-tag match
            # ("</idinfoExt>") only EXTENDS the cut — conservative either way
            p = text.rfind("</" + t)
            if p >= 0:
                q = text.find(">", p)
                if q < 0:
                    return None  # truncated/malformed close: full parse
                stop = max(stop, q + 1)
        if stop >= len(text) - 64:
            return None  # nothing worth skipping
        if stop > fed:
            # no read_events drain: the queued start events just sit in the
            # parser's deque until it is garbage-collected — iterating them
            # cost ~40% of the pruned ISO kernel for nothing
            parser.feed(text[fed:stop])
            fed = stop

        if len(cands) == 2:
            children = {c.tag for c in root}
            if any(n in children for n in ARCGIS_NODES):
                std = "arcgis"
            elif not any(("<" + n) in text for n in ARCGIS_NODES):
                std = "fgdc"
            else:
                return None  # probe exists but not yet a root child: ambiguous
        else:
            std = cands[0]

        # A tag can straddle the feed boundary when the cut is
        # chunk-aligned (stop == fed from _feed_until_root): expat buffers
        # the incomplete trailing token (no start event, nothing attached
        # to root), so a SELF-CLOSING needed section whose open tag spans
        # the boundary ("<spdom code='X'/>" with no close tag anywhere to
        # anchor a later cut) would be neither parsed nor visible to a
        # scan of text[fed:].  The remainder scan therefore always starts
        # at the last '<' before the boundary: that token is the only one
        # that can be unconsumed.  Whether it was consumed cannot be read
        # off a raw '>' search ('>' is legal inside a quoted attribute
        # value), so this is conservative: a fully-consumed self-closing
        # needed tag there costs a full-parse fallback, never a dropped
        # section.  A close-anchored cut ends on a "</t>" token, which no
        # "<t" probe matches, so this adds nothing on that path.
        scan_from = max(text.rfind("<", 0, fed), 0)
        rest = text[scan_from:]
        for t in plan.get(std, frozenset()):
            if ("<" + t) in rest:
                return None  # a needed section (re)opens later: full parse
        return root
    except ET.ParseError as exc:
        # same prefix, same parser: the full parse fails identically
        raise xmlkit.BadContent(f"invalid XML: {exc}") from exc


def detect_standard(root_tag: str, child_tags: set[str]) -> str:
    """Dispatch rule (get_metadata_parser, metadata_parser.py:46-80):
    ISO roots MD_Metadata|MI_Metadata; shared <metadata>/<Metadata> root is
    ArcGIS iff any probe node present, else FGDC."""

    if root_tag in ("MD_Metadata", "MI_Metadata"):
        return "iso"
    if root_tag == CATALOG_ROOT:
        return STANDARD_CATALOG
    if root_tag in ("metadata", "Metadata"):
        if any(node in child_tags for node in ARCGIS_NODES):
            return "arcgis"
        return "fgdc"
    return STANDARD_UNKNOWN


def _join(values: list[str], path: str) -> str:
    """Scalar normalization: re-split embedded newlines, then join (',' for
    attribute paths, '\\n' for element text)."""

    flat = [p for v in values for p in v.split("\n") if p]
    delim = "," if "@" in path else "\n"
    return delim.join(flat)


def _split_multi(values: list[str]) -> list[str]:
    return [p for v in values for p in v.split("\n") if p]


def _parse_struct(tree: ET.Element, spec: ComplexSpec, prop: str) -> dict | None:
    """Single complex struct: subs resolve absolute against the whole tree
    (parse_complex with the full tree, metadata_parser.py:288-294).

    Single-path sub chains anchored under ``spec.root`` share one walk of
    the root path instead of each re-walking it (ISO's bounding box is four
    6-step paths with a common 5-step prefix — the shared walk cuts the
    per-struct step count ~4x); identical results: splitting a plain child
    path at any step preserves the level-order traversal."""

    out = {}
    multi = MULTI_SUBS.get(prop, set())
    prefix = spec.root + "/"
    bases: list | None = None
    for sub, chain in spec.subs.items():
        if len(chain) == 1 and chain[0].startswith(prefix):
            if bases is None:
                bases = xmlkit.find_all(tree, spec.root)
            tail = chain[0][len(prefix):]
            vals = [v for b in bases for v in xmlkit.values_at(b, tail)]
        else:
            vals = xmlkit.resolve_chain(tree, chain)
        if sub in multi:
            out[sub] = _split_multi(vals)
        else:
            out[sub] = _join(vals, chain[0] if chain else "")
    return out if any(out.values()) else None


def _parse_struct_list(el: ET.Element, spec: ComplexSpec, prop: str, root: str) -> list[dict]:
    """Repeated complex structs: one per element at ``root``; subs resolve
    relative to each element (parse_complex_list, utils.py:277-293)."""

    multi = MULTI_SUBS.get(prop, set())
    out = []
    for item in xmlkit.find_all(el, root):
        struct = {}
        for sub, chain in spec.subs.items():
            vals = xmlkit.resolve_chain(item, chain, strip_root=root)
            if sub in multi:
                struct[sub] = _split_multi(vals)
            else:
                struct[sub] = _join(vals, chain[0] if chain else "")
        if any(struct.values()):
            out.append(struct)
    return out


def _parse_dates(tree: ET.Element, spec: StandardSpec) -> dict | None:
    """Date-type inference cascade (parse_dates, utils.py:296-329)."""

    d = spec.dates
    values = xmlkit.resolve_chain(tree, d.single)
    if len(values) == 1:
        return {"type": "single", "values": values}
    if len(values) > 1:
        return {"type": "multiple", "values": values}

    values = xmlkit.resolve_chain(tree, d.multiple)
    if len(values) == 1:
        return {"type": "single", "values": values}
    if len(values) > 1:
        return {"type": "multiple", "values": values}

    values = xmlkit.resolve_chain(tree, d.range_begin) + xmlkit.resolve_chain(tree, d.range_end)
    if len(values) == 1:
        return {"type": "single", "values": values}
    if len(values) == 2:
        return {"type": "range", "values": values}
    if len(values) > 2:
        return {"type": "multiple", "values": values}

    return None


def _parse_keyword_groups(tree: ET.Element, spec: StandardSpec) -> dict[str, list[str]]:
    """ISO: all keyword kinds share one repeating group; select groups whose
    type code matches, flatten their keywords (iso:442-459)."""

    out = {}
    for prop, g in spec.keyword_groups.items():
        kws: list[str] = []
        for group in xmlkit.find_all(tree, g.root):
            types = xmlkit.texts_at(group, g.type_path)
            if types and types[0].lower() == g.type_value:
                kws.extend(xmlkit.texts_at(group, g.keyword_path))
        out[prop] = kws
    return out


def _split_iso_content(form: dict) -> None:
    """ISO carries digital-form content appended to specification after a
    sentinel line; split back into (specification, content) (iso:396-421)."""

    lines = [s.strip() for s in form.get("specification", "").split("\n")]
    spec_parts: list[str] = []
    content_parts: list[str] = []
    seen = False
    for line in lines:
        if line == ISO_CONTENT_DELIM:
            seen = True
        elif not seen:
            if line:
                spec_parts.append(line)
        elif line:
            content_parts.append(line)
    form["specification"] = "\n".join(spec_parts)
    form["content"] = "\n".join(content_parts)


def _parse_digital_forms(tree: ET.Element, spec: StandardSpec) -> list[dict]:
    """Zip-merge distribution formats with transfer options; i-th format pairs
    with i-th option, shorter side padded, non-empty values win
    (iso:423-440 / arcgis:260-277)."""

    cspec = spec.complexes["digital_forms"]
    forms = _parse_struct_list(tree, cspec, "digital_forms", cspec.root)
    if spec.iso_content_split:
        for form in forms:
            _split_iso_content(form)
        forms = [f for f in forms if any(f.values())]
    tspec = spec.transfer_options
    opts = _parse_struct_list(tree, tspec, "digital_forms", tspec.root) if tspec else []

    merged = []
    for i in range(max(len(forms), len(opts))):
        form = dict.fromkeys(COMPLEX_FIELDS["digital_forms"], "")
        if i < len(forms):
            form.update({k: v for k, v in forms[i].items() if v})
        if i < len(opts):
            form.update({k: v for k, v in opts[i].items() if v})
        if any(form.values()):
            merged.append(form)
    return merged


def _parse_raster_pivot(tree: ET.Element, spec: StandardSpec) -> dict | None:
    """Pivot repeated axis-dimension structs on their type into one
    raster_info struct (iso:461-491 / arcgis:296-326)."""

    d = spec.raster_dims
    info = dict.fromkeys(COMPLEX_FIELDS["raster_info"], "")
    info["dimensions"] = _join(xmlkit.resolve_chain(tree, d.num_dims_chain), d.num_dims_chain[0])

    for el in xmlkit.find_all(tree, d.root):
        dim = {
            "type": _join(xmlkit.resolve_chain(el, d.type_chain, strip_root=d.root), d.type_chain[0]),
            "size": _join(xmlkit.resolve_chain(el, d.size_chain, strip_root=d.root), d.size_chain[0]),
            "value": _join(xmlkit.resolve_chain(el, d.value_chain, strip_root=d.root), d.value_chain[0]),
            "units": _join(xmlkit.resolve_chain(el, d.units_chain, strip_root=d.root), d.units_chain[0]),
        }
        kind = dim["type"].lower()
        if kind == "vertical":
            info["vertical_count"] = dim["size"]
        elif kind == "column":
            info["column_count"] = dim["size"]
            info["x_resolution"] = f"{dim['value']} {dim['units']}".strip()
        elif kind == "row":
            info["row_count"] = dim["size"]
            info["y_resolution"] = f"{dim['value']} {dim['units']}".strip()

    return info if any(info.values()) else None


def _parse_report_items(tree: ET.Element, spec: StandardSpec) -> dict[str, str]:
    """ArcGIS: reports share a path; select child text where the element's
    type attribute matches (arcgis:279-294)."""

    out = {}
    for prop, r in spec.report_items.items():
        texts = [
            t
            for el in xmlkit.find_all(tree, r.root)
            if el.get(r.attr) == r.attr_value
            for t in xmlkit.texts_at(el, r.child)
        ]
        out[prop] = "\n".join(texts)
    return out


def finish_attributes(inline: list[dict], remote: list[dict] | None) -> list[dict]:
    """ISO attribute resolution: remote ISO-19110 catalog attributes win when
    present, else inline; empty aliases default to label (iso:343-355).
    The Spark pipeline expresses the same rule as a left join + coalesce +
    transform; this function is the single-node oracle for it."""

    attrs = remote if remote is not None else inline
    return [
        {**a, "aliases": a["aliases"] or a["label"]}
        for a in attrs
    ]


def extract_catalog_attributes(xml_text: str) -> list[dict]:
    """Parse attribute structs from an ISO-19110 FC_FeatureCatalogue document
    (the reference fetches these over HTTP, iso:357-381; we model catalogs as
    sibling corpus rows resolved by a join)."""

    tree = xmlkit.parse_xml(xml_text)
    spec = SPECS["iso"].complexes["attributes"]
    return _parse_struct_list(tree, spec, "attributes", spec.root)


def empty_record() -> dict:
    rec = {p: "" for p in SIMPLE_PROPS}
    rec.update({
        "place_keywords": [], "stratum_keywords": [], "temporal_keywords": [],
        "thematic_keywords": [],
        # ArcGIS-only keyword kinds (arcgis_metadata_parser.py:93-98);
        # empty lists for the other standards
        "discipline_keywords": [], "other_keywords": [], "product_keywords": [],
        "search_keywords": [], "topic_category_keywords": [],
        "bounding_box": None, "dates": None, "larger_works": None,
        "raster_info": None,
        "attributes": [], "attributes_inline": [], "contacts": [],
        "digital_forms": [], "process_steps": [],
        "attr_catalog_url": "",
    })
    return rec


def extract_record(
    xml_text: str,
    catalog_lookup=None,
    props: set | None = None,
    specs: dict[str, StandardSpec] | None = None,
) -> dict:
    """XML document -> wide record dict (plus ``standard`` and ``error``).

    ``catalog_lookup``: optional ``url -> catalog_xml`` callable used by
    single-node oracles; the Spark pipeline resolves catalogs with a join
    instead (gmx.pipeline) and leaves this None.

    ``specs``: optional per-standard spec override — the extension surface
    (specs.model.extend_spec): custom properties appear as extra record
    keys with built-in fallback/default semantics.  May be partial:
    standards not in the override use the built-in spec.

    ``props``: optional property subset — projection pushdown INTO the
    Python stage.  Catalyst prunes columns down to the scan but cannot see
    inside a mapInPandas, so a pipeline that only consumes e.g.
    ``bounding_box`` (the spatial layer) passes the subset here and skips
    the other ~75 chain resolutions per document entirely.  ``None``
    computes everything; dispatch (``standard``/``error``) always runs.
    """

    if props is not None and props & ATTRIBUTE_PROPS:
        # the three attribute-family props derive from one parse: requesting
        # any of them must parse the source, or the others silently empty
        props = set(props) | ATTRIBUTE_PROPS
    need = (lambda p: True) if props is None else (lambda p: p in props)

    rec = empty_record()
    rec["standard"] = STANDARD_UNKNOWN
    rec["error"] = ""
    try:
        tree = None
        if props is not None:
            # pruned projection: a truncated parse that stops after the
            # last needed top-level section of the dispatched standard
            # (r4 verdict #3) — identical needed-path results, ~half the
            # parse bytes on mixed-standard corpora; falls back to the
            # full parser whenever truncation is not provably safe
            # (see _parse_pruned)
            plan = pruning_plan(props, specs)
            if plan is not None:
                tree = _parse_pruned(xml_text, plan)
        if tree is None:
            tree = xmlkit.parse_xml(xml_text)
    except xmlkit.BadContent as exc:
        rec["error"] = str(exc)
        return rec

    standard = detect_standard(tree.tag, {c.tag for c in tree})
    rec["standard"] = standard
    if standard in (STANDARD_UNKNOWN, STANDARD_CATALOG):
        if standard == STANDARD_UNKNOWN:
            rec["error"] = f"invalid root: {tree.tag}"
        return rec

    spec = SPECS[standard] if specs is None else {**SPECS, **specs}[standard]

    for prop, chain in spec.simple.items():
        if need(prop):
            rec[prop] = _join(xmlkit.resolve_chain(tree, chain), chain[0])

    if spec.keywords:
        for prop, chain in spec.keywords.items():
            if need(prop):
                rec[prop] = _split_multi(xmlkit.resolve_chain(tree, chain))
    if spec.keyword_groups and any(need(p) for p in spec.keyword_groups):
        rec.update(
            (p, v) for p, v in _parse_keyword_groups(tree, spec).items() if need(p)
        )
    for prop, chain in (spec.extra_keywords or {}).items():
        if need(prop):
            rec[prop] = _split_multi(xmlkit.resolve_chain(tree, chain))

    for prop, cspec in spec.complexes.items():
        if prop == "digital_forms" or not need(prop):
            continue
        if cspec.is_list:
            rec[prop] = _parse_struct_list(tree, cspec, prop, cspec.root)
        else:
            rec[prop] = _parse_struct(tree, cspec, prop)

    if need("digital_forms"):
        rec["digital_forms"] = _parse_digital_forms(tree, spec)
    if need("dates"):
        rec["dates"] = _parse_dates(tree, spec)

    if spec.raster_dims is not None and need("raster_info"):
        rec["raster_info"] = _parse_raster_pivot(tree, spec)
    if spec.report_items and any(need(p) for p in spec.report_items):
        rec.update(
            (p, v) for p, v in _parse_report_items(tree, spec).items() if need(p)
        )

    # X1 callable bindings run last so they may post-process built-in values
    for prop, cp in (spec.callables or {}).items():
        if need(prop):
            rec[prop] = cp.parse_fn(tree, spec)

    rec["attributes_inline"] = list(rec["attributes"])

    if standard == "iso" and need("attributes"):
        url_vals = xmlkit.resolve_chain(tree, spec.attr_catalog_url)
        rec["attr_catalog_url"] = url_vals[0] if url_vals else ""
        remote = None
        if rec["attr_catalog_url"] and catalog_lookup is not None:
            catalog_xml = catalog_lookup(rec["attr_catalog_url"])
            if catalog_xml is not None:
                remote = extract_catalog_attributes(catalog_xml)
        if catalog_lookup is not None or not rec["attr_catalog_url"]:
            rec["attributes"] = finish_attributes(rec["attributes"], remote)

    return rec
