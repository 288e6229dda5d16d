"""Minimal XML toolkit on stdlib ElementTree.

Re-implements just the element-access semantics the extraction kernel needs
(the reference delegates these to the ``parserutils.elements`` package, see
/root/reference/gis_metadata/utils.py:6-9):

- namespace stripping at parse time (reference strips namespaces so all
  downstream paths are namespace-free, metadata_parser.py:110-118)
- ``texts_at`` / ``attrs_at``: all non-empty texts/attribute values at a path
- ``resolve_chain``: first path in a fallback chain with non-empty values wins
  (parse_property recursion over ``_prop`` alternates, utils.py:332-367)
- a tiny ordered builder (``ensure``/``append_at``) used by the serializer.

Only plain tag steps and a trailing ``@attr`` are supported — that is the
entire path language the reference's data maps use.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET



class BadContent(ValueError):
    """Raised for empty or non-XML content (reference: NoContent/InvalidContent,
    exceptions.py)."""


def parse_xml(text: str) -> ET.Element:
    """Parse an XML string and strip namespaces from tags and attributes."""

    if text is None or not text.strip():
        raise BadContent("no content")
    if text.startswith("<?gmx-ingest-error "):
        # ingest-side decode marker (gmx.ingest.INGEST_ERROR_PREFIX):
        # surface the readable message instead of a parse error
        raise BadContent(text[len("<?gmx-ingest-error "):].rstrip("?>").strip())
    try:
        root = ET.fromstring(text)
    except ET.ParseError as exc:
        raise BadContent(f"invalid XML: {exc}") from exc
    # No namespace machinery can fire without a declaration: expat only
    # produces Clark-notation ("{uri}local") tags for declared prefixes /
    # default namespaces ("xmlns") or the predefined "xml:" prefix.  One
    # C-speed substring scan skips the whole strip loop for the (dominant)
    # namespace-free corpus — the loop below was ~24% of pruned-extraction
    # kernel time (r4 verdict #3).
    if "xmlns" not in text and "xml:" not in text:
        return root
    # ElementTree Clark notation puts the namespace FIRST ("{uri}local"),
    # so a startswith check + rpartition replaces the old per-element regex
    # sub — the strip loop was ~1/3 of total parse cost in the extraction
    # hot path (profiled: 173 regex calls/doc), and most elements have no
    # namespace at all after synthesis, so the common case is now one string
    # compare per tag
    for el in root.iter():
        tag = el.tag
        if isinstance(tag, str) and tag[:1] == "{":
            el.tag = tag.rpartition("}")[2]
        attrib = el.attrib
        if attrib:
            for k in attrib:
                if k[:1] == "{":
                    el.attrib = {
                        (k2.rpartition("}")[2] if k2[:1] == "{" else k2): v
                        for k2, v in attrib.items()
                    }
                    break
    return root


def split_attr(path: str) -> tuple[str, str | None]:
    """``'a/b/@x'`` -> ``('a/b', 'x')``; ``'a/b'`` -> ``('a/b', None)``."""

    if "@" in path:
        base, _, attr = path.rpartition("/@")
        if not base:  # bare '@attr' refers to the context element itself
            return "", path.lstrip("@")
        return base, attr
    return path, None


_steps_cache: dict[str, tuple[str, ...]] = {}


def find_all(el: ET.Element, path: str) -> list[ET.Element]:
    """All elements at a plain child path (``a/b/c``).

    Hand-rolled walk instead of ``Element.findall``: the spec tables hold
    200+ distinct paths, which thrashes ElementPath's 100-entry compile
    cache; our path language is plain child steps, so a direct walk is both
    cache-free and ~2x faster in the extraction hot loop."""

    if not path:
        return [el]
    steps = _steps_cache.get(path)
    if steps is None:
        steps = _steps_cache.setdefault(path, tuple(s for s in path.split("/") if s))
    nodes = [el]
    for step in steps:
        nodes = [c for n in nodes for c in n if c.tag == step]
        if not nodes:
            break
    return nodes


def texts_at(el: ET.Element, path: str) -> list[str]:
    """Non-empty element texts, stripped of surrounding whitespace — the
    reference reads text through parserutils, which strips; its golden
    fixtures (multi-line element content, tests/data/*_metadata.xml) assert
    stripped values, so unstripped reads break fixture parity."""

    out = []
    for e in find_all(el, path):
        t = e.text.strip() if e.text else ""
        if t:
            out.append(t)
    return out


def attrs_at(el: ET.Element, path: str, attr: str) -> list[str]:
    return [v for e in find_all(el, path) for v in [e.get(attr)] if v]


def values_at(el: ET.Element, path: str) -> list[str]:
    base, attr = split_attr(path)
    return attrs_at(el, base, attr) if attr is not None else texts_at(el, base)


def resolve_chain(el: ET.Element, chain: tuple[str, ...], strip_root: str = "") -> list[str]:
    """First path in ``chain`` with non-empty values wins.

    ``strip_root``: when resolving inside a repeated element, paths that start
    with the element's own root path become relative to it (get_xpath_branch,
    utils.py:179-186); other paths resolve against the element unchanged.
    """

    for path in chain:
        if not path:
            continue
        if strip_root and path.startswith(strip_root):
            path = path[len(strip_root):].lstrip("/")
        vals = values_at(el, path)
        if vals:
            return vals
    return []


# ---------------------------------------------------------------- building

def ensure(parent: ET.Element, path: str) -> ET.Element:
    """Get-or-create the chain of single child elements along ``path``."""

    cur = parent
    for step in [s for s in path.split("/") if s]:
        nxt = cur.find(step)
        if nxt is None:
            nxt = ET.SubElement(cur, step)
        cur = nxt
    return cur


def append_at(parent: ET.Element, path: str, text: str | None = None, **attrs) -> ET.Element:
    """Ensure all-but-last steps exist, then append a NEW last element
    (so repeated values become sibling elements, as _update_property's
    one-element-per-value rule requires, utils.py:404-448)."""

    head, _, last = path.rpartition("/")
    cur = ensure(parent, head) if head else parent
    el = ET.SubElement(cur, last)
    if text is not None:
        el.text = text
    for k, v in attrs.items():
        el.set(k, v)
    return el


def to_string(el: ET.Element) -> str:
    return ET.tostring(el, encoding="unicode")
