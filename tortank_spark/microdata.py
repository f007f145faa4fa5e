"""Embedded HTML microdata extraction (itemscope/itemtype/itemprop) —
the fourth embedded-KG syntax, and on real Common-Crawl pages the most
common schema.org carrier (ahead of JSON-LD and RDFa). Completes the
north star's embedded-markup coverage with the same flat triple tuples
as the Turtle/JSON-LD/RDFa paths, so the downstream engine stays
syntax-agnostic.

Scope (documented subset of the WHATWG microdata model + the W3C
microdata-to-RDF note's property-IRI rule):

* ``itemscope`` mints an item: subject = absolute-IRI ``itemid`` if
  present, else a fresh blank node from the same per-document salted
  counter as the other extractors (SURVEY.md §4).
* ``itemtype`` (space-separated absolute IRIs) -> rdf:type triples;
  the FIRST type's vocabulary (the IRI up to and including its last
  '/' or '#') becomes the base for short ``itemprop`` names — the
  microdata-to-RDF note's propertyURI=vocabulary rule, which is how
  ``itemprop="name"`` inside ``itemtype="http://schema.org/Person"``
  becomes ``http://schema.org/name``.
* ``itemprop="p ..."`` attaches to the nearest ENCLOSING item. Value:
  the nested item when the same element carries ``itemscope``
  (chaining); else href (a/area/link), src (img/audio/video/embed/
  iframe/source/track), content (meta), datetime (time) when present;
  else the element's whitespace-normalized text content. All
  non-item values are plain xsd:string literals (microdata is
  untyped by design); IRI-valued positions (href/src) emit IRI
  objects.
* short itemprop names on an UNTYPED item have no vocabulary to
  resolve against and are dropped (the note's fallback minting of
  ``md:`` vocabulary IRIs is out of scope); absolute-IRI itemprops
  always work. ``itemref`` is out of scope (needs a second pass over
  an id-index; documented, ignored).

Zero triples on a page is data, not an error (most pages carry no
microdata) — the scanner never raises.

Scale shape: identical to the sibling extractors —
``extract_microdata_triples`` runs in the shared ``extract.doc_stage``
(one ``mapInArrow`` stage over (url, text), zero shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .extract import doc_stage
from .htmlscan import WS_RE, scan_html
from .schema import EXTRACT_SCHEMA

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_HREF_TAGS = {"a", "area", "link"}
_SRC_TAGS = {"img", "audio", "video", "embed", "iframe", "source",
             "track"}


def _vocab_of(itemtype: str) -> str | None:
    """Vocabulary base of the first itemtype IRI: everything up to and
    including the last '/' or '#'."""
    cut = max(itemtype.rfind("/"), itemtype.rfind("#"))
    return itemtype[: cut + 1] if cut > 0 else None


def _is_abs_iri(v: str) -> bool:
    from .jsonld import _ABS_IRI_RE

    return bool(_ABS_IRI_RE.match(v))


def extract_microdata_triples(
    html: str, bnode_prefix: str = ""
) -> tuple[list[tuple], str | None]:
    """Scan one HTML page for microdata items; returns (triples, None)
    — same flat tuples and never-raise contract as the siblings."""
    triples: list[tuple] = []
    seen: set[tuple] = set()

    def emit(t: tuple):
        if t not in seen:
            seen.add(t)
            triples.append(t)

    counter = 0

    def fresh() -> str:
        nonlocal counter
        counter += 1
        return f"_:{bnode_prefix}{counter}"

    # item frame: (subject, s_kind, vocab) — None marks "no enclosing
    # item". lit frame collects text for a pending text-content prop.
    item_stack: list[tuple | None] = [None]
    # per OPEN ELEMENT: (pushed_item, lit_frame|None); lit_frame =
    # [subject, s_kind, [pred...], buf]
    elem_stack: list[tuple] = []
    lit_frames: list[list] = []  # open text collectors (nested ok)

    for ev in scan_html(html):
        kind = ev[0]
        if kind == "text":
            for lf in lit_frames:
                lf[3].append(ev[1])
            continue
        if kind == "end":
            if not elem_stack:
                continue
            pushed_item, lit = elem_stack.pop()
            if pushed_item:
                item_stack.pop()
            if lit is not None:
                lit_frames.remove(lit)
                s, s_kind, preds, buf = lit
                text = WS_RE.sub(" ", "".join(buf)).strip()
                for p in preds:
                    emit((s, s_kind, p, text, "literal",
                          XSD + "string", None))
            continue

        _, tag, attrs, self_closing = ev
        enclosing = item_stack[-1]
        has_scope = "itemscope" in attrs

        new_item = None
        if has_scope:
            itemid = attrs.get("itemid", "")
            if itemid and _is_abs_iri(itemid):
                subj, skind = itemid, "iri"
            else:
                subj, skind = fresh(), "bnode"
            types = [t for t in attrs.get("itemtype", "").split()
                     if _is_abs_iri(t)]
            for t in types:
                emit((subj, skind, RDF_TYPE, t, "iri", None, None))
            vocab = _vocab_of(types[0]) if types else None
            new_item = (subj, skind, vocab)

        lit = None
        prop_attr = attrs.get("itemprop")
        if prop_attr and enclosing is not None:
            es, ek, evocab = enclosing
            preds = []
            for name in prop_attr.split():
                if _is_abs_iri(name):
                    preds.append(name)
                elif evocab:
                    preds.append(evocab + name)
            if preds:
                if has_scope:
                    for p in preds:
                        emit((es, ek, p, new_item[0], new_item[1],
                              None, None))
                elif tag in _HREF_TAGS and attrs.get("href"):
                    for p in preds:
                        emit((es, ek, p, attrs["href"], "iri",
                              None, None))
                elif tag in _SRC_TAGS and attrs.get("src"):
                    for p in preds:
                        emit((es, ek, p, attrs["src"], "iri",
                              None, None))
                elif tag == "meta" and "content" in attrs:
                    for p in preds:
                        emit((es, ek, p, attrs["content"], "literal",
                              XSD + "string", None))
                elif tag == "time" and attrs.get("datetime"):
                    for p in preds:
                        emit((es, ek, p, attrs["datetime"], "literal",
                              XSD + "string", None))
                elif not self_closing:
                    lit = [es, ek, preds, []]
                    lit_frames.append(lit)

        if not self_closing:
            elem_stack.append((new_item is not None, lit))
            if new_item is not None:
                item_stack.append(new_item)
        # self-closing itemscope (e.g. <meta itemscope ...>) mints an
        # item with no children — already fully emitted above

    return triples, None


def extract_microdata(pages: DataFrame, fixture_mode: bool = False) -> DataFrame:
    """pages(url, text, ...) -> extraction rows (EXTRACT_SCHEMA) —
    the microdata twin of extract.extract_triples."""
    return doc_stage(pages, extract_microdata_triples, EXTRACT_SCHEMA,
                     salt=not fixture_mode)
