"""Embedded RDFa-Lite extraction — the third of the north star's three
embedded-KG syntaxes ("embedded RDFa/JSON-LD/Turtle in page text").

RDFa Lite 1.1 (W3C REC, the five attributes ``vocab prefix typeof
property resource`` plus host-language ``about href src content
datatype lang``) is the other markup real Common-Crawl pages carry
schema.org data in. This module reads page HTML through the shared
``htmlscan.scan_html`` event stream, with its own strict attribute
grammar (``_parse_attrs``), and emits the SAME flat triple tuples as the
Turtle grammar and the JSON-LD expander, so the downstream engine is
syntax-agnostic.

Scope (documented subset of the RDFa Core 1.1 processing sequence —
the Lite attribute set with the chaining rules real schema.org markup
uses; full RDFa Core's @rel/@rev/@inlist/@datetime and xmlns: legacy
prefixes are out of scope and IGNORED as plain HTML, per the Lite
profile):

* ``vocab`` sets the default vocabulary for terms in ``property`` /
  ``typeof`` (inherited by descendants); ``prefix="p: iri ..."`` adds
  CURIE mappings (inherited, inner shadows outer).
* new subject per element: ``about`` (IRI or CURIE), else — when the
  element carries ``typeof`` but no ``property`` — ``resource``/
  ``href``/``src`` or a fresh blank node; otherwise the parent's
  subject is inherited. ``typeof`` emits rdf:type triples for the
  element's subject.
* ``property`` (space-separated terms/CURIEs/IRIs): object is
  ``resource``/``href``/``src`` (IRI) when present, else ``content``
  (literal), else — when ``typeof`` is also present — a fresh blank
  node that becomes the subject for descendants (RDFa chaining), else
  the element's concatenated text content (literal). Literals carry
  ``datatype`` (expanded) or the in-scope ``lang``; otherwise plain
  xsd:string (matching the Turtle path's implicit-string P14).
* blank-node labels use the same per-document salted counter as the
  Turtle/JSON-LD paths (``_:{prefix}{n}``, extract.py / SURVEY.md §4).

The scanner handles double/single-quoted and unquoted attribute
values, HTML void elements, self-closing tags, comments, and skips
<script>/<style> payloads; malformed markup raises nothing — unclosed
elements close at EOF (the browser-parser behavior), and a page with
no RDFa attributes is one parse_ok status row with zero triples.

Scale shape: ``rdfa_triples`` runs in the shared
``extract.doc_stage`` — one ``mapInArrow`` stage, zero shuffle, column
pruning to (url, text); parallelism = input splits.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .extract import doc_stage
from .grammar.lexical import RDF_TYPE, XSD_STRING
from .htmlscan import WS_RE, scan_html
from .jsonld import _ABS_IRI_RE
from .quarantine import never_raising
from .schema import EXTRACT_SCHEMA

_ATTR_RE = re.compile(
    r"([a-zA-Z_:][a-zA-Z0-9_:.-]*)\s*=\s*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'=<>`]+))"
)


def _parse_attrs(blob: str) -> dict[str, str]:
    """The strict RDFa attribute grammar: ``attr=value`` only, so a bare
    ``property`` stays absent. ``htmlscan.parse_attrs`` would map it to
    '', and a ``typeof`` element with an empty ``property`` opens no new
    subject."""
    return {m.group(1).lower(): m.group(2) or m.group(3) or m.group(4) or ""
            for m in _ATTR_RE.finditer(blob or "")}


def _parse_prefix_attr(value: str) -> list[tuple[str, str]]:
    """``prefix="schema: http://schema.org/ dc: http://purl.org/dc/"``
    -> [(schema, http://schema.org/), ...]; malformed pairs ignored."""
    toks = value.split()
    out = []
    for i in range(0, len(toks) - 1, 2):
        name = toks[i]
        if name.endswith(":"):
            out.append((name[:-1], toks[i + 1]))
    return out


class _Frame:
    __slots__ = ("subject", "s_kind", "vocab", "prefixes", "lang",
                 "lit_props", "lit_dt", "lit_lang", "buf")

    def __init__(self):
        self.subject = None
        self.s_kind = None
        self.vocab = None
        self.prefixes: dict[str, str] = {}
        self.lang = None
        # pending text-content literal: list of predicate IRIs whose
        # object is this element's collected text
        self.lit_props: list[str] | None = None
        self.lit_dt = None
        self.lit_lang = None
        self.buf: list[str] | None = None


def _expand(term: str, vocab: str | None, prefixes: dict[str, str],
            as_term: bool) -> str | None:
    """Expand a property/typeof term (``as_term=True``: vocab applies)
    or an about/resource value (``as_term=False``: no vocab)."""
    if not term:
        return None
    if term.startswith("_:"):
        return term
    if ":" in term:
        pfx, _, suffix = term.partition(":")
        if pfx in prefixes and not suffix.startswith("//"):
            return prefixes[pfx] + suffix
        if _ABS_IRI_RE.match(term):
            return term
        return None
    if as_term and vocab:
        return vocab + term
    return None


def rdfa_triples(html: str, bnode_prefix: str = "") -> list[tuple]:
    """Scan one HTML page -> its RDFa triples. Malformed markup raises
    nothing: structurally hopeless input yields [] — zero triples is
    data (most web pages carry no RDFa), not an error."""
    triples: list[tuple] = []
    emit = triples.append  # deduplicated per page on return (P23)

    counter = [0]

    def fresh_bnode() -> str:
        counter[0] += 1
        return f"_:{bnode_prefix}{counter[0]}"

    stack = [_Frame()]  # the root frame: no subject, no vocab

    def emit_literals(s, s_kind, props, value, dt, lang):
        # typed, else language-tagged, else plain xsd:string (P14)
        tail = ((dt, None) if dt is not None else (None, lang) if lang
                else (XSD_STRING, None))
        for p in props:
            emit((s, s_kind, p, value, "literal", *tail))

    def close_frame(fr: _Frame):
        if fr.lit_props is not None:
            text = WS_RE.sub(" ", "".join(fr.buf or [])).strip()
            emit_literals(fr.subject, fr.s_kind, fr.lit_props, text,
                          fr.lit_dt, fr.lit_lang)

    # scan_html yields exactly one "end" per pushed start (EOF
    # included), so "end" always closes the top frame
    for ev in scan_html(html, _parse_attrs):
        if ev[0] == "text":
            for fr in stack:
                if fr.buf is not None:
                    fr.buf.append(ev[1])
            continue
        if ev[0] == "end":
            close_frame(stack.pop())
            continue
        _, _, attrs, self_closing = ev
        parent = stack[-1]
        fr = _Frame()
        fr.vocab = attrs["vocab"] if attrs.get("vocab") else parent.vocab
        fr.prefixes = parent.prefixes
        if "prefix" in attrs:
            pairs = _parse_prefix_attr(attrs["prefix"])
            if pairs:
                fr.prefixes = dict(parent.prefixes)
                fr.prefixes.update(pairs)
        fr.lang = attrs.get("lang", parent.lang)
        fr.subject, fr.s_kind = parent.subject, parent.s_kind

        prop_attr = attrs.get("property")
        typeof_attr = attrs.get("typeof")
        about = attrs.get("about")
        res = attrs.get("resource") or attrs.get("href") or attrs.get("src")

        def as_node(v: str) -> tuple[str, str] | None:
            if v.startswith("_:"):
                return (v if v != "_:" else fresh_bnode(), "bnode")
            iri = _expand(v, None, fr.prefixes, as_term=False)
            return (iri, "iri") if iri else None

        new_subj: tuple[str, str] | None = None
        if about is not None:
            new_subj = as_node(about)
        elif typeof_attr is not None and prop_attr is None:
            new_subj = as_node(res) if res else (fresh_bnode(), "bnode")

        if new_subj is not None:
            fr.subject, fr.s_kind = new_subj

        props: list[str] = []
        if prop_attr is not None:
            for t in prop_attr.split():
                p = _expand(t, fr.vocab, fr.prefixes, as_term=True)
                if p is not None:
                    props.append(p)

        # typeof on a property-less element types the new subject;
        # typeof WITH property (and no @about) types the chained
        # object (below). When @about is present, property triples
        # attach to the NEW subject and typeof types it too — RDFa
        # Core 1.1 §7.5: @about wins the new-subject resolution and
        # both @property and @typeof then refer to it.
        ps, pk = fr.subject, fr.s_kind  # == @about subject if set,
        #                                 else the inherited parent's
        chained_obj: tuple[str, str] | None = None
        if props and ps is not None:
            if res and about is None:
                obj = as_node(res)
                if obj is not None:
                    for p in props:
                        emit((ps, pk, p, obj[0], obj[1], None, None))
                    if typeof_attr is not None:
                        chained_obj = obj
            elif "content" in attrs:
                dt = None
                if attrs.get("datatype"):
                    dt = _expand(attrs["datatype"], fr.vocab,
                                 fr.prefixes, as_term=True)
                emit_literals(ps, pk, props, attrs["content"], dt, fr.lang)
            elif typeof_attr is not None and about is None:
                chained_obj = (fresh_bnode(), "bnode")
                for p in props:
                    emit((ps, pk, p,
                          chained_obj[0], chained_obj[1], None, None))
            else:
                fr.lit_props = props
                fr.lit_dt = None
                if attrs.get("datatype"):
                    fr.lit_dt = _expand(attrs["datatype"], fr.vocab,
                                        fr.prefixes, as_term=True)
                fr.lit_lang = fr.lang
                fr.buf = []
                # text-literal subject: stays ps (the @about subject
                # when present, else the parent's)
                fr.subject, fr.s_kind = ps, pk

        if chained_obj is not None:
            fr.subject, fr.s_kind = chained_obj

        if typeof_attr is not None:
            tsubj = chained_obj or (fr.subject, fr.s_kind)
            if tsubj[0] is not None:
                for t in typeof_attr.split():
                    ti = _expand(t, fr.vocab, fr.prefixes, as_term=True)
                    if ti is not None:
                        emit((tsubj[0], tsubj[1], RDF_TYPE, ti, "iri",
                              None, None))

        if self_closing:  # void and raw-text elements included
            close_frame(fr)
        else:
            stack.append(fr)
    return list(dict.fromkeys(triples))


extract_rdfa_triples = never_raising(rdfa_triples)


def extract_rdfa(pages: DataFrame, fixture_mode: bool = False) -> DataFrame:
    """pages(url, text, ...) -> extraction rows (EXTRACT_SCHEMA) —
    the RDFa twin of extract.extract_triples: same schema, salting,
    quarantine contract, and no-shuffle scale shape."""
    return doc_stage(pages, rdfa_triples, EXTRACT_SCHEMA,
                     salt=not fixture_mode)
