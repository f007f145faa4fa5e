"""Embedded JSON-LD extraction — the second of the north star's three
embedded-KG syntaxes ("embedded RDFa/JSON-LD/Turtle in page text").

The reference engine parses standalone Turtle/N-Triples documents
(turtle_doc.rs); Common-Crawl-style pages instead carry their KG
payload mostly as ``<script type="application/ld+json">`` islands
(schema.org markup). This module scans a page for those islands and
expands each to the SAME flat triple tuples the Turtle grammar emits
(``(s, s_kind, p, o, o_kind, o_datatype, o_lang)`` with kinds
'iri'|'bnode'|'literal'), so every downstream operator — algebra,
canonicalization, serialization, the RDF/JSON sink — works unchanged
on JSON-LD-sourced triples.

Scope (documented subset of JSON-LD 1.0 expansion, the part exercised
by real-world schema.org embeds; W3C JSON-LD 1.0 §6.1-6.11):

* ``@context``: a JSON object mapping term -> absolute IRI (string) or
  term -> {"@id": iri[, "@type": "@id"]}; ``@vocab`` supported. Every
  mapping also serves as a prefix for compact IRIs ("schema:name").
  Remote contexts (string-valued @context, i.e. a URL) are NOT fetched
  — at 10^12 documents a per-doc network fetch is a non-starter; such
  islands quarantine as ``parse_error`` instead of silently dropping.
* node objects with ``@id`` / ``@type`` / nested node objects (fresh
  blank node per-document counter, same ``_:{prefix}{n}`` labeling and
  url-salting scheme as the Turtle path — extract.py / SURVEY.md §4);
  top-level arrays and ``@graph`` arrays of nodes.
* value objects ``{"@value": v[, "@type": dt][, "@language": tag]}``
  and JSON scalars (string -> xsd:string, int -> xsd:integer,
  float -> xsd:double, bool -> xsd:boolean), arrays of any of these
  (JSON-LD arrays are UNORDERED multi-values — no rdf:List is built;
  @list containers are out of scope and quarantine).
* keys that expand to no IRI (no term mapping, not a compact IRI, no
  @vocab) are dropped per the JSON-LD expansion algorithm (§6.3 step
  7.4 drops non-IRI-expanding keys), NOT an error.

Statement-level dedup per document matches the Turtle path's P23
(reference statement dedup, turtle_doc.rs:284-293).

Scale shape: identical to extract.extract_triples — ``jsonld_triples``
runs in the shared ``extract.doc_stage`` (one ``mapInArrow`` stage,
zero shuffle, column pruning to (url, text), parallelism = input
splits); malformed JSON or out-of-scope constructs raise, and the stage
keeps the page as a quarantine row (``quarantine.classify`` names the
reason), never a job failure.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from .extract import doc_stage
from .grammar.lexical import RDF_TYPE, XSD
from .quarantine import Quarantine, never_raising, within
from .schema import EXTRACT_SCHEMA

_ISLAND_RE = re.compile(
    r"<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>(.*?)</script>",
    re.IGNORECASE | re.DOTALL,
)

# absolute-IRI gate for expansion: scheme ':' rest (RFC 3986 scheme)
_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

_KEYWORDS = {"@context", "@id", "@type", "@graph", "@value",
             "@language", "@list", "@set", "@vocab"}


class _Ctx:
    """Active context: term/prefix map + @vocab."""

    __slots__ = ("terms", "vocab")

    def __init__(self):
        self.terms: dict[str, str] = {}
        self.vocab: str | None = None

    def child(self) -> "_Ctx":
        c = _Ctx()
        c.terms = dict(self.terms)
        c.vocab = self.vocab
        return c


def _apply_context(ctx: _Ctx, cdef) -> _Ctx:
    """Merge a local @context into ``ctx`` (child copy, JSON-LD §6.1:
    local contexts shadow outer ones for the node's subtree)."""
    if isinstance(cdef, str):
        raise ValueError(
            "remote @context not supported (no per-document fetch): "
            + cdef[:80]
        )
    if isinstance(cdef, list):
        for part in cdef:
            ctx = _apply_context(ctx, part)
        return ctx
    if not isinstance(cdef, dict):
        raise ValueError("@context must be an object, array, or IRI string")
    out = ctx.child()
    for term, val in cdef.items():
        if term == "@vocab":
            if not isinstance(val, str):
                raise ValueError("@vocab must be a string")
            out.vocab = val
            continue
        if term.startswith("@"):
            raise ValueError(f"unsupported context keyword: {term}")
        if isinstance(val, dict):
            iri = val.get("@id")
            if not isinstance(iri, str):
                raise ValueError(f"context term {term!r} lacks @id")
            out.terms[term] = iri
        elif isinstance(val, str):
            out.terms[term] = val
        else:
            raise ValueError(f"context term {term!r} has non-string value")
    return out


def _expand_iri(ctx: _Ctx, value: str, vocab_fallback: bool) -> str | None:
    """Expand a term / compact IRI / absolute IRI. ``vocab_fallback``
    is True for keys and @type values (vocab-relative position, JSON-LD
    §6.3), False for @id values (document-relative position — but we
    require absolute IRIs there; no base resolution in-scope)."""
    if value.startswith("_:"):
        return value  # caller relabels via bnode map
    if value in ctx.terms:
        return ctx.terms[value]
    if ":" in value:
        pfx, _, suffix = value.partition(":")
        if pfx in ctx.terms and not suffix.startswith("//"):
            return ctx.terms[pfx] + suffix
        if _ABS_IRI_RE.match(value):
            return value
    if vocab_fallback and ctx.vocab is not None:
        return ctx.vocab + value
    return None


def _must_expand(ctx: _Ctx, value: str, vocab_fallback: bool,
                 what: str) -> str:
    """``_expand_iri`` that raises where ``value`` expands to no IRI."""
    iri = _expand_iri(ctx, value, vocab_fallback)
    if iri is None:
        raise ValueError(f"{what} does not expand to an IRI: {value!r}")
    return iri


def _py_number_literal(v) -> tuple[str, str]:
    """JSON number -> (lexical, datatype), mirroring the Turtle path's
    integer/double split (grammar/lexical.py numeric ladder)."""
    if isinstance(v, bool):  # bool is an int subclass — guard first
        return ("true" if v else "false", XSD + "boolean")
    if isinstance(v, int):
        return (str(v), XSD + "integer")
    # repr() is Python's shortest round-trip float form — deterministic
    return (repr(float(v)), XSD + "double")


class _Expander:
    def __init__(self, bnode_prefix: str):
        self.bnode_prefix = bnode_prefix
        self.counter = 0
        self.bnode_map: dict[str, str] = {}  # explicit _:x -> local label
        self.triples: list[tuple] = []
        self._emit = self.triples.append  # deduplicated on return (P23)

    def island(self, payload: str) -> list[tuple]:
        """Expand one island into the page's triples and return them
        all; raises on malformed JSON or an out-of-scope construct."""
        doc = json.loads(payload)
        if "\\ud" in payload or "\\uD" in payload:
            # an unpaired surrogate escape decodes to a lone surrogate,
            # which no UTF-8 column can hold: raise UnicodeError here
            json.dumps(doc, ensure_ascii=False).encode("utf-8")
        self.bnode_map = {}  # explicit _:x labels are island-scoped
        ctx = _Ctx()
        if isinstance(doc, dict) and doc.get("@graph") is not None:
            if "@context" in doc:
                ctx = _apply_context(ctx, doc["@context"])
            nodes = doc["@graph"]
            if not isinstance(nodes, list):
                raise ValueError("@graph must be an array")
            # a node that also carries @graph is out of scope
            if set(doc) - {"@graph", "@context", "@id"}:
                raise ValueError(
                    "node properties alongside @graph are out of scope")
        elif isinstance(doc, (dict, list)):
            # a top-level node applies its own @context in node()
            nodes = doc if isinstance(doc, list) else [doc]
        else:
            raise ValueError("top-level JSON-LD must be an object or array")
        for n in nodes:
            if not isinstance(n, dict):
                raise ValueError("@graph and top-level array entries must "
                                 "be node objects")
            self.node(n, ctx)
        return list(dict.fromkeys(self.triples))

    def _fresh_bnode(self) -> str:
        self.counter += 1
        return f"_:{self.bnode_prefix}{self.counter}"

    def _label_bnode(self, explicit: str) -> str:
        # explicit _:x ids are document-scoped: relabel through the
        # same salted counter so labels stay globally unique (the
        # Turtle path's labeled-bnode treatment, SURVEY.md §4)
        got = self.bnode_map.get(explicit)
        if got is None:
            got = self._fresh_bnode()
            self.bnode_map[explicit] = got
        return got

    def node(self, obj: dict, ctx: _Ctx) -> tuple[str, str]:
        """Expand one node object; returns (subject, s_kind)."""
        if "@context" in obj:
            ctx = _apply_context(ctx, obj["@context"])
        sid = obj.get("@id")
        if sid is not None:
            if not isinstance(sid, str):
                raise ValueError("@id must be a string")
            if sid.startswith("_:"):
                s, s_kind = self._label_bnode(sid), "bnode"
            else:
                s, s_kind = _must_expand(ctx, sid, False, "@id"), "iri"
        else:
            s, s_kind = self._fresh_bnode(), "bnode"

        for key, val in obj.items():
            if key == "@type":
                for tv in val if isinstance(val, list) else [val]:
                    if not isinstance(tv, str):
                        raise ValueError("@type values must be strings")
                    self._emit((s, s_kind, RDF_TYPE,
                                _must_expand(ctx, tv, True, "@type"), "iri",
                                None, None))
                continue
            if key in _KEYWORDS:
                if key == "@list":
                    raise ValueError("@list containers are out of scope")
                continue
            p = _expand_iri(ctx, key, vocab_fallback=True)
            if p is None:
                continue  # non-IRI-expanding key: dropped (§6.3 7.4)
            self._values(s, s_kind, p, val, ctx)
        return s, s_kind

    def _values(self, s, s_kind, p, val, ctx: _Ctx):
        if isinstance(val, list):
            for v in val:
                self._values(s, s_kind, p, v, ctx)
            return
        if val is None:
            return  # null removes the property (JSON-LD §6.1)
        if isinstance(val, dict):
            if "@list" in val:
                raise ValueError("@list containers are out of scope")
            if "@value" in val:
                lit = val["@value"]
                lang = val.get("@language")
                dt = val.get("@type")
                if lang is not None and dt is not None:
                    raise ValueError("@language and @type are exclusive")
                if isinstance(lit, (int, float, bool)):
                    if lang is not None:
                        raise ValueError("@language on a non-string @value")
                    lex, ndt = _py_number_literal(lit)
                elif isinstance(lit, str):
                    lex = lit
                    ndt = None if lang is not None else XSD + "string"
                else:
                    raise ValueError("unsupported @value payload")
                if dt is not None:
                    ndt = _must_expand(ctx, dt, True, "@type")
                self._emit((s, s_kind, p, lex, "literal", ndt, lang))
                return
            if set(val.keys()) == {"@id"} and isinstance(val["@id"], str):
                # IRI / bnode reference object
                ref = val["@id"]
                if ref.startswith("_:"):
                    self._emit((s, s_kind, p, self._label_bnode(ref),
                                "bnode", None, None))
                else:
                    self._emit((s, s_kind, p,
                                _must_expand(ctx, ref, False, "@id"), "iri",
                                None, None))
                return
            # nested node object: expand depth-first (inner triples
            # first — the Turtle path's anon-bnode emission order)
            o, o_kind = self.node(val, ctx)
            self._emit((s, s_kind, p, o, o_kind, None, None))
            return
        if isinstance(val, bool) or isinstance(val, (int, float)):
            lex, dt = _py_number_literal(val)
            self._emit((s, s_kind, p, lex, "literal", dt, None))
            return
        if isinstance(val, str):
            self._emit((s, s_kind, p, val, "literal", XSD + "string", None))
            return
        raise ValueError(f"unsupported value type: {type(val).__name__}")


# ONE island -> (triples, None), or ([], detail) on malformed JSON or
# an out-of-scope construct: the Turtle parser's parse_document contract
expand_jsonld = never_raising(
    lambda payload, bnode_prefix="": _Expander(bnode_prefix).island(payload))


def find_islands(page: str) -> list[str]:
    """All <script type="application/ld+json"> bodies, document order."""
    return [m.group(1) for m in _ISLAND_RE.finditer(page or "")]


def jsonld_triples(text: str, bnode_prefix: str = "") -> list[tuple]:
    """Expand every JSON-LD island of one page -> its triples.

    ONE bnode counter runs across the page's islands: labels stay
    document-unique, islands share nothing else. Triples are
    deduplicated per page (P23). A page without islands raises
    ``no_markup``; an island that fails fails the page, its detail
    prefixed ``island {i}`` — the Turtle path's whole-doc contract."""
    islands = find_islands(text)
    if not islands:
        raise Quarantine("no_markup", "no JSON-LD islands")
    exp = _Expander(bnode_prefix)
    for i, payload in enumerate(islands):
        with within(f"island {i}"):
            triples = exp.island(payload)
    return triples


jsonld_document = never_raising(jsonld_triples)


def extract_jsonld(pages: DataFrame, fixture_mode: bool = False) -> DataFrame:
    """pages(url, text, ...) -> extraction rows (EXTRACT_SCHEMA),
    quarantine rows included — the JSON-LD twin of
    extract.extract_triples, same schema, same salting, same
    no-shuffle scale shape."""
    return doc_stage(pages, jsonld_triples, EXTRACT_SCHEMA,
                     salt=not fixture_mode)
