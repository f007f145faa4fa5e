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
  islands quarantine with a typed error instead of silently dropping.
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

Scale shape: identical to extract.extract_triples — ``jsonld_document``
runs in the shared ``extract.doc_stage`` (one ``mapInArrow`` stage,
zero shuffle, column pruning to (url, text), parallelism = input
splits); malformed JSON or out-of-scope constructs become quarantine
rows (parse_ok=false), never job failures.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from .extract import doc_stage
from .schema import EXTRACT_SCHEMA

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

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
        self._seen: set[tuple] = set()

    def _emit(self, t: tuple):
        if t not in self._seen:
            self._seen.add(t)
            self.triples.append(t)

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
                iri = _expand_iri(ctx, sid, vocab_fallback=False)
                if iri is None:
                    raise ValueError(f"@id does not expand to an IRI: {sid!r}")
                s, s_kind = iri, "iri"
        else:
            s, s_kind = self._fresh_bnode(), "bnode"

        for key, val in obj.items():
            if key == "@type":
                for tv in val if isinstance(val, list) else [val]:
                    if not isinstance(tv, str):
                        raise ValueError("@type values must be strings")
                    tiri = _expand_iri(ctx, tv, vocab_fallback=True)
                    if tiri is None:
                        raise ValueError(
                            f"@type does not expand to an IRI: {tv!r}")
                    self._emit((s, s_kind, RDF_TYPE, tiri, "iri",
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
                    if dt is not None:
                        dti = _expand_iri(ctx, dt, vocab_fallback=True)
                        if dti is None:
                            raise ValueError(
                                f"@type does not expand to an IRI: {dt!r}")
                        ndt = dti
                    self._emit((s, s_kind, p, lex, "literal", ndt, None))
                elif isinstance(lit, str):
                    if lang is not None:
                        self._emit((s, s_kind, p, lit, "literal",
                                    None, lang))
                    elif dt is not None:
                        dti = _expand_iri(ctx, dt, vocab_fallback=True)
                        if dti is None:
                            raise ValueError(
                                f"@type does not expand to an IRI: {dt!r}")
                        self._emit((s, s_kind, p, lit, "literal",
                                    dti, None))
                    else:
                        self._emit((s, s_kind, p, lit, "literal",
                                    XSD + "string", None))
                else:
                    raise ValueError("unsupported @value payload")
                return
            if set(val.keys()) == {"@id"} and isinstance(val["@id"], str):
                # IRI / bnode reference object
                ref = val["@id"]
                if ref.startswith("_:"):
                    self._emit((s, s_kind, p, self._label_bnode(ref),
                                "bnode", None, None))
                else:
                    iri = _expand_iri(ctx, ref, vocab_fallback=False)
                    if iri is None:
                        raise ValueError(
                            f"@id does not expand to an IRI: {ref!r}")
                    self._emit((s, s_kind, p, iri, "iri", None, None))
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


def expand_jsonld(
    payload: str, bnode_prefix: str = ""
) -> tuple[list[tuple], str | None]:
    """Expand ONE JSON-LD island to flat triple tuples.

    Returns (triples, error): error is None on success; on any
    out-of-scope construct or malformed JSON the island yields
    ([], message) — the quarantine contract of the Turtle parser
    (parse_document), so extraction jobs never fail on bad markup.
    """
    triples, err, _ = _expand_island(payload, bnode_prefix, 0)
    return triples, err


def _expand_island(
    payload: str, bnode_prefix: str, counter_start: int,
) -> tuple[list[tuple], str | None, int]:
    """expand_jsonld plus an explicit blank-node counter thread, so a
    page with several islands allocates one document-scoped label
    sequence (the Turtle path's per-doc counter, extract.py)."""
    try:
        doc = json.loads(payload)
    except ValueError as ex:
        return [], f"invalid JSON: {ex}", counter_start
    try:
        exp = _Expander(bnode_prefix)
        exp.counter = counter_start
        ctx = _Ctx()
        if isinstance(doc, dict):
            if "@context" in doc:
                ctx = _apply_context(ctx, doc["@context"])
            graph = doc.get("@graph")
            if graph is not None:
                if not isinstance(graph, list):
                    raise ValueError("@graph must be an array")
                rest = {k: v for k, v in doc.items()
                        if k not in ("@graph", "@context")}
                if rest:
                    # a node that also carries @graph is out of scope
                    if set(rest) - {"@id"}:
                        raise ValueError(
                            "node properties alongside @graph are out "
                            "of scope")
                for n in graph:
                    if not isinstance(n, dict):
                        raise ValueError("@graph entries must be node objects")
                    exp.node(n, ctx)
            else:
                exp.node(doc, _Ctx())  # node() re-applies its @context
        elif isinstance(doc, list):
            for n in doc:
                if not isinstance(n, dict):
                    raise ValueError("top-level array entries must be "
                                     "node objects")
                exp.node(n, ctx)
        else:
            raise ValueError("top-level JSON-LD must be an object or array")
        return exp.triples, None, exp.counter
    except ValueError as ex:
        return [], str(ex), counter_start
    except RecursionError:
        return [], "nesting too deep", counter_start


def find_islands(page: str) -> list[str]:
    """All <script type="application/ld+json"> bodies, document order."""
    return [m.group(1) for m in _ISLAND_RE.finditer(page or "")]


def jsonld_document(
    text: str, bnode_prefix: str = ""
) -> tuple[list[tuple], str | None]:
    """Expand every JSON-LD island of one page -> (triples, error).

    ONE bnode counter is threaded across the page's islands: labels
    stay document-unique, islands share nothing else. Triples are
    deduplicated per page (P23). A page without islands, or with any
    island that fails, yields ([], error) — the whole page quarantines,
    the Turtle path's whole-doc contract."""
    islands = find_islands(text)
    if not islands:
        return [], "no JSON-LD islands"
    triples: list[tuple] = []
    seen: set[tuple] = set()
    counter = 0
    for i, payload in enumerate(islands):
        ts, err, counter = _expand_island(payload, bnode_prefix, counter)
        if err is not None:
            return [], f"island {i}: {err}"
        for t in ts:
            if t not in seen:
                seen.add(t)
                triples.append(t)
    return triples, None


def extract_jsonld(pages: DataFrame, fixture_mode: bool = False) -> DataFrame:
    """pages(url, text, ...) -> extraction rows (EXTRACT_SCHEMA),
    quarantine rows included — the JSON-LD twin of
    extract.extract_triples, same schema, same salting, same
    no-shuffle scale shape."""
    return doc_stage(pages, jsonld_document, EXTRACT_SCHEMA,
                     salt=not fixture_mode)
