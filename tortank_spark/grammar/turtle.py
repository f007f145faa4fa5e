"""A from-scratch Turtle / N-Triples document parser.

This is a brand-new Python implementation whose *observable* semantics
match the reference engine nbittich/tortank (a Rust nom recursive-descent
parser). It is NOT a translation: the reference builds a borrowed AST of
``TurtleValue`` enums and folds it into ``Statement`` vectors
(/root/reference/src/turtle/turtle_parser.rs,
/root/reference/src/turtle/turtle_doc.rs); here a single-pass
cursor-based scanner resolves terms in document order and emits flat
canonical triple tuples suitable for a Spark DataFrame.

Observable contracts replicated (file:line cites into /root/reference):

* grammar alternatives and their *order* — subject = blank node | iri |
  collection, object = iri | blank node | collection | literal
  (turtle_parser.rs:91-104); string literal alternative order incl. the
  raw fallbacks (triple_common_parser.rs:174-259).
* document-scoped, order-dependent @prefix/@base state; relative IRI
  resolution by plain concatenation when the IRI has no scheme
  (turtle_doc.rs:558-582); relative prefix values resolve against base
  (turtle_doc.rs:507-518).
* escape decoding incl. the nonstandard ``\\u{1-6 hex}`` brace form,
  unknown escapes kept verbatim as two chars, and backslash+whitespace
  dropped (string_parser.rs:21-168). Long-quoted strings are raw.
* unlabeled blank-node ids from a per-document monotone counter in
  DFS/emission order — subject before objects, collection cells in
  cons-expansion order (turtle_doc.rs:33-51,722-848; goldens
  examples/turtle_doc/output/0009.ttl, 0001.ttl). A configurable
  ``bnode_prefix`` salts labels for global uniqueness at scale without
  coordination (partition-salted counters, SURVEY.md §4).
* collection expansion to rdf:first/rdf:rest cons chains, ``()`` ->
  rdf:nil (turtle_parser.rs:64-73, turtle_doc.rs:801-830).
* per-document statement dedup (turtle_doc.rs:777-790,533).
* whole-doc failure on trailing unparsed input (turtle_doc.rs:888-905)
  and on unparseable bool/int/float typed literals
  (turtle_doc.rs:600-628); unknown prefix is a doc error
  (turtle_doc.rs:572-582).

Emitted triple tuple: ``(s, s_kind, p, o, o_kind, o_datatype, o_lang)``
with kinds 'iri' | 'bnode' | 'literal'; blank nodes are rendered
``_:<label>``. This mirrors the reference's own flat interchange struct
RdfJsonNode/RdfJsonTriple (turtle_doc.rs:136-159).
"""

from __future__ import annotations

import re
from typing import Optional

from .lexical import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATE_TIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    CoercionError,
    I64_MAX,
    I64_MIN,
    canonical_date,
    canonical_datetime,
    fast_canonical_datetime_z,
    has_scheme,
    parse_bool_strict,
    parse_f32_strict,
    parse_f64_strict,
    parse_i64_strict,
    parse_instant,
    rust_f32_str,
    rust_f64_str,
)

# nom's multispace is exactly space/tab/CR/LF (not unicode whitespace).
_WS1_RE = re.compile(r"[ \t\r\n]+")
# prefix = unicode alphanumerics (Rust char::is_alphanumeric excludes
# '_'); local name = alphanumerics + PN_LOCAL_ESC ('\w' covers '_',
# which is in the escape set anyway). The PN_LOCAL_ESC set comes from
# the reference grammar (src/lib.rs:34); it contains '\\' and ':' so
# escape sequences are kept verbatim inside local names (the escaped()
# branch in triple_common_parser.rs:53 is shadowed by the take_while
# branch).
_PFX_RE = re.compile(r"[^\W_]*", re.UNICODE)
_BNODE_LABEL_RE = re.compile(r"[\w.\-\u00b7\u0300-\u036f\u203f-\u2040]*", re.UNICODE)
_LOCAL_RE = re.compile(r"[\w~\-!$&\\:()*+=/?#%]*", re.UNICODE)
_NUM_RE = re.compile(r"[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?")
_INT_TOKEN_RE = re.compile(r"[+-]?\d+\Z")
_LANG_RE = re.compile(r"[A-Za-z-]+")
_SHORT_STR_CHUNK = re.compile(r'[^"\\]+')
_HEX_RE = re.compile(r"[0-9a-fA-F]{1,6}")
_ESCAPE_MAP = {
    "n": "\n",
    "r": "\r",
    "t": "\t",
    "b": "\x08",
    "f": "\x0c",
    "\\": "\\",
    "/": "/",
    '"': '"',
}

IRI_K = "iri"
BNODE_K = "bnode"
LIT_K = "literal"

# Shared immutable Nodes for the grammar's constant IRIs ('a',
# collection cells), built after the Node class below. Safe to share:
# Node is immutable after construction except _had_preds, which is only
# ever set on freshly-allocated anon bnodes (_anon_bnode), never on
# these. Allocating a fresh Node per rdf:type/first/rest/nil emission
# was a measurable slice of parse time.
_NODE_RDF_TYPE = None  # type: ignore[assignment]
_NODE_RDF_NIL = None  # type: ignore[assignment]
_NODE_RDF_FIRST = None  # type: ignore[assignment]
_NODE_RDF_REST = None  # type: ignore[assignment]


from functools import lru_cache


@lru_cache(maxsize=65536)
def _numeric_node(tok: str):
    """Bare numeric token -> canonical literal Node, cached: the f32
    shortest-repr (numpy Dragon4) costs ~20us and numeric lexicals
    repeat heavily in real corpora. i64 -> f32 ladder per
    triple_common_parser.rs:154-164."""
    if _INT_TOKEN_RE.match(tok) and I64_MIN <= int(tok) <= I64_MAX:
        return Node(LIT_K, str(int(tok)), XSD_INTEGER)
    return Node(LIT_K, rust_f32_str(float(tok)), XSD_DECIMAL)


def _is_bnode_extra(c: str) -> bool:
    # chars allowed inside a blank-node label but not first/last
    # (triple_common_parser.rs:374-405): '.', '-', middle dot, combining
    # marks U+0300-036F, undertie range U+203F-2040
    return (
        c in ".-·"
        or "̀" <= c <= "ͯ"
        or "‿" <= c <= "⁀"
    )


class DocError(Exception):
    """Document-level parse/build failure (the whole doc is rejected,
    matching the reference's TryFrom error path turtle_doc.rs:888-905)."""


class _Backtrack(Exception):
    """Internal: alternative failed; cursor is restored by the caller."""


_BT = _Backtrack()  # singleton; no per-raise allocation


class Node:
    """Resolved term.

    ``value`` holds the canonical lexical form for literals
    (numbers/booleans re-rendered, temporal instants normalized — see
    grammar/lexical.py), the full IRI for IRIs, the bare label for
    blank nodes.
    """

    __slots__ = ("kind", "value", "datatype", "lang", "_had_preds")

    def __init__(self, kind, value, datatype=None, lang=None):
        self.kind = kind
        self.value = value
        self.datatype = datatype
        self.lang = lang


_NODE_RDF_TYPE = Node(IRI_K, RDF_TYPE)
_NODE_RDF_NIL = Node(IRI_K, RDF_NIL)
_NODE_RDF_FIRST = Node(IRI_K, RDF_FIRST)
_NODE_RDF_REST = Node(IRI_K, RDF_REST)


class TurtleParser:
    """One-shot parser for a single document string.

    ``bnode_prefix`` salts unlabeled blank-node labels: label =
    f"{bnode_prefix}{counter}". The fixture harness uses the empty
    prefix so labels are "1", "2", ... in allocation order, reproducing
    the reference's deterministic test counter (turtle_doc.rs:33-51);
    the Spark pipeline passes a per-document salt (url hash) for global
    uniqueness with zero coordination.
    """

    def __init__(self, text: str, bnode_prefix: str = "",
                 local_utc_offset_seconds: int = 0,
                 seed_prefixes: Optional[dict] = None,
                 well_known_prefix: Optional[str] = None,
                 preserve_datetime_offset: bool = False):
        self.s = text
        self.n = len(text)
        self.i = 0
        self.base: Optional[str] = None
        # R10 add_prefixes (turtle_doc.rs:264-283): an external prefix
        # map seeds the doc context; the doc's own @prefix directives
        # override in order. Seed values are expected absolute (the
        # reference resolves relative values against the doc base; a
        # pre-parse seed has no base yet, so relative seeds are kept
        # verbatim — the external-dictionary case is always absolute).
        self.prefixes: dict[str, str] = dict(seed_prefixes) if seed_prefixes else {}
        # skolemization (turtle_doc.rs:733-747): when set, blank nodes
        # become IRIs <wkp + label-or-counter>; default constant
        # DEFAULT_WELL_KNOWN_PREFIX mirrors shared.rs:14
        self.wkp = well_known_prefix
        self.bnode_prefix = bnode_prefix
        self.bnode_counter = 0
        self.local_off = local_utc_offset_seconds
        # chrono's to_rfc3339 keeps the value's own offset
        # (turtle_doc.rs:1225-1231); default canonicalizes to UTC Z
        self.preserve_dt_offset = preserve_datetime_offset
        self.triples: list[tuple] = []

    # ---------- low-level scanning ----------

    def _ws(self):
        # hand-rolled scan: ws runs are 0-2 chars in practice, where a
        # char-class loop beats re.match by ~3x (hottest function in the
        # profile)
        s, i, n = self.s, self.i, self.n
        while i < n and s[i] in " \t\r\n":
            i += 1
        self.i = i

    def _ws1(self):
        m = _WS1_RE.match(self.s, self.i)
        if not m:
            raise _BT
        self.i = m.end()

    def _char(self, c: str):
        if self.i < self.n and self.s[self.i] == c:
            self.i += 1
        else:
            raise _BT

    def _tag_no_case(self, t: str):
        if self.s[self.i : self.i + len(t)].lower() == t.lower():
            self.i += len(t)
        else:
            raise _BT

    def _comments(self):
        """many0 of: ws, '#', take_until('\\n'), line ending
        (triple_common_parser.rs:407-414). A '#' with no following
        newline is not a comment (backtracked). The cursor only moves
        past complete comments — skipped whitespace is restored, like
        the method-call version this inlines (ws scan is hot)."""
        s, n = self.s, self.n
        while True:
            save = i = self.i
            while i < n and s[i] in " \t\r\n":
                i += 1
            if i < n and s[i] == "#":
                nl = s.find("\n", i + 1, n)
                if nl == -1:
                    self.i = save
                    return
                self.i = nl + 1
            else:
                self.i = save
                return

    def _rollback(self, mark: int, counter_mark: int):
        if len(self.triples) > mark:
            del self.triples[mark:]
        self.bnode_counter = counter_mark

    # ---------- terms ----------

    def _enclosed_iri(self) -> str:
        # fully inlined ws-skip + '<' check: called once per IRI term
        # (the single most-called scanner), so the two method calls it
        # used to make were ~8% of parse time
        s, i, n = self.s, self.i, self.n
        while i < n and s[i] in " \t\r\n":
            i += 1
        if i >= n or s[i] != "<":
            self.i = i
            raise _BT
        end = s.find(">", i + 1, n)
        if end == -1:
            self.i = i
            raise _BT
        self.i = end + 1
        return s[i + 1 : end]

    def _prefixed_parts(self):
        """prefix = run of unicode alphanumerics (may be empty); ':';
        local = run of alphanumerics + PN_LOCAL_ESC chars, kept verbatim
        (triple_common_parser.rs:46-59)."""
        self._ws()
        s = self.s
        j = min(_PFX_RE.match(s, self.i).end(), self.n)
        if j >= self.n or s[j] != ":":
            raise _BT
        prefix = s[self.i : j]
        k = min(_LOCAL_RE.match(s, j + 1).end(), self.n)
        local = s[j + 1 : k]
        self.i = k
        return prefix, local

    def _resolve_enclosed(self, iri: str) -> Node:
        # plain concat when no scheme and a base is set
        # (turtle_doc.rs:558-571)
        if self.base is not None and not has_scheme(iri):
            return Node(IRI_K, self.base + iri)
        return Node(IRI_K, iri)

    def _iri_resolved(self) -> Node:
        # dispatch on '<': a prefixed name can never start with '<'
        # (empty prefix run would need ':' next), so this is equivalent
        # to the reference's prefixed-then-enclosed alternation
        # (triple_common_parser.rs:60-62) without the exception cost
        s, i, n = self.s, self.i, self.n
        while i < n and s[i] in " \t\r\n":  # inlined _ws (hot)
            i += 1
        self.i = i
        if self.i < self.n and self.s[self.i] == "<":
            return self._resolve_enclosed(self._enclosed_iri())
        save = self.i
        try:
            prefix, local = self._prefixed_parts()
        except _Backtrack:
            self.i = save
            return self._resolve_enclosed(self._enclosed_iri())
        ns = self.prefixes.get(prefix)
        if ns is None:
            # parse succeeded; resolution is a build-time doc error
            # (turtle_doc.rs:572-582)
            raise DocError(f"prefix {prefix} unknown")
        return Node(IRI_K, ns + local)

    def _labeled_bnode(self) -> str:
        """_:label with PN_CHARS-ish rules; one trailing '.' stripped;
        first/last char restrictions (triple_common_parser.rs:374-405)."""
        self._ws()
        if not self.s.startswith("_:", self.i):
            raise _BT
        self.i += 2
        s = self.s
        j = min(_BNODE_LABEL_RE.match(s, self.i).end(), self.n)
        label = s[self.i : j]
        if label.endswith("."):
            j -= 1
            label = label[:-1]
        if not label or _is_bnode_extra(label[0]) or _is_bnode_extra(label[-1]):
            raise _BT
        self.i = j
        return label

    # ---------- string literals ----------

    def _escaped_string(self) -> str:
        """nom-example fragment fold (string_parser.rs:116-168): literal
        chunks stop at '"' or '\\'; escapes n r t b f \\ / " and
        \\u{1-6 hex}; backslash+whitespace dropped; any other escaped
        char kept verbatim as backslash+char. Never fails (fold_many0) —
        the caller verifies the closing delimiter."""
        s = self.s
        out = []
        while self.i < self.n:
            m = _SHORT_STR_CHUNK.match(s, self.i)
            if m:
                end = min(m.end(), self.n)
                if end <= self.i:
                    break
                out.append(s[self.i : end])
                self.i = end
                continue
            if s[self.i] == '"':
                break
            # backslash escape
            if self.i + 1 >= self.n:
                break  # lone backslash at EOF: fragment fails, fold stops
            c = s[self.i + 1]
            if c == "u" and self.i + 2 < self.n and s[self.i + 2] == "{":
                mh = _HEX_RE.match(s, self.i + 3)
                if mh and mh.end() < self.n and s[mh.end()] == "}":
                    cp = int(mh.group(0), 16)
                    if cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                        out.append(chr(cp))
                        self.i = mh.end() + 1
                        continue
            if c in _ESCAPE_MAP:
                out.append(_ESCAPE_MAP[c])
                self.i += 2
                continue
            mws = _WS1_RE.match(s, self.i + 1)
            if mws:
                self.i = mws.end()  # \<ws>+ dropped entirely
                continue
            out.append("\\")
            out.append(c)
            self.i += 2
        return "".join(out)

    def _string_literal(self) -> Node:
        """Alternative order per triple_common_parser.rs:192-228:
        long-double, long-single (raw, no unescaping); short-single,
        short-double (escape-decoded); raw-double, raw-single
        (tag_no_space fallbacks). Then ^^datatype | @lang | implicit
        xsd:string (triple_common_parser.rs:231-258)."""
        self._ws()
        s, i, n = self.s, self.i, self.n
        value = None
        # dispatch on the quote char itself: the two families are
        # disjoint on s[i], and long-vs-short needs only two more char
        # compares (the alternative order of
        # triple_common_parser.rs:192-228 is preserved because a
        # long-quoted value can never parse as short — the short parse
        # would see an empty string then fail to terminate)
        if i < n and (s[i] == '"' or s[i] == "'"):
            q = s[i]
            if i + 2 < n and s[i + 1] == q and s[i + 2] == q:
                q3 = q * 3
                end = s.find(q3, i + 3, n)
                if end != -1:
                    value = s[i + 3 : end]
                    self.i = end + 3
            if value is None and q == '"':
                # fast path (hot: most web literals carry no escapes):
                # when no backslash occurs before the closing '"', the
                # value is a zero-copy slice — byte-identical to what
                # _escaped_string's chunk fold would assemble, since
                # its chunks stop only at '"' or '\\'. Double-quote
                # family only: the escape fold always terminates at
                # '"' (reference string_parser.rs:116-168), so the
                # single-quote attempt has different stop semantics.
                end = s.find('"', i + 1, n)
                if end != -1 and s.find("\\", i + 1, end) == -1:
                    value = s[i + 1 : end]
                    self.i = end + 1
            if value is None:
                save = self.i
                self.i = i + 1
                v = self._escaped_string()
                if self.i < n and s[self.i] == q:
                    self.i += 1
                    value = v
                else:
                    self.i = save
        if value is None:
            # raw fallbacks with tag_no_space: whitespace around the
            # delimiters is eaten, including leading whitespace *inside*
            # the string — quirky but faithful
            # (triple_common_parser.rs:211-226).
            for q in ('"', "'"):
                save = self.i
                self._ws()
                if s.startswith(q, self.i):
                    self.i += 1
                    self._ws()
                    end = s.find(q, self.i, self.n)
                    if end != -1:
                        value = s[self.i : end]
                        self.i = end + 1
                        self._ws()
                        break
                self.i = save
        if value is None:
            raise _BT
        if s.startswith("^^", self.i):
            save = self.i
            self.i += 2
            try:
                dt = self._iri_resolved()
                return self._typed_literal(value, dt.value)
            except _Backtrack:
                self.i = save
        if self.i < self.n and s[self.i] == "@":
            m = _LANG_RE.match(s, self.i + 1)
            if m:
                self.i = m.end()
                return Node(LIT_K, value, None, m.group(0))
        return Node(LIT_K, value, XSD_STRING, None)

    def _typed_literal(self, value: str, dt: str) -> Node:
        """Typed coercion at build time (turtle_doc.rs:600-710).
        bool/int/decimal/double raise CoercionError (hard doc error);
        date/dateTime fall back to the verbatim quoted literal; time and
        opaque datatypes stay verbatim (see grammar/lexical.py). The
        branches are mutually exclusive equality tests, so dateTime —
        the dominant typed literal on web corpora — is checked first."""
        if dt == XSD_DATE_TIME:
            if not self.preserve_dt_offset:
                # hot path: 'YYYY-MM-DDTHH:MM:SS(.f)Z' renders its own
                # canonical form without a datetime round trip; None
                # falls through to the full chrono-ladder replay
                fast = fast_canonical_datetime_z(value)
                if fast is not None:
                    return Node(LIT_K, fast, dt)
            inst = parse_instant(value, self.local_off)
            if inst is not None:
                return Node(
                    LIT_K,
                    canonical_datetime(inst, self.preserve_dt_offset),
                    dt,
                )
            return Node(LIT_K, value, dt)
        if dt == XSD_BOOLEAN:
            return Node(LIT_K, "true" if parse_bool_strict(value) else "false", dt)
        if dt == XSD_INTEGER:
            return Node(LIT_K, str(parse_i64_strict(value)), dt)
        if dt == XSD_DECIMAL:
            return Node(LIT_K, rust_f32_str(parse_f32_strict(value)), dt)
        if dt == XSD_DOUBLE:
            return Node(LIT_K, rust_f64_str(parse_f64_strict(value)), dt)
        if dt == XSD_DATE:
            inst = parse_instant(value, self.local_off)
            if inst is not None:
                return Node(LIT_K, canonical_date(inst), dt)
        return Node(LIT_K, value, dt)

    # ---------- numeric / boolean ----------

    def _primitive_literal(self) -> Node:
        self._ws()
        s = self.s
        # boolean, case-sensitive in Turtle
        # (triple_common_parser.rs:132-152,170-172); no word boundary
        # check, like the reference's tag()
        if s.startswith("true", self.i):
            self.i += 4
            self._ws()
            return Node(LIT_K, "true", XSD_BOOLEAN)
        if s.startswith("false", self.i):
            self.i += 5
            self._ws()
            return Node(LIT_K, "false", XSD_BOOLEAN)
        m = _NUM_RE.match(s, self.i)
        if not m or m.end() > self.n:
            raise _BT
        tok = m.group(0)
        self.i = m.end()
        return _numeric_node(tok)

    # ---------- blank nodes / collections ----------

    def _new_bnode(self) -> Node:
        self.bnode_counter += 1
        if self.wkp is not None:
            # unlabeled bnode skolemized to an IRI (turtle_doc.rs:740-743).
            # The reference interpolates a uuid whose FORMAT cannot be a
            # blank-node label; our counter could collide with a labeled
            # bnode '_:1' in the same doc, so the anon form embeds '~'
            # — a character PN_CHARS forbids in labels
            # (triple_common_parser.rs:374-405) — making the two skolem
            # namespaces provably disjoint. Salt keeps cross-doc
            # uniqueness.
            return Node(
                IRI_K, f"{self.wkp}{self.bnode_prefix}~{self.bnode_counter}"
            )
        return Node(BNODE_K, f"{self.bnode_prefix}{self.bnode_counter}")

    def _labeled_node(self, label: str) -> Node:
        """Labeled blank nodes are *document-scoped* identities. In
        fixture mode (empty prefix) labels are kept verbatim like the
        reference (turtle_doc.rs:733-737); in salted mode they get the
        per-doc salt + 'L' marker so neither cross-document label reuse
        nor the unlabeled counter can collide at 10^12-doc scale (the
        reference skolemizes against one global well-known prefix,
        turtle_doc.rs:734-736 — correct for single docs, ambiguous
        across a corpus)."""
        if self.wkp is not None:
            # labeled bnode skolemized verbatim (turtle_doc.rs:734-736);
            # like the reference, labels are doc-scoped so the caller
            # owns cross-document disambiguation in this mode
            return Node(IRI_K, self.wkp + label)
        if self.bnode_prefix:
            return Node(BNODE_K, f"{self.bnode_prefix}L{label}")
        return Node(BNODE_K, label)

    def _anon_bnode(self) -> Node:
        """'[' (predicate-object list | empty) ']'
        (turtle_parser.rs:75-78). The closing ']' is under nom ``cut``:
        failure is a hard doc error (triple_common_parser.rs:369).
        Allocates the bnode id before materializing its objects
        (turtle_doc.rs:740-759)."""
        self._ws()
        self._char("[")
        mark = len(self.triples)
        cmark = self.bnode_counter
        save = self.i
        try:
            subj = self._new_bnode()
            povs = self._predicate_object_list()
            node = self._emit_statement(subj, povs)
            had_preds = True
        except _Backtrack:
            self._rollback(mark, cmark)
            self.i = save
            node = self._new_bnode()
            had_preds = False
        self._ws()
        if self.i < self.n and self.s[self.i] == "]":
            self.i += 1
        else:
            raise DocError("expected ']' closing anonymous blank node")
        node._had_preds = had_preds  # type: ignore[attr-defined]
        return node

    def _collection(self) -> Node:
        """'(' objects ')' -> rdf:first/rdf:rest cons chain; '()' ->
        rdf:nil. Cell bnodes allocate before their item materializes;
        rest-triples are emitted on recursion unwind, matching the
        reference's recursive expansion (turtle_doc.rs:801-830; ordering
        proven by examples/turtle_doc/output/0001.ttl). The closing ')'
        is under nom ``cut`` (triple_common_parser.rs:353)."""
        self._ws()
        self._char("(")
        thunks = []
        first = True
        while True:
            save = self.i
            if not first:
                try:
                    self._ws1()
                except _Backtrack:
                    break
            try:
                thunks.append(self._object_deferred())
                first = False
            except _Backtrack:
                self.i = save
                break
        self._ws()
        if self.i < self.n and self.s[self.i] == ")":
            self.i += 1
        else:
            raise DocError("expected ')' closing collection")
        if not thunks:
            return _NODE_RDF_NIL
        cells = []
        for d in thunks:
            cell = self._new_bnode()
            item = self._materialize(d)
            self._emit(cell, _NODE_RDF_FIRST, item)
            cells.append(cell)
        for idx in range(len(cells) - 1, -1, -1):
            rest = cells[idx + 1] if idx + 1 < len(cells) else _NODE_RDF_NIL
            self._emit(cells[idx], _NODE_RDF_REST, rest)
        return cells[0]

    # ---------- deferred object parsing ----------
    #
    # Object terms are parsed immediately but *materialized* lazily:
    # blank-node allocation and nested-triple emission must happen in the
    # reference's fold order (subject first, then each predicate-object
    # pair in sequence — turtle_doc.rs:748-799), which for collections
    # means after the enclosing cons cell's id is allocated. Terms with
    # no side effects capture their resolved Node; anon bnodes and
    # collections record their source span and replay it at
    # materialization time (prefix/base state cannot change within a
    # statement, so replay is faithful).

    def _object_deferred(self):
        """Parse one object; defer side-effecting materialization.

        Semantics = the reference alternation iri | blank node |
        collection | literal (turtle_parser.rs:98-104), implemented as
        a first-character dispatch: the alternative classes are
        disjoint on their first character except for alphanumerics
        (prefixed name vs boolean/number), where the reference's
        iri-first order is preserved. Returns a deferred marker tuple
        consumed by _emit_statement/_collection."""
        s, i, n = self.s, self.i, self.n
        while i < n and s[i] in " \t\r\n":  # inlined _ws (hot)
            i += 1
        self.i = i
        if i >= n:
            raise _BT
        c = s[i]
        if c == "<":
            return ("n", self._resolve_enclosed(self._enclosed_iri()))
        if c == '"' or c == "'":
            return ("n", self._string_literal())
        if c == "[":
            start, end = self._scan_bracket_span("[", "]")
            return ("a", start, end)
        if c == "(":
            start, end = self._scan_bracket_span("(", ")")
            return ("c", start, end)
        if c == "_":
            save = self.i
            try:
                return ("b", self._labeled_bnode())
            except _Backtrack:
                self.i = save
                raise
        # alphanumeric (or +/-/. numeric): reference order — prefixed
        # name first, then literal. A prefixed name is an alnum run
        # followed by ':', so one lookahead decides the branch without
        # paying a raised-exception round trip per numeric/boolean
        # object (measurably hot: ~1/3 of objects in a realistic page)
        m = _PFX_RE.match(s, i)
        j = min(m.end(), n)  # n can be a restricted window (parse_term)
        if j < n and s[j] == ":":
            return ("n", self._iri_resolved_prefixed_only())
        return ("n", self._primitive_literal())

    def _iri_resolved_prefixed_only(self):
        prefix, local = self._prefixed_parts()
        ns = self.prefixes.get(prefix)
        if ns is None:
            raise DocError(f"prefix {prefix} unknown")
        return Node(IRI_K, ns + local)

    def _iri_resolved_prefixed_only_bt(self):
        save = self.i
        try:
            return self._iri_resolved_prefixed_only()
        except _Backtrack:
            self.i = save
            raise

    def _scan_bracket_span(self, open_c: str, close_c: str):
        """Find the matching close bracket, skipping strings, enclosed
        IRIs and comments (comments are only valid right after ';',
        matching the grammar's comment positions). Raises DocError when
        unbalanced (the closer sits under nom ``cut``)."""
        s = self.s
        start = self.i
        depth = 0
        j = start
        last_sig = ""
        while j < self.n:
            c = s[j]
            if c == open_c:
                depth += 1
                j += 1
            elif c == close_c:
                depth -= 1
                j += 1
                if depth == 0:
                    self.i = j
                    return start, j
            elif c == "<":
                gt = s.find(">", j + 1, self.n)
                j = self.n if gt == -1 else gt + 1
            elif c in "\"'":
                j = self._skip_string_span(j)
            elif c == "#" and last_sig == ";":
                nl = s.find("\n", j, self.n)
                j = self.n if nl == -1 else nl + 1
                continue
            else:
                j += 1
            if not c.isspace():
                last_sig = c
        raise DocError(f"expected '{close_c}' closing bracketed term")

    def _skip_string_span(self, j: int) -> int:
        s = self.s
        for q in ('"""', "'''"):
            if s.startswith(q, j):
                end = s.find(q, j + 3, self.n)
                return self.n if end == -1 else end + 3
        q = s[j]
        k = j + 1
        while k < self.n:
            if s[k] == "\\":
                k += 2
            elif s[k] == q:
                return k + 1
            else:
                k += 1
        return self.n

    # ---------- predicate-object structure ----------

    def _predicate(self) -> Node:
        """bare 'a' (followed by whitespace) -> rdf:type, else iri
        (turtle_parser.rs:94-96; triple_common_parser.rs:304-310).
        Whitespace skipping is inlined here and in the two list loops
        below: these are the hottest scan sites (~1/3 of all _ws time),
        and a local char-class loop avoids ~150k method calls per 600
        realistic pages."""
        s, i, n = self.s, self.i, self.n
        while i < n and s[i] in " \t\r\n":
            i += 1
        self.i = i
        if i < n and s[i] == "a":
            m = _WS1_RE.match(s, i + 1)
            if m:
                self.i = m.end()
                return _NODE_RDF_TYPE
        # keep the cursor past the whitespace already scanned above:
        # _iri_resolved's own ws skip is idempotent, so re-scanning from
        # ``save`` would just repeat the scan (hot call site)
        self.i = i
        return self._iri_resolved()

    def _object_list(self):
        """','-separated objects (deferred thunks)
        (triple_common_parser.rs:282-303)."""
        items = [self._object_deferred()]
        s, n = self.s, self.n
        while True:
            save = i = self.i
            while i < n and s[i] in " \t\r\n":
                i += 1
            if i < n and s[i] == ",":
                self.i = i + 1
                try:
                    items.append(self._object_deferred())
                    continue
                except _Backtrack:
                    pass
            self.i = save
            break
        return items

    def _predicate_object_list(self):
        """';'-separated (predicate, object-list) pairs; comments are
        allowed after ';' (triple_common_parser.rs:311-341)."""
        povs = [(self._predicate(), self._object_list())]
        s, n = self.s, self.n
        while True:
            save = i = self.i
            while i < n and s[i] in " \t\r\n":
                i += 1
            if i < n and s[i] == ";":
                self.i = i + 1
                self._comments()
                try:
                    povs.append((self._predicate(), self._object_list()))
                    continue
                except _Backtrack:
                    pass
            self.i = save
            break
        return povs

    # ---------- emission ----------

    def _emit(self, s: Node, p: Node, o: Node):
        # duplicates are appended here and removed once at end of parse
        # (dict.fromkeys keeps the first occurrence, which is exactly
        # what the old per-emit seen-set kept): per-doc statement dedup
        # (turtle_doc.rs:777-790,533) is an output property, and paying
        # a tuple hash + set probe per emission was ~5% of parse time
        self.triples.append((
            ("_:" + s.value) if s.kind == BNODE_K else s.value,
            s.kind,
            p.value,
            ("_:" + o.value) if o.kind == BNODE_K else o.value,
            o.kind,
            o.datatype,
            o.lang,
        ))

    def _materialize(self, d) -> Node:
        tag = d[0]
        if tag == "n":
            return d[1]
        if tag == "b":
            return self._labeled_node(d[1])
        if tag == "a":
            return _replay(self, d[1], d[2], "anon")
        return _replay(self, d[1], d[2], "coll")

    def _emit_statement(self, subj: Node, povs) -> Node:
        emit = self._emit
        mat = self._materialize
        for pred, deferred in povs:
            for d in deferred:
                emit(subj, pred, mat(d))
        return subj

    # ---------- statements ----------

    def _subject(self) -> Node:
        """blank node | iri | collection (turtle_parser.rs:91-93). Anon
        blank-node subjects materialize immediately (id allocated before
        the outer objects — turtle_doc.rs:752-759)."""
        self._ws()
        if self.i >= self.n:
            raise _BT
        c = self.s[self.i]
        if c == "_":
            return self._labeled_node(self._labeled_bnode())
        if c == "[":
            return self._anon_bnode()
        if c == "<":
            return self._resolve_enclosed(self._enclosed_iri())
        if c == "(":
            return self._collection()
        # alphanumeric: prefixed name (subjects cannot be literals)
        return self._iri_resolved_prefixed_only_bt()

    def _directive(self) -> bool:
        """@base/BASE/@prefix/PREFIX, case-insensitive tags; turtle forms
        require a trailing '.' (turtle_parser.rs:152-156;
        triple_common_parser.rs:82-118). Mutates doc context in order —
        later directives redefine earlier ones for subsequent statements
        (proven by examples/turtle_doc/input/0028.ttl)."""
        save = self.i
        try:
            self._ws()
            self._tag_no_case("BASE")
            self.base = self._enclosed_iri()
            return True
        except _Backtrack:
            self.i = save
        try:
            self._ws()
            self._tag_no_case("@base")
            iri = self._enclosed_iri()
            self._ws()
            self._char(".")
            self.base = iri
            return True
        except _Backtrack:
            self.i = save
        try:
            self._ws()
            self._tag_no_case("@prefix")
            self._ws()
            name = self._take_until_colon()
            iri = self._enclosed_iri()
            self._ws()
            self._char(".")
            self._set_prefix(name, iri)
            return True
        except _Backtrack:
            self.i = save
        try:
            self._ws()
            self._tag_no_case("PREFIX")
            self._ws()
            name = self._take_until_colon()
            iri = self._enclosed_iri()
            self._set_prefix(name, iri)
            return True
        except _Backtrack:
            self.i = save
        return False

    def _take_until_colon(self) -> str:
        colon = self.s.find(":", self.i, self.n)
        if colon == -1:
            raise _BT
        name = self.s[self.i : colon]
        self.i = colon + 1
        return name

    def _set_prefix(self, name: str, iri: str):
        if not has_scheme(iri):
            iri = (self.base or "") + iri
        self.prefixes[name] = iri

    def _triples_stmt(self):
        """One triples statement incl. the '.' / EOF terminator
        (turtle_parser.rs:106-112)."""
        save = self.i
        mark = len(self.triples)
        cmark = self.bnode_counter
        try:
            subj = self._subject()
            povs = self._predicate_object_list()
            self._emit_statement(subj, povs)
        except _Backtrack:
            self._rollback(mark, cmark)
            self.i = save
            self._ws()
            if not (self.i < self.n and self.s[self.i] == "["):
                raise _BT
            node = self._anon_bnode()
            if not getattr(node, "_had_preds", False):
                # bare '[]' statement -> TurtleValue::BNode at top level
                # -> "incorrect turtle value" (turtle_doc.rs:525-529)
                raise DocError("incorrect turtle value")
        self._ws()
        if self.i < self.n:
            if self.s[self.i] != ".":
                raise _BT
            self.i += 1
            self._ws()

    # ---------- top level ----------

    def parse(self):
        """many0(statement) then trailing comments; leftover input fails
        the whole doc (turtle_doc.rs:888-905)."""
        while True:
            self._comments()
            self._ws()
            if self.i >= self.n:
                break
            # directives start with @/B/b/P/p only — skip the four
            # case-insensitive tag probes for every other statement
            c = self.s[self.i]
            if c in "@BbPp" and self._directive():
                continue
            save = self.i
            mark = len(self.triples)
            cmark = self.bnode_counter
            try:
                self._triples_stmt()
            except _Backtrack:
                self._rollback(mark, cmark)
                self.i = save
                break
        self._comments()
        self._ws()
        if self.i < self.n:
            raise DocError(
                "could not parse the doc completely: rest => "
                + repr(self.s[self.i : self.i + 80])
            )
        # per-doc statement dedup, first occurrence wins (see _emit)
        return list(dict.fromkeys(self.triples))


def _replay(parser: TurtleParser, start: int, end: int, what: str):
    """Re-parse a recorded '[...]'/'(...)' span with the live parser
    state (bnode counter advances at materialization time)."""
    save_i, save_n = parser.i, parser.n
    parser.i, parser.n = start, end
    try:
        if what == "anon":
            return parser._anon_bnode()
        return parser._collection()
    finally:
        parser.i, parser.n = save_i, save_n


# default skolem namespace, shared.rs:14
DEFAULT_WELL_KNOWN_PREFIX = "http://example.org/.well-known/genid#"


def parse_document(
    text: str, bnode_prefix: str = "", local_utc_offset_seconds: int = 0,
    seed_prefixes: Optional[dict] = None,
    well_known_prefix: Optional[str] = None,
    preserve_datetime_offset: bool = False,
):
    """Parse one Turtle/N-Triples document.

    Returns ``(triples, error)``: a list of canonical 7-tuples
    ``(s, s_kind, p, o, o_kind, o_datatype, o_lang)`` and None on
    success, or ``([], message)`` on a document-level failure — the
    reference rejects the whole doc (turtle_doc.rs:888-905); a web-scale
    pipeline quarantines the row instead of crashing the job
    (SURVEY.md §7 hard-part 5).

    ``seed_prefixes`` is the R10 add_prefixes external prefix map
    (turtle_doc.rs:264-283); ``well_known_prefix`` turns on bnode
    skolemization (turtle_doc.rs:733-747; pass
    DEFAULT_WELL_KNOWN_PREFIX for the reference default, shared.rs:14).
    """
    p = TurtleParser(text, bnode_prefix, local_utc_offset_seconds,
                     seed_prefixes, well_known_prefix,
                     preserve_datetime_offset)
    try:
        return p.parse(), None
    except (DocError, CoercionError) as e:
        return [], str(e)
    except _Backtrack:
        return [], "parse error"
    except RecursionError:  # e.g. hundreds of nested [ ] or ( )
        return [], "nesting too deep"


def parse_ntriples_statement(text: str, offset: int = 0):
    """Incremental single-statement parse — the reference's pull-based
    streaming source (turtle_doc.rs:338-361, grammar
    turtle_parser.rs:114-150). Returns ``(new_offset, triple)`` or None
    at end of input; raises DocError on malformed input."""
    p = TurtleParser(text)
    p.i = offset
    p._comments()
    if p.i >= p.n:
        return None
    try:
        subj = p._subject_ntriples()
        pred = p._predicate()
        p._ws()
        obj = p._object_ntriples()
    except _Backtrack:
        raise DocError(
            "invalid n-triples statement at offset " + str(offset)
        ) from None
    p._emit(subj, pred, obj)
    p._ws()
    if p.i < p.n:
        if p.s[p.i] != ".":
            raise DocError("expected '.' terminating n-triples statement")
        p.i += 1
        p._ws()
    return p.i, p.triples[0]


def _subject_ntriples(self):
    save = self.i
    try:
        return self._labeled_node(self._labeled_bnode())
    except _Backtrack:
        self.i = save
    return self._iri_resolved()


def _object_ntriples(self):
    save = self.i
    try:
        return self._iri_resolved()
    except _Backtrack:
        self.i = save
    try:
        return self._labeled_node(self._labeled_bnode())
    except _Backtrack:
        self.i = save
    try:
        return self._string_literal()
    except _Backtrack:
        self.i = save
    return self._primitive_literal()


TurtleParser._subject_ntriples = _subject_ntriples
TurtleParser._object_ntriples = _object_ntriples
del _subject_ntriples, _object_ntriples


def parse_term(term: str, prefixes=None, base=None, position: str = "object"):
    """Parse ONE Turtle-syntax term against a prefix map / base — the
    reference's parse_and_list_statements binding path
    (turtle_doc.rs:363-401 calling parse_sub/parse_pred/parse_obj,
    turtle_parser.rs:91-104). Returns a resolved Node; literals are only
    allowed in object position (turtle_doc.rs:379,388,396).
    Raises DocError on unparseable terms or unknown prefixes."""
    p = TurtleParser(term)
    if prefixes:
        p.prefixes.update(prefixes)
    p.base = base
    try:
        if position == "predicate":
            return p._predicate()
        if position == "subject":
            node = p._subject()
            if node.kind == LIT_K:
                raise DocError("subject cannot be a literal")
            return node
        d = p._object_deferred()
        return p._materialize(d)
    except _Backtrack:
        raise DocError(f"could not parse term: {term!r}") from None
