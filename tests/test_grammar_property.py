"""Property-based grammar tests (hypothesis).

1. Round-trip: random triples -> canonical N-Triples rendering (the
   same rendering serialize.ntriples_line implements in Spark, done
   here in pure python) -> parse_document -> identical triple set.
2. Fuzz: arbitrary text never crashes the parser — it either parses or
   returns a quarantine error.
"""

import string

from hypothesis import given, settings, strategies as st

from tortank_spark.grammar import parse_document
from tortank_spark.grammar.lexical import XSD_STRING

# IRI charset: anything but '>' per the reference's enclosed-iri rule
# (triple_common_parser.rs:63-70); keep to printable non-space for
# unambiguous round-tripping
_iri = st.text(
    alphabet=string.ascii_letters + string.digits + ":/#._-~%",
    min_size=1,
    max_size=40,
).map(lambda s: "http://x.example/" + s)

# literal values that the reference's own Display can round-trip: the
# short-double-quote renderer escapes nothing (Display writes the raw
# value), so exclude '"' and backslash, and newlines are fine
# exclude "'''" too: the reference's Display escapes it, but its
# long-quote parser is raw (take_until terminator), so values holding
# "'''" don't round-trip in the reference either
# (turtle_doc.rs:1198-1205 vs triple_common_parser.rs:175-184)
_value = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters='"\\\r'
    ),
    max_size=60,
).filter(lambda s: "'''" not in s)

_lang = st.one_of(
    st.none(),
    st.text(alphabet=string.ascii_lowercase + "-", min_size=2, max_size=8)
    .filter(lambda s: s.strip("-") == s and s),
)


@st.composite
def _triple(draw):
    s = draw(_iri)
    p = draw(_iri)
    kind = draw(st.sampled_from(["iri", "plain", "lang", "typed"]))
    if kind == "iri":
        return (s, "iri", p, draw(_iri), "iri", None, None)
    v = draw(_value)
    if kind == "plain":
        return (s, "iri", p, v, "literal", XSD_STRING, None)
    if kind == "lang":
        lang = draw(_lang)
        if lang is None:
            return (s, "iri", p, v, "literal", XSD_STRING, None)
        return (s, "iri", p, v, "literal", None, lang)
    dt = draw(_iri)
    return (s, "iri", p, v, "literal", dt, None)


def _render(t):
    s, _, p, o, ok, dt, lang = t
    if ok == "iri":
        obj = f"<{o}>"
    else:
        # reference Display quote selection (turtle_doc.rs:1193-1211)
        body = o.replace("'''", "\\'''")
        if o.endswith('"') or '"""' in o:
            obj = f"'''{body}'''"
        else:
            obj = f'"{o}"'
        if dt is not None:
            obj += f"^^<{dt}>"
        elif lang is not None:
            obj += f"@{lang}"
    return f"<{s}> <{p}> {obj}."


def _norm(t):
    # re-parse canonicalizes typed literals: xsd:integer/decimal/etc
    # re-render; restrict comparison to the structural fields we
    # generated (generator avoids coercible datatypes by using full
    # random IRIs, which never equal the xsd ones except vanishingly)
    return t


@settings(max_examples=150, deadline=None)
@given(st.lists(_triple(), min_size=1, max_size=8))
def test_round_trip_ntriples(triples):
    doc = "\n".join(_render(t) for t in triples)
    parsed, err = parse_document(doc)
    assert err is None, (err, doc)
    want = set()
    for t in triples:
        s, sk, p, o, ok, dt, lang = t
        if ok == "literal":
            # long-quoted rendering is RAW; short-quoted decodes
            # escapes — our generator excludes backslashes so values
            # survive either path verbatim
            from tortank_spark.grammar.lexical import (
                XSD_BOOLEAN, XSD_DATE, XSD_DATE_TIME, XSD_DECIMAL,
                XSD_DOUBLE, XSD_INTEGER,
            )
            if dt in (XSD_BOOLEAN, XSD_INTEGER, XSD_DECIMAL, XSD_DOUBLE,
                      XSD_DATE, XSD_DATE_TIME):
                continue  # typed coercion cases covered by unit tests
        want.add(t)
    got = set(parsed)
    # every generated triple must be present (parser may dedup)
    missing = {t for t in want if t not in got}
    assert not missing, (missing, doc)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=300))
def test_fuzz_never_crashes(text):
    triples, err = parse_document(text)
    assert isinstance(triples, list)
    assert err is None or isinstance(err, str)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200))
def test_fuzz_bytes_decoded_never_crashes(data):
    text = data.decode("utf-8", "replace")
    triples, err = parse_document(text)
    assert isinstance(triples, list)


@settings(max_examples=150, deadline=None)
@given(_value)
def test_string_fastpath_slowpath_agree(v):
    """The zero-copy fast path (no backslash before the closing quote)
    and the escape fold must agree: a clean value parses verbatim, and
    the same value with an escape appended (forcing the fold) yields
    the identical prefix plus the decoded escape."""
    doc = f'<http://e/s> <http://e/p> "{v}" .'
    fast, err = parse_document(doc)
    assert err is None, (err, doc)
    assert fast[0][3] == v
    doc2 = f'<http://e/s> <http://e/p> "{v}\\t" .'
    slow, err2 = parse_document(doc2)
    assert err2 is None, (err2, doc2)
    assert slow[0][3] == v + "\t"


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_winnow_hash_vectorized_matches_python_fold(text):
    """textops winnow k-gram hashing: the numpy uint64-wraparound
    production arithmetic must agree bit-for-bit with the pure-Python
    mod-2^64 fold on arbitrary unicode text (incl. surrogates-free
    codepoints hypothesis generates), both for the per-gram hashes and
    the short-text whole-string hash. This is the no-Spark core of the
    equivalence that licenses the fast path; the Spark-level test
    (test_operators) covers the full selection + DuckDB oracle."""
    from tortank_spark.textops import (
        _normalize_ws,
        _winnow_gram_hashes,
        _winnow_select,
    )

    k = 5
    want = _winnow_gram_hashes(_normalize_ws(text), k)
    # w=1: every k-gram is its own window minimum, so the production
    # kernel returns every gram hash (or the one whole-text hash)
    got = [int(x) for x in _winnow_select(text, k, 1)[1]]
    assert got == want


def test_fast_canonical_datetime_z_matches_slow_path():
    """The extraction hot path renders 'YYYY-MM-DDTHH:MM:SS(.f)Z'
    canonically without a datetime round trip; wherever it answers it
    must agree byte-for-byte with parse_instant+canonical_datetime,
    and it must decline (None) every value the datetime constructor
    would reject so the quoted-literal fallback is preserved."""
    import itertools
    import random

    from tortank_spark.grammar.lexical import (
        canonical_datetime, fast_canonical_datetime_z, parse_instant,
    )

    rng = random.Random(20260822)
    fracs = ["", ".1", ".99", ".123", ".999999", ".0000005", ".12345678901"]
    for _ in range(4000):
        y = rng.choice([0, 1, 399, 1900, 2000, 2023, 2024, 9999])
        mo = rng.randint(0, 13)
        d = rng.randint(0, 32)
        h = rng.randint(0, 24)
        mi = rng.randint(0, 60)
        s = rng.randint(0, 60)
        frac = rng.choice(fracs)
        z = rng.choice(["Z", "z"])
        v = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}{frac}{z}"
        fast = fast_canonical_datetime_z(v)
        inst = parse_instant(v, 0)
        slow = canonical_datetime(inst, False) if inst is not None else None
        if fast is None:
            # fast may decline only when the slow path also rejects
            assert slow is None, (v, slow)
        else:
            assert fast == slow, (v, fast, slow)
    # shapes the fast path must always decline (slow path semantics
    # differ: space separator, offsets, naive values)
    for v in ["2024-10-05 03:12:45Z", "2024-10-05T03:12:45+02:00",
              "2024-10-05T03:12:45", "2024-10-05t03:12:45Z"]:
        assert fast_canonical_datetime_z(v) is None
    # the 3-fractional-digit shape returns the input digits verbatim —
    # exhaustively equal to the float-round-trip rendering for all 1000
    # millisecond values
    for ddd in range(1000):
        v = f"2024-10-05T03:12:45.{ddd:03d}Z"
        inst = parse_instant(v, 0)
        assert fast_canonical_datetime_z(v) == canonical_datetime(inst, False)
