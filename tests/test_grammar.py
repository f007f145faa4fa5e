"""Grammar unit tests mirroring the reference's parser test expectations
(/root/reference/src/tests/turtle_parser_test_misc.rs,
 triple_common_parser_test_misc.rs, string_parser.rs tests) plus the
full fixture corpus (reference harness semantics)."""

import json
import sys
from pathlib import Path

import pytest

from tortank_spark.grammar import parse_document, parse_ntriples_statement
from tortank_spark.grammar.lexical import (
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    rust_f32_str,
    rust_f64_str,
)

FIX = Path("/root/reference/examples/turtle_doc")
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def one(text):
    triples, err = parse_document(text)
    assert err is None, err
    assert len(triples) == 1, triples
    return triples[0]


def test_numeric_ladder_i64_f32():
    # reference: (1 2.0 3E1) -> Integer(1), Decimal(2.0), Decimal(30.0)
    # (turtle_parser_test_misc.rs:53-63)
    triples, err = parse_document('@prefix : <http://e/> .\n:a :p ( 1 2.0 3E1 ) .')
    assert err is None
    firsts = [t for t in triples if t[2] == RDF + "first"]
    assert [(t[3], t[5]) for t in firsts] == [
        ("1", XSD_INTEGER),
        ("2", XSD_DECIMAL),
        ("30", XSD_DECIMAL),
    ]


def test_scientific_decimal():
    # 1.663E-4 -> Decimal(0.0001663) (turtle_parser_test_misc.rs:716)
    t = one("<http://h> <http://p> 1.663E-4 .")
    assert (t[3], t[5]) == ("0.0001663", XSD_DECIMAL)


def test_double_typed_literal_keeps_value_class():
    t = one(
        '<http://h> <http://p> "1.663E-4"'
        "^^<http://www.w3.org/2001/XMLSchema#double> ."
    )
    assert (t[3], t[5]) == ("0.0001663", XSD_DOUBLE)


def test_rust_float_rendering():
    assert rust_f32_str(30.0) == "30"
    assert rust_f32_str(123.45) == "123.45"
    assert rust_f64_str(1.663e-4) == "0.0001663"
    assert rust_f32_str(-0.5) == "-0.5"


def test_booleans_case_sensitive():
    t = one("<http://h> <http://p> true .")
    assert (t[3], t[5]) == ("true", XSD_BOOLEAN)
    _, err = parse_document("<http://h> <http://p> True .")
    assert err is not None  # Turtle booleans are case-sensitive


def test_bare_string_gets_xsd_string():
    t = one('<http://h> <http://p> "x" .')
    assert (t[3], t[5], t[6]) == ("x", XSD_STRING, None)


def test_lang_literal_no_datatype():
    t = one('<http://h> <http://p> "x"@fr-be .')
    assert (t[3], t[5], t[6]) == ("x", None, "fr-be")


def test_escape_decoding():
    t = one('<http://h> <http://p> "a\\nb\\tc\\u{E9}d\\qe" .')
    # \q is an unknown escape kept verbatim (string_parser.rs:152-155)
    assert t[3] == "a\nb\tcéd\\qe"


def test_escaped_whitespace_dropped():
    t = one('<http://h> <http://p> "a\\   \n  b" .')
    assert t[3] == "ab"


def test_long_quote_raw_no_unescaping():
    t = one('<http://h> <http://p> """a\\nb""" .')
    assert t[3] == "a\\nb"  # long-quoted strings are raw


def test_typed_long_quote_boolean():
    # fixture 0031 shape: """true"""^^xsd:boolean coerces
    t = one(
        '<http://h> <http://p> """true"""'
        "^^<http://www.w3.org/2001/XMLSchema#boolean> ."
    )
    assert (t[3], t[5]) == ("true", XSD_BOOLEAN)


def test_prefix_redefinition_mid_doc():
    # examples/turtle_doc/input/0028.ttl:10-17 semantics
    text = (
        "@prefix p: <http://two.example/> .\n"
        "p:s p:p p:o .\n"
        "@prefix p: <http://three.example/> .\n"
        "p:s p:p p:o .\n"
    )
    triples, err = parse_document(text)
    assert err is None
    assert {t[0] for t in triples} == {
        "http://two.example/s",
        "http://three.example/s",
    }


def test_base_resolution_plain_concat():
    text = "@base <http://one.example/> .\n<subject2> <predicate2> <object2> ."
    t = one(text)
    assert t[0] == "http://one.example/subject2"


def test_relative_prefix_resolves_against_base():
    text = (
        "@base <http://one.example/> .\n"
        "@prefix p: <path/> .\n"
        "p:s p:p p:o .\n"
    )
    t = one(text)
    assert t[0] == "http://one.example/path/s"


def test_unlabeled_bnode_counter_order():
    # golden output/0009.ttl: Alice=_:1, Bob=_:2, Eve=_:3
    text = (
        "@prefix foaf: <http://foaf.com/>.\n"
        '[ foaf:name "Alice" ] foaf:knows [\n'
        '  foaf:name "Bob" ;\n'
        '  foaf:knows [ foaf:name "Eve" ] ] .'
    )
    triples, err = parse_document(text)
    assert err is None
    by_name = {t[3]: t[0] for t in triples if t[2].endswith("name")}
    assert by_name == {"Alice": "_:1", "Bob": "_:2", "Eve": "_:3"}
    knows = {(t[0], t[3]) for t in triples if t[2].endswith("knows")}
    assert knows == {("_:1", "_:2"), ("_:2", "_:3")}


def test_collection_cons_structure():
    text = '@prefix : <http://example.com/>.\n:a :b ( "apple" "banana" ) .'
    triples, err = parse_document(text)
    assert err is None
    want = {
        ("_:1", RDF + "first", "apple"),
        ("_:1", RDF + "rest", "_:2"),
        ("_:2", RDF + "first", "banana"),
        ("_:2", RDF + "rest", RDF + "nil"),
        ("http://example.com/a", "http://example.com/b", "_:1"),
    }
    assert {(t[0], t[2], t[3]) for t in triples} == want


def test_empty_collection_is_nil():
    t = one("<http://a> <http://b> ( ) .")
    assert (t[3], t[4]) == (RDF + "nil", "iri")


def test_labeled_bnode_rules():
    t = one("_:a.b <http://p> _:c .")
    assert t[0] == "_:a.b"
    # trailing dot excluded from the label and terminates the statement
    triples, err = parse_document("<http://s> <http://p> _:abc.")
    assert err is None
    assert triples[0][3] == "_:abc"


def test_statement_dedup():
    text = "<http://a> <http://b> <http://c> .\n<http://a> <http://b> <http://c> ."
    triples, err = parse_document(text)
    assert err is None
    assert len(triples) == 1


def test_statement_dedup_keeps_first_occurrence_order():
    # dedup now happens once at end of parse (dict.fromkeys) instead of
    # per emission; the observable contract is unchanged: duplicates
    # collapse onto their FIRST occurrence, other triples keep document
    # order around them
    text = (
        "<http://a> <http://p> <http://x> .\n"
        "<http://a> <http://p> <http://y> .\n"
        "<http://a> <http://p> <http://x> .\n"
        "<http://a> <http://p> <http://z> , <http://y> .\n"
    )
    triples, err = parse_document(text)
    assert err is None
    assert [t[3] for t in triples] == ["http://x", "http://y", "http://z"]


def test_unknown_prefix_fails_doc():
    _, err = parse_document("p:a p:b p:c .")
    assert err and "unknown" in err


def test_trailing_garbage_fails_doc():
    _, err = parse_document("<http://a> <http://b> <http://c> . ???")
    assert err and "could not parse" in err


@pytest.mark.parametrize("open_, close, depth", [
    ("[ :p ", " ]", 400),   # nested blank-node property lists
    ("( ", " )", 1200),     # nested collections
])
def test_deep_nesting_fails_doc_not_job(open_, close, depth):
    text = ("@prefix : <http://e/> .\n:a :p " + open_ * depth + ":o"
            + close * depth + " .")
    # Spark's Python workers run at the interpreter default; a test
    # runner may have raised the limit
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        assert parse_document(text) == ([], "nesting too deep")
    finally:
        sys.setrecursionlimit(limit)
    # the parser is usable again right after
    assert parse_document("<http://a> <http://b> <http://c> .")[1] is None


def test_comment_handling():
    text = (
        "# leading comment\n"
        "<http://a> <http://b> <http://c> . # after statement\n"
        "<http://a> <http://b> <http://d> ;# after semicolon\n"
        "  <http://e> <http://f> .\n"
    )
    triples, err = parse_document(text)
    assert err is None
    assert len(triples) == 3


def test_ntriples_incremental():
    s = '_:b <http://p> "x"@en .\n<http://a> a <http://T> .'
    off, t1 = parse_ntriples_statement(s)
    assert t1 == ("_:b", "bnode", "http://p", "x", "literal", None, "en")
    off, t2 = parse_ntriples_statement(s, off)
    assert t2 == ("http://a", "iri", RDF + "type", "http://T", "iri", None, None)
    assert parse_ntriples_statement(s, off) is None


@pytest.mark.parametrize("case", [f"{i:04d}" for i in range(1, 33)
                                  if i not in (4, 5, 27)])
def test_fixture_eq(case):
    inp, e1 = parse_document((FIX / "input" / f"{case}.ttl").read_text())
    out, e2 = parse_document((FIX / "output" / f"{case}.ttl").read_text())
    assert e1 is None and e2 is None
    assert set(inp) == set(out)
    assert len(inp) == len(out)


@pytest.mark.parametrize("case", ["0004", "0005"])
def test_fixture_diff(case):
    inp, _ = parse_document((FIX / "input" / f"{case}.ttl").read_text())
    dif, _ = parse_document((FIX / "diff" / f"{case}.ttl").read_text())
    out, _ = parse_document((FIX / "output" / f"{case}.ttl").read_text())
    got = [t for t in inp if t not in set(dif)]
    assert set(got) == set(out) and len(got) == len(out)


def test_fixture_json_0027():
    inp, err = parse_document((FIX / "input" / "0027.ttl").read_text())
    assert err is None
    golden = json.loads((FIX / "output" / "0027.json").read_text())

    def node(n):
        t = n["type"]
        if t == "uri":
            return (n["value"], "iri", None, None)
        if t == "bnode":
            return ("_:" + n["value"], "bnode", None, None)
        return (n["value"], "literal", n.get("datatype"), n.get("lang"))

    want = set()
    for tr in golden:
        s, p, o = node(tr["subject"]), node(tr["predicate"]), node(tr["object"])
        want.add((s[0], s[1], p[0], o[0], o[1], o[2], o[3]))
    assert set(inp) == want


def test_skolemization_well_known_prefix():
    """P20 skolem mode (turtle_doc.rs:733-747): with a well-known
    prefix, labeled bnodes become <wkp+label> and unlabeled become
    <wkp+counter> (test-mode uuid = counter, turtle_doc.rs:33-51);
    default constant shared.rs:14."""
    from tortank_spark.grammar.turtle import DEFAULT_WELL_KNOWN_PREFIX

    text = '<a> <p> [ <q> "v" ] .\n_:x <p> <b> .'
    triples, err = parse_document(
        text, well_known_prefix=DEFAULT_WELL_KNOWN_PREFIX
    )
    assert err is None
    gen1 = DEFAULT_WELL_KNOWN_PREFIX + "~1"
    genx = DEFAULT_WELL_KNOWN_PREFIX + "x"
    got = {(t[0], t[1], t[2], t[3], t[4]) for t in triples}
    assert (gen1, "iri", "q", "v", "literal") in got
    assert ("a", "iri", "p", gen1, "iri") in got
    assert (genx, "iri", "p", "b", "iri") in got
    # without the option, same doc keeps blank-node identity
    plain, err2 = parse_document(text)
    assert err2 is None
    assert {t[1] for t in plain} == {"bnode", "iri"}
    # a labeled bnode '_:1' must NOT conflate with the first anon node:
    # the anon skolem form embeds '~', which labels cannot contain
    both = '_:1 <p> "lab" .\n[] <q> "anon" .'
    skolem, err3 = parse_document(
        both, well_known_prefix=DEFAULT_WELL_KNOWN_PREFIX
    )
    assert err3 is None
    subs = {t[0] for t in skolem}
    assert subs == {DEFAULT_WELL_KNOWN_PREFIX + "1",
                    DEFAULT_WELL_KNOWN_PREFIX + "~1"}


def test_seed_prefixes_external_map():
    """R10 add_prefixes (turtle_doc.rs:264-283): an external prefix map
    resolves prefixed names with no in-doc directive; the doc's own
    @prefix overrides the seed for subsequent statements."""
    seed = {"foaf": "http://xmlns.com/foaf/0.1/"}
    triples, err = parse_document('foaf:a foaf:knows foaf:b .',
                                  seed_prefixes=seed)
    assert err is None
    assert triples[0][0] == "http://xmlns.com/foaf/0.1/a"
    assert triples[0][2] == "http://xmlns.com/foaf/0.1/knows"

    text = ('foaf:a foaf:p "pre" .\n'
            '@prefix foaf: <http://other/> .\n'
            'foaf:a foaf:p "post" .')
    triples, err = parse_document(text, seed_prefixes=seed)
    assert err is None
    by_obj = {t[3]: t[0] for t in triples}
    assert by_obj["pre"] == "http://xmlns.com/foaf/0.1/a"
    assert by_obj["post"] == "http://other/a"
    # unknown prefix without a seed is still a doc error
    _, err = parse_document('foaf:a foaf:p "x" .')
    assert err is not None and "foaf" in err


def test_datetime_offset_preserving_flag():
    """preserve_datetime_offset matches chrono to_rfc3339 byte-exactly
    on non-UTC values (turtle_doc.rs:1225-1231 keeps the value's own
    offset); the DEFAULT still canonicalizes to the UTC instant with Z
    (same chrono equality class) — behavior unchanged."""
    from tortank_spark.grammar.turtle import parse_document

    xsd_dt = "<http://www.w3.org/2001/XMLSchema#dateTime>"

    def doc(lex):
        return f'<http://e.org/s> <http://e.org/p> "{lex}"^^{xsd_dt} .'

    # default: UTC Z canonicalization (round-3 behavior, pinned)
    trips, err = parse_document(doc("2024-03-05T10:20:30.400+02:00"))
    assert err is None and trips[0][3] == "2024-03-05T08:20:30.400Z"

    # flag on: the value keeps its OWN offset; Z only for zero offset
    # (chrono to_rfc3339_opts(Millis, use_z=true))
    for lex, want in [
        ("2024-03-05T10:20:30.400+02:00", "2024-03-05T10:20:30.400+02:00"),
        ("2024-03-05T10:20:30.4-05:30", "2024-03-05T10:20:30.400-05:30"),
        ("2024-03-05T10:20:30+00:00", "2024-03-05T10:20:30.000Z"),
        ("2024-03-05T10:20:30.400Z", "2024-03-05T10:20:30.400Z"),
    ]:
        trips, err = parse_document(doc(lex), preserve_datetime_offset=True)
        assert err is None, (lex, err)
        assert trips[0][3] == want, (lex, trips[0][3], want)


def test_short_string_fastpath_edges():
    """The zero-copy fast path for unescaped short strings must be
    byte-equivalent to the escape fold on its boundary cases: escape
    right before the closing quote, empty string, quote-only tails,
    escaped quote (slow path), and single-quote family (unchanged
    reference stop semantics)."""
    from tortank_spark.grammar.turtle import parse_document

    def one(lex):
        trips, err = parse_document(
            f'<http://e/s> <http://e/p> {lex} .')
        assert err is None, (lex, err)
        assert len(trips) == 1
        return trips[0][3]

    assert one('"plain value"') == "plain value"
    assert one('""') == ""
    assert one(r'"tab\tend"') == "tab\tend"
    assert one(r'"escaped quote \" inside"') == 'escaped quote " inside'
    assert one(r'"trailing escape\n"') == "trailing escape\n"
    # unknown escape kept verbatim (string_parser.rs:152-155)
    assert one(r'"keep \q verbatim"') == r"keep \q verbatim"
    # \u{...} brace escape still decodes (slow path engaged)
    assert one(r'"brace \u{1F600} cp"') == "brace \U0001F600 cp"
    # backslash AFTER the closing quote of a later literal must not
    # defeat the fast path's escape scan window
    trips, err = parse_document(
        '<http://e/s> <http://e/p> "a" , "b\\tc" .')
    assert err is None
    assert sorted(t[3] for t in trips) == ["a", "b\tc"]
