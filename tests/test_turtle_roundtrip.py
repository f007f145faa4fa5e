"""Cross-validation: as_turtle output re-parsed by the grammar must
reproduce the triple set, for every reference fixture where the
REFERENCE's own format allows it.

Two known, reference-faithful ambiguities make some documents
non-reparseable — our serializer reproduces the reference's bytes
exactly (pinned by the s8_turtle_pretty driver oracle), so these are
asserted to fail FOR ONE OF THESE REASONS, never silently skipped:

1. Prefix compaction is a raw string replace with NO PN_LOCAL escaping
   (turtle_doc.rs:105-123): an IRI whose local part holds characters
   the prefixed-name scanner rejects round-trips lossily.
2. A bare numeric object rendered immediately before the statement
   terminator (`rdfs:value 1.`) — the numeric scanner (reference
   recognize_float, triple_common_parser.rs:154-164) consumes the
   final '.' as part of the number, leaving the statement
   unterminated.
3. The rdf:type IRI is compacted to the keyword `a` EVERYWHERE
   (SPECIAL_TTL_RDF_TYPE_PREFIX, turtle_doc.rs:113-118), including in
   OBJECT position (`rdf:predicate a;` in reified statements), where
   bare `a` is not legal Turtle.

All statuses are computed ONCE in a module-scoped fixture (not via
cross-test global state), so the suite is order-independent and safe
under xdist / --random-order / -k selection.
"""

import re

import pytest

from tortank_spark.fixtures import FIXTURE_CASES, REF_FIXTURE_DIR
from tortank_spark.grammar import parse_document
from tortank_spark.schema import TRIPLE_SCHEMA
from tortank_spark.serialize import PRETTY_PREFIXES, turtle_document

pytestmark = pytest.mark.needs_reference

_NUM = {
    "http://www.w3.org/2001/XMLSchema#integer",
    "http://www.w3.org/2001/XMLSchema#decimal",
    "http://www.w3.org/2001/XMLSchema#double",
}


def _norm(t):
    """as_turtle renders integers/decimals as bare tokens (reference
    per-object rules, turtle_doc.rs:1278-1329), so `"30"^^xsd:decimal`
    re-parses as xsd:integer — numeric kinds collapse for comparison
    (values are canonical on both sides)."""
    s, sk, p, o, ok, dt, lg = t
    if dt in _NUM:
        dt = "num"
    return (s, sk, p, o, ok, dt, lg)


def _compacts_lossy(term: str) -> bool:
    """Ambiguity 1: compaction of this IRI does not re-parse back to
    the same IRI."""
    from tortank_spark.grammar.turtle import parse_term

    bases = sorted((v for _, v in PRETTY_PREFIXES), key=len, reverse=True)
    for base in bases:
        if term.startswith(base) and len(term) > len(base):
            local = term[len(base):]
            try:
                node = parse_term("x:" + local, {"x": base}, None,
                                  "predicate")
            except Exception:
                return True
            return node.value != term
    return False


def _doc_lossy(triples) -> bool:
    for s, sk, p, o, ok, *_ in triples:
        for term, kind in ((s, sk), (p, "iri"), (o, ok)):
            if kind == "iri" and _compacts_lossy(term):
                return True
    return False


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _rdf_type_as_object(triples) -> bool:
    """Ambiguity 3: rdf:type in object position compacts to bare `a`."""
    return any(
        ok == "iri" and o == _RDF_TYPE
        for _, _, _, o, ok, *_ in triples
    )


def _numeric_before_terminator(ttl: str) -> bool:
    """Ambiguity 2: a bare numeric token directly followed by the
    statement '.' at end of line (letters in prefixed names keep them
    out of this character class)."""
    return re.search(r"[ \t][+-]?\d[\d.eE+-]*\.\n", ttl) is not None


def _round_trip_status(spark, path) -> tuple[str, str]:
    """One fixture's round-trip outcome: (status, detail)."""
    triples, err = parse_document(path.read_text())
    if err or not triples:
        return "unparseable", str(err)
    df = spark.createDataFrame([("u", *t) for t in triples], TRIPLE_SCHEMA)
    ttl = turtle_document(df)
    re_triples, re_err = parse_document(ttl)
    lossy = _doc_lossy(triples)
    if re_err is not None:
        # must be attributable to a reference-faithful ambiguity
        if (lossy or _numeric_before_terminator(ttl)
                or _rdf_type_as_object(triples)):
            return "ambiguous", str(re_err)
        return "unattributed-error", f"{re_err} :: {ttl[:400]}"
    if lossy:
        # reparse succeeded but IRIs may have shifted — don't certify
        return "lossy-ok", ""
    if {_norm(t) for t in re_triples} != {_norm(t) for t in triples}:
        got = {_norm(t) for t in re_triples}
        want = {_norm(t) for t in triples}
        return "mismatch", f"+{sorted(got - want)[:3]} -{sorted(want - got)[:3]}"
    return "full", ""


@pytest.fixture(scope="module")
def roundtrip_results(spark):
    """All fixture statuses, computed once per module run."""
    return {c: _round_trip_status(spark, REF_FIXTURE_DIR / "input" / f"{c}.ttl")
            for c in FIXTURE_CASES}


@pytest.mark.parametrize("stem", FIXTURE_CASES)
def test_as_turtle_reparse_round_trip(roundtrip_results, stem):
    status, detail = roundtrip_results[stem]
    if status == "unparseable":
        pytest.skip(f"fixture does not parse clean: {detail}")
    assert status in ("full", "ambiguous", "lossy-ok"), (status, detail)


def test_round_trip_coverage_floor(roundtrip_results):
    """Most of the corpus must take the FULL round-trip path — guards
    against the ambiguity clause quietly swallowing the suite if the
    prefix table, fixtures, or scanner change."""
    statuses = [s for s, _ in roundtrip_results.values()]
    assert statuses.count("full") >= 24, statuses
