"""Dev harness: run the grammar against the reference fixture suite.

Comparison semantics = the reference's own test harness
(/root/reference/src/tests/mod.rs:63-89): parse input and golden output
with a reset bnode counter, then assert empty set-difference both ways
and equal statement counts. Cases 0004/0005 check the difference
operator (input - diff == output); 0027 checks the RDF/JSON encoding.
(0003's "could not parse" name is historical — the reference runs it as
a plain EQ case, /root/reference/src/tests/turtle_doc_test.rs:10.)

Exits 2 with the reason when the reference corpus is absent.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tortank_spark.fixtures import (
    DIFF_CASES, EQ_CASES, REF_FIXTURE_DIR as FIX, reference_missing,
)
from tortank_spark.grammar import parse_document


def parse_file(path):
    return parse_document(path.read_text())


def main():
    reason = reference_missing()
    if reason:
        print(reason)
        return 2
    failures = []
    for case in EQ_CASES:
        inp, ein = parse_file(FIX / "input" / f"{case}.ttl")
        out, eout = parse_file(FIX / "output" / f"{case}.ttl")
        si, so = set(inp), set(out)
        ok = ein is None and eout is None and si == so and len(inp) == len(out)
        if not ok:
            failures.append(case)
            print(f"FAIL {case}: in={len(inp)} out={len(out)} "
                  f"ein={ein} eout={eout}")
            only_in = si - so
            only_out = so - si
            for t in sorted(only_in)[:6]:
                print("   only-in :", t)
            for t in sorted(only_out)[:6]:
                print("   only-out:", t)
        else:
            print(f"ok   {case}: {len(inp)} triples")

    # diff cases: input - diff == output (tests/mod.rs:49-61)
    for case in DIFF_CASES:
        inp, e1 = parse_file(FIX / "input" / f"{case}.ttl")
        dif, e2 = parse_file(FIX / "diff" / f"{case}.ttl")
        out, e3_ = parse_file(FIX / "output" / f"{case}.ttl")
        got = [t for t in inp if t not in set(dif)]
        if e1 or e2 or e3_ or set(got) != set(out) or len(got) != len(out):
            failures.append(case)
            print(f"FAIL {case} diff: got={len(got)} want={len(out)} "
                  f"errs={e1},{e2},{e3_}")
            for t in sorted(set(got) - set(out))[:6]:
                print("   extra  :", t)
            for t in sorted(set(out) - set(got))[:6]:
                print("   missing:", t)
        else:
            print(f"ok   {case}: diff semantics ({len(got)} triples)")

    # 0027: RDF/JSON golden
    inp, e = parse_file(FIX / "input" / "0027.ttl")
    golden = json.loads((FIX / "output" / "0027.json").read_text())

    def golden_to_tuple(tr):
        def node(n, pos):
            t = n["type"]
            if t == "uri":
                return (n["value"], "iri", None, None)
            if t == "bnode":
                return ("_:" + n["value"], "bnode", None, None)
            return (n["value"], "literal", n.get("datatype"), n.get("lang"))

        s = node(tr["subject"], "s")
        p = node(tr["predicate"], "p")
        o = node(tr["object"], "o")
        return (s[0], s[1], p[0], o[0], o[1], o[2], o[3])

    want = {golden_to_tuple(t) for t in golden}
    got = set(inp)
    if e or got != want:
        failures.append("0027")
        print(f"FAIL 0027: err={e}")
        for t in sorted(got - want)[:6]:
            print("   extra  :", t)
        for t in sorted(want - got)[:6]:
            print("   missing:", t)
    else:
        print(f"ok   0027: rdf-json ({len(got)} triples)")

    print()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL FIXTURES PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
