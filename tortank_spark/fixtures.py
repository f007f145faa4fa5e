"""Deterministic synthetic page table, alias dictionary and the
tortank reference corpus location.

Implements FIXTURES.md §1-§5: a Common-Crawl-style page table of
synthetic Turtle documents (one broken page for the quarantine path,
heavy pages, deterministic filler), plus the alias dictionary derived
from those documents for entity linking. Neither reads a file, so the
page table is the same on every host. No wall-clock, no randomness —
the same inputs are produced on every run.

``REF_FIXTURE_DIR`` is the one place that names the reference's fixture
suite; only the parity checks read it (``fixture_texts``,
``golden_texts``, ``make_golden_triples``), and
``reference_missing`` says whether it is there.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .extract import row_stage
from .schema import PAGE_SCHEMA

REF_FIXTURE_DIR = Path("/root/reference/examples/turtle_doc")
BASE_TS = datetime(2025, 10, 17, 0, 0, 0, tzinfo=timezone.utc)
LANGS = ["en", "nl", "fr"]

# All 32 numbered cases parse under the reference grammar (0003's
# "could not parse" name is historical; it is an EQ case —
# /root/reference/src/tests/turtle_doc_test.rs:8-44).
FIXTURE_CASES = [f"{i:04d}" for i in range(1, 33)]
# 0004/0005 are DIFF cases (golden = input - diff); 0027's golden is
# RDF/JSON (output/0027.json) — both excluded from plain EQ comparison.
DIFF_CASES = ["0004", "0005"]
JSON_CASES = ["0027"]
EQ_CASES = [c for c in FIXTURE_CASES if c not in DIFF_CASES + JSON_CASES]

# a deliberately-broken doc to exercise the quarantine path
BROKEN_DOC = "<http://example.org/x> <http://example.org/y> @@@ not turtle\n"

# synthetic parseable filler in several shapes, keyed by page index
_FILLER_TEMPLATES = [
    (
        "@prefix ex: <http://example.org/ns#> .\n"
        "@prefix foaf: <http://xmlns.com/foaf/0.1/> .\n"
        "ex:page{i} a ex:WebPage ;\n"
        '    foaf:name "Synthetic page {i}" ;\n'
        "    ex:rank {i} ;\n"
        '    ex:score "{i}.5"^^<http://www.w3.org/2001/XMLSchema#decimal> ;\n'
        "    ex:linksTo ex:page{j} , ex:page{k} ;\n"
        "    <http://www.w3.org/2002/07/owl#sameAs> ex:alias{i} .\n"
    ),
    (
        "@prefix ex: <http://example.org/ns#> .\n"
        "ex:doc{i} ex:items ( ex:item{i} ex:item{j} \"v{i}\" ) ;\n"
        "    ex:meta [ ex:depth {i} ; ex:tag \"t{k}\"@en ] .\n"
    ),
    (
        "<http://example.org/ev/{i}> "
        "<http://www.w3.org/ns/prov#generatedAtTime> "
        '"2024-11-{d:02d}T07:12:{sec:02d}.5{ms:02d}Z"'
        "^^<http://www.w3.org/2001/XMLSchema#dateTime> ;\n"
        "    <http://mu.semte.ch/vocabularies/core/uuid> \"uuid-{i}\" .\n"
    ),
]


def reference_missing() -> str | None:
    """Why the parity checks cannot run here, or None when the
    reference corpus is present."""
    if REF_FIXTURE_DIR.is_dir():
        return None
    return f"reference corpus absent: {REF_FIXTURE_DIR}"


def fixture_texts() -> dict[str, str]:
    """case -> verbatim input fixture text."""
    return {
        c: (REF_FIXTURE_DIR / "input" / f"{c}.ttl").read_text()
        for c in FIXTURE_CASES
    }


def golden_texts() -> dict[str, str]:
    out = {}
    for c in FIXTURE_CASES:
        p = REF_FIXTURE_DIR / "output" / f"{c}.ttl"
        if p.exists():
            out[c] = p.read_text()
    return out


def fixture_url(case: str) -> str:
    return f"https://fixtures.example.org/turtle_doc/{case}"


def _filler_text(i: int) -> str:
    """A Common-Crawl-realistic synthetic page: a few KB of Turtle with
    ~40 triples (real pages embed RDFa/JSON-LD islands of this order;
    230-byte toy docs would make any throughput number overhead-bound
    and meaningless)."""
    t = _FILLER_TEMPLATES[i % len(_FILLER_TEMPLATES)]
    head = t.format(
        i=i,
        j=(i * 7 + 3) % 100000,
        k=(i * 13 + 5) % 100000,
        d=(i % 28) + 1,
        sec=i % 60,
        ms=i % 100,
    )
    parts = [head]
    for n in range(12):
        v = (i * 31 + n * 7) % 100000
        parts.append(
            f"<http://example.org/r/{i}/{n}> "
            f"<http://example.org/ns#prop{n % 5}> "
            f'"value {v} with some padding text to make the literal '
            f'realistically sized for a web page snippet {v}"'
            f'{"@en" if n % 3 == 0 else ""} ;\n'
            f"    <http://example.org/ns#rank> {v} ;\n"
            f"    <http://www.w3.org/ns/prov#generatedAtTime> "
            f'"2024-10-{(n % 28) + 1:02d}T0{n % 10}:12:{v % 60:02d}.'
            f'{v % 1000:03d}Z"'
            f"^^<http://www.w3.org/2001/XMLSchema#dateTime> .\n"
        )
    return "\n".join(parts)


def _big_page_text(n_stmts: int = 4000) -> str:
    """One multi-MB document (~1.9 MB, 2*n_stmts triples). Real crawls
    carry occasional huge embedded graphs; a corpus of uniform few-KB
    docs never exercises the Arrow batch-memory edge the multimodal
    docstring warns about (batch bytes = rows x text size), nor the
    per-task skew one fat doc induces."""
    parts = ["@prefix ex: <http://example.org/big#> .\n"]
    for n in range(n_stmts):
        pad = f"padding-{n:06d}-" + "x" * 420
        parts.append(
            f'ex:s{n} ex:prop{n % 7} "{pad}" ;\n    ex:rank {n} .\n'
        )
    return "".join(parts)


def _bnode_heavy_text(n: int = 1000) -> str:
    """A pathological blank-node-heavy document: ~3 anon bnodes per
    statement group (nested + list-valued) plus a labeled-bnode chain —
    stresses the per-doc bnode counter, nested-anon recursion, and the
    salted-label layout at realistic-worst-case density."""
    parts = ["@prefix ex: <http://example.org/bn#> .\n"]
    for k in range(n):
        parts.append(
            f"ex:owner{k} ex:holds [ ex:idx {k} ; ex:child "
            f'[ ex:leaf "v{k}" ] ] , [ ex:alt {k} ] .\n'
            f"_:b{k} ex:next _:b{k + 1} ; ex:val {k} .\n"
        )
    return "".join(parts)


def _synthetic_doc(i: int, include_broken: bool, include_heavy: bool,
                   heavy_sets: int) -> tuple[str, str]:
    """(url, text) of page-table row ``i``: the broken page first, then
    ``heavy_sets`` heavy pairs, then filler (a filler page's index is
    its row index)."""
    j = i - include_broken
    if j < 0:
        return "https://synth.example.org/broken/0", BROKEN_DOC
    if include_heavy and j < 2 * heavy_sets:
        h, bnodes = divmod(j, 2)
        if bnodes:
            return f"https://synth.example.org/bnodes/{h}", _bnode_heavy_text()
        return f"https://synth.example.org/big/{h}", _big_page_text()
    return f"https://synth.example.org/page/{i:08d}", _filler_text(i)


def make_pages(
    spark: SparkSession,
    n_pages: int = 64,
    n_partitions: int = 8,
    include_broken: bool = True,
    include_heavy: bool = True,
    heavy_sets: int = 1,
) -> DataFrame:
    """Build the synthetic page table of ``n_pages`` rows: (optionally)
    one broken page for the quarantine path and ``heavy_sets``
    heavy-page pairs — a multi-MB doc and a bnode-dense doc each — then
    deterministic filler. Each row is built on the executors from its
    index, so no page text ships inside a task.

    ``heavy_sets`` exists for the weak-scaling bench: the big leg's
    corpus must be an exact k-fold multiple of the small leg's work,
    so a constant-size heavy tail would skew the per-core work ratio
    (~16% at the bench's corpus sizes) — the big leg passes
    heavy_sets=k to keep the legs proportional."""

    def per_row(i):
        url, text = _synthetic_doc(i, include_broken, include_heavy,
                                   heavy_sets)
        html = ('<html><body><script type="text/turtle">' + text
                + "</script></body></html>").encode("utf-8")
        return ((url, BASE_TS + timedelta(seconds=i), html, text,
                 LANGS[i % len(LANGS)]),)

    return row_stage(spark.range(n_pages, numPartitions=n_partitions),
                     ["id"], per_row, PAGE_SCHEMA)


def make_golden_triples(spark: SparkSession) -> DataFrame:
    """Expected triples per fixture url: the reference goldens parsed
    with the same grammar (the reference's own harness also re-parses
    its goldens — /root/reference/src/tests/mod.rs:40-48)."""
    from .grammar.turtle import parse_document
    from .schema import TRIPLE_SCHEMA

    rows = []
    for case, text in golden_texts().items():
        triples, err = parse_document(text)
        assert err is None, (case, err)
        url = fixture_url(case)
        rows.extend((url, *t) for t in triples)
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def make_alias_dict(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §4: deterministic alias -> entity_iri dictionary
    derived from the IRIs of the documents ``make_pages()`` emits at
    its defaults (broadcast side of entity linking), so ``page{i}``,
    ``alias{i}``, ``item{i}`` and the like occur in page text."""
    from .grammar.turtle import parse_document
    import re

    entities: dict[str, str] = {}
    for i in range(64):
        triples, err = parse_document(_synthetic_doc(i, True, True, 1)[1])
        if err:
            continue
        for s, s_kind, p, o, o_kind, o_dt, o_lang in triples:
            for term, kind in ((s, s_kind), (o, o_kind)):
                if kind != "iri":
                    continue
                m = re.search(r"[#/]([A-Za-z][A-Za-z0-9_-]{2,})$", term)
                if m:
                    entities.setdefault(m.group(1).lower(), term)
    rows = [
        (alias, iri, 1.0 / (1 + rank))
        for rank, (alias, iri) in enumerate(sorted(entities.items()))
    ]
    return spark.createDataFrame(rows, "alias string, entity_iri string, prior double")
