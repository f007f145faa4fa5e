"""The quarantine contract: no single page fails a job. One table of
hostile pages runs through every per-document stage; each page is one
lineage row whose reason comes from the closed ``quarantine.REASONS``
set, and the good pages' triples come through untouched."""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from tortank_spark.extract import (
    doc_lineage, doc_stage, embedded_triples, extract_embedded,
    extract_triples)
from tortank_spark.jsonld import extract_jsonld
from tortank_spark.microdata import extract_microdata
from tortank_spark.pipeline import run_pipeline
from tortank_spark.quarantine import MAX_PAGE_BYTES, REASONS
from tortank_spark.rdfa import extract_rdfa
from tortank_spark.schema import EXTRACT_SCHEMA, TRIPLE_COLS
from tortank_spark.sources.ntriples import parse_ntriples_lines

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
ISLAND = '<script type="application/ld+json">{}</script>'
# json.loads raises RecursionError on it: 2,044 bytes
DEEP_JSONLD = ISLAND.format("[" * 1000 + "]" * 1000)

HOSTILE = {
    "deep_jsonld": DEEP_JSONLD,
    # a lone surrogate escape: json.loads yields a str no UTF-8 column holds
    "surrogate": ISLAND.format('{"@id": "http://h/s", "http://h/p": '
                               '"\\ud800"}'),
    "too_large": "",  # filled in Spark: MAX_PAGE_BYTES + 1 bytes
    "deep_html": "<div>" * 2000 + "</div>" * 2000,
    "deep_itemscope": ('<div itemscope itemtype="http://s/T">' * 2000
                       + "</div>" * 2000),
    "deep_rdfa": '<div vocab="http://s/" typeof="T">' * 2000 + "</div>" * 2000,
    "nul_literal": '<http://g/n> <http://g/p> "a\x00b" .',
    "long_quote": '<http://g/l> <http://g/p> """' + "a" * 200_000,
    "deep_turtle": ("@prefix : <http://e/> . :a :p " + "[ :p " * 5000 + ":o"
                    + " ]" * 5000 + " ."),
    "bad_utf8": "",  # filled in Spark: 0xff cast from binary to string
}
GOOD = {
    "good_turtle": '<http://g/t> <http://g/p> "t" .',
    "good_jsonld": ISLAND.format('{"@id": "http://g/j", "http://g/p": "j"}'),
    "good_rdfa": ('<div about="http://g/r"><span property="http://g/p">r'
                  "</span></div>"),
    "good_microdata": ('<div itemscope itemid="http://g/m">'
                       '<span itemprop="http://g/p">m</span></div>'),
}


def _triple(s, o):
    return (s, "iri", "http://g/p", o, "literal", XSD_STRING, None)


# the triples each page that parses in some syntax asserts there
GOOD_TRIPLES = {
    "good_turtle": {_triple("http://g/t", "t")},
    "nul_literal": {_triple("http://g/n", "a\x00b")},
    "good_jsonld": {_triple("http://g/j", "j")},
    "good_rdfa": {_triple("http://g/r", "r")},
    "good_microdata": {_triple("http://g/m", "m")},
}


def good(*names):
    return {n: GOOD_TRIPLES[n] for n in names}


@pytest.fixture(scope="module")
def hostile_pages(spark):
    rows = [(f"u:{k}", v) for k, v in {**HOSTILE, **GOOD}.items()]
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.when(F.col("url") == "u:too_large",
               F.repeat(F.lit("x"), MAX_PAGE_BYTES + 1))
        .when(F.col("url") == "u:bad_utf8",
              F.unhex(F.lit("3c703eff3c2f703e")).cast("string"))
        .otherwise(F.col("text")).alias("text"),
    ).persist()
    yield pages
    pages.unpersist()


# stage -> (its extraction rows of a page table, pages per reason
# (None: parsed), the pages whose triples come through)
TURTLE_FAILS = {"parse_error": 9, "nesting_too_deep": 1, "too_large": 1,
                "bad_encoding": 1, None: 2}
SCANNER_FAILS = {"too_large": 1, "bad_encoding": 1, None: 12}
STAGES = {
    "extract_triples": (
        lambda p: extract_triples(p, fixture_mode=True), TURTLE_FAILS,
        good("good_turtle", "nul_literal")),
    "parse_ntriples_lines": (parse_ntriples_lines, TURTLE_FAILS,
                             good("good_turtle", "nul_literal")),
    "extract_jsonld": (
        lambda p: extract_jsonld(p, fixture_mode=True),
        {"no_markup": 9, "nesting_too_deep": 1, "bad_encoding": 2,
         "too_large": 1, None: 1},
        good("good_jsonld")),
    "extract_rdfa": (
        lambda p: extract_rdfa(p, fixture_mode=True), SCANNER_FAILS,
        good("good_rdfa")),
    "extract_microdata": (
        lambda p: extract_microdata(p, fixture_mode=True), SCANNER_FAILS,
        good("good_microdata")),
    # the pipeline's embedded stage: a syntax fails alone, the page only
    # on the byte budget or its encoding
    "embedded_triples": (
        lambda p: doc_stage(p, embedded_triples, EXTRACT_SCHEMA, salt=False),
        SCANNER_FAILS, GOOD_TRIPLES),
}


@pytest.mark.parametrize("stage", list(STAGES))
def test_hostile_pages_quarantine_with_exact_reasons(
        spark, hostile_pages, stage):
    run, want_reasons, want_triples = STAGES[stage]
    ext = run(hostile_pages).persist()
    lineage = doc_lineage(ext).collect()
    assert sorted(r["url"] for r in lineage) == sorted(
        f"u:{k}" for k in {**HOSTILE, **GOOD})
    got = Counter(r["reason"] for r in lineage)
    assert got == Counter(want_reasons), got
    assert set(got) <= {*REASONS, None} and got["internal_error"] == 0
    for r in lineage:
        assert r["parse_ok"] == (r["reason"] is None)
        assert (r["detail"] is None) == (r["reason"] is None)
    triples = ext.filter("parse_ok AND s IS NOT NULL").select(
        "url", *TRIPLE_COLS).collect()
    n = {r["url"]: r["n_triples"] for r in lineage}
    by_url = {}
    for r in triples:
        by_url.setdefault(r["url"][2:], set()).add(tuple(r)[1:])
    for name, ts in want_triples.items():
        assert by_url[name] == ts and n[f"u:{name}"] == len(ts)
    # every row a page yields is counted on its lineage row
    assert sum(n.values()) == len(triples)
    ext.unpersist()


def test_extract_embedded_over_hostile_pages(spark, hostile_pages):
    got = Counter(r["syntax"] for r in
                  extract_embedded(hostile_pages, fixture_mode=True)
                  .select("syntax").collect())
    # one triple per good page and the NUL literal, plus the rdf:type of
    # each of the 2,000 nested items
    assert got == {"turtle": 2, "jsonld": 1, "rdfa": 2001,
                   "microdata": 2001}


@pytest.mark.parametrize("mode, lineage", [
    ("turtle", (False, "parse_error", 0)),
    ("embedded", (True, None, 0)),
])
def test_pipeline_finishes_with_deep_jsonld_page(spark, tmp_path, mode,
                                                 lineage):
    from test_pipeline import assert_manifests_match_lineage

    pages = spark.createDataFrame(
        [("u:good", GOOD["good_turtle"]), ("u:deep", DEEP_JSONLD)],
        "url string, text string")
    out = str(tmp_path / mode)
    stats = run_pipeline(spark, pages, out, n_buckets=2, syntax_mode=mode)
    assert stats["n_canonical_triples"] == 1
    rows = {r["url"]: r for r in
            spark.read.parquet(f"{out}/bucket=*/lineage").collect()}
    assert set(rows) == {"u:good", "u:deep"}
    deep = rows["u:deep"]
    assert (deep["parse_ok"], deep["reason"], deep["n_triples"]) == lineage
    good_row = rows["u:good"]
    assert (good_row["parse_ok"], good_row["reason"],
            good_row["n_triples"]) == (True, None, 1)
    assert_manifests_match_lineage(spark, out, 2)
