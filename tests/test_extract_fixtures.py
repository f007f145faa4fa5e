"""End-to-end extraction gate: pages -> mapInArrow parse -> triples,
compared against the reference goldens with the reference's own
set-difference semantics (P/R must be 1.0 on the fixture corpus). The
parity tests need the reference corpus; the rest run on the synthetic
page table. The byte-identical text passthrough invariant from
BASELINE.json is checked here on the text every extractor is handed,
and on the landed page table in test_pipeline."""

import hashlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType, IntegerType, StringType, StructField, StructType,
)

from tortank_spark import fixtures
from tortank_spark.fixtures import REF_FIXTURE_DIR
from tortank_spark.compare import pr_overall, pr_per_url
from tortank_spark.extract import doc_stage, extract_triples, triples_only


@pytest.mark.needs_reference
def test_fixture_pr_is_perfect(spark):
    pages = spark.createDataFrame(
        [(fixtures.fixture_url(c), t) for c, t in fixtures.fixture_texts().items()],
        "url string, text string",
    )
    eq_urls = [fixtures.fixture_url(c) for c in fixtures.EQ_CASES]
    got = triples_only(
        extract_triples(pages.filter(F.col("url").isin(eq_urls)),
                        fixture_mode=True)
    )
    want = fixtures.make_golden_triples(spark).filter(
        F.col("url").isin(eq_urls)
    )
    stats = pr_overall(got, want)
    assert stats["precision"] == 1.0 and stats["recall"] == 1.0, stats
    # per-url too: every fixture doc must be perfect individually
    bad = (
        pr_per_url(got, want)
        .filter((F.col("precision") < 1.0) | (F.col("recall") < 1.0))
        .collect()
    )
    assert not bad, bad


@pytest.mark.needs_reference
def test_diff_cases_via_difference_operator(spark):
    """DIFF fixtures 0004/0005: input - diff == output, exercised through
    the Spark tt_difference operator (reference harness:
    /root/reference/src/tests/mod.rs:49-61)."""
    from tortank_spark.algebra import tt_difference
    from tortank_spark.schema import TRIPLE_SCHEMA
    from tortank_spark.grammar import parse_document

    for case in fixtures.DIFF_CASES:
        def load(sub):
            text = (REF_FIXTURE_DIR / sub / f"{case}.ttl").read_text()
            triples, err = parse_document(text)
            assert err is None
            return spark.createDataFrame(
                [(case, *t) for t in triples], TRIPLE_SCHEMA
            )

        inp, dif, out = load("input"), load("diff"), load("output")
        got = tt_difference(inp, dif)
        assert got.count() == out.count()
        assert tt_difference(got, out).count() == 0
        assert tt_difference(out, got).count() == 0


def test_broken_page_quarantined_not_fatal(spark):
    pages = fixtures.make_pages(spark, n_pages=36, include_broken=True)
    extracted = extract_triples(pages)
    bad = extracted.filter(~F.col("parse_ok")).collect()
    assert len(bad) == 1
    assert bad[0]["url"] == "https://synth.example.org/broken/0"
    assert bad[0]["error"]
    # good rows unaffected
    assert triples_only(extracted).count() > 0


def test_text_byte_fidelity_per_url(spark):
    """BASELINE.json input_hint: extracted text byte-identical per url.
    The extraction stage hands every per-doc parser the page text
    unchanged: a witness parser run through ``doc_stage`` reports the
    sha1 and length of what it received, which must match a driver-side
    recomputation."""
    pages = fixtures.make_pages(spark, n_pages=40)

    def witness(text, _prefix):
        sha = hashlib.sha1(text.encode("utf-8")).hexdigest()
        return [(sha, len(text))], None

    schema = StructType([
        StructField("url", StringType()),
        StructField("text_sha1", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("parse_ok", BooleanType()),
        StructField("error", StringType()),
    ])
    got = {r["url"]: r for r in
           doc_stage(pages, witness, schema, salt=True).collect()}
    want = pages.select("url", "text").collect()
    assert len(got) == len(want)
    for url, text in want:
        assert got[url]["text_sha1"] == hashlib.sha1(
            text.encode("utf-8")).hexdigest()
        assert got[url]["n_chars"] == len(text)
        assert got[url]["parse_ok"]


def test_salted_bnode_labels_globally_unique(spark):
    """Production mode salts labels by url hash: no bnode label may
    collide across documents (10^12-doc requirement scaled down)."""
    pages = fixtures.make_pages(spark, n_pages=40, include_broken=False)
    got = triples_only(extract_triples(pages, fixture_mode=False))
    bn = got.filter(F.col("s_kind") == "bnode").select(
        F.col("s").alias("label"), "url"
    ).union(
        got.filter(F.col("o_kind") == "bnode").select(
            F.col("o").alias("label"), "url"
        )
    )
    dup = (
        bn.distinct()
        .groupBy("label")
        .agg(F.countDistinct("url").alias("n_urls"))
        .filter(F.col("n_urls") > 1)
        .count()
    )
    assert dup == 0


@pytest.mark.needs_reference
def test_query_uuid_real_fixture(spark):
    """Reference tests/query.rs:6-35 on the real-world query fixture
    (examples/turtle_doc/query/complemented.ttl): pattern filter on
    (subject, uuid-predicate) returns exactly the one quoted literal."""
    import pyspark.sql.functions as F

    from tortank_spark.algebra import pattern_filter
    from tortank_spark.extract import doc_stage, extract_triples, triples_only

    text = (REF_FIXTURE_DIR / "query" / "complemented.ttl").read_text(
        encoding="utf-8")
    pages = spark.createDataFrame([("q", text)], "url string, text string")
    t = triples_only(extract_triples(pages, fixture_mode=True))
    got = pattern_filter(
        t,
        s="http://data.lblod.info/id/zittingen/65F2D12B8426B6E4C5562BA4",
        p="http://mu.semte.ch/vocabularies/core/uuid",
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["o"] == "019695f939b37cb2a025d0286331d05a"
    assert r["o_kind"] == "literal"
    assert r["o_datatype"] == "http://www.w3.org/2001/XMLSchema#string"
    assert r["o_lang"] is None


@pytest.mark.needs_reference
def test_render_roundtrip_real_fixture():
    """Semantic round trip on the real-world fixture: our Display
    rendering of the parsed doc re-parses to the identical triple set
    (the file itself mixes long-quoted strings, lang tags and typed
    dateTimes)."""
    from tortank_spark.grammar.turtle import parse_document

    text = (REF_FIXTURE_DIR / "query" / "complemented.ttl").read_text(
        encoding="utf-8")
    triples, err = parse_document(text)
    assert err is None and len(triples) > 20

    # render with the same rules as serialize.ntriples_line
    import re

    def render(t):
        s, sk, p, o, ok, dt, lg = t
        sS = f"<{s}>" if sk == "iri" else s
        if ok == "iri":
            oS = f"<{o}>"
        elif ok == "bnode":
            oS = o
        else:
            native = dt in {
                "http://www.w3.org/2001/XMLSchema#integer",
                "http://www.w3.org/2001/XMLSchema#decimal",
                "http://www.w3.org/2001/XMLSchema#double",
                "http://www.w3.org/2001/XMLSchema#boolean",
            } or (
                dt == "http://www.w3.org/2001/XMLSchema#dateTime"
                and re.match(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z$", o)
            ) or (
                dt == "http://www.w3.org/2001/XMLSchema#date"
                and re.match(r"^\d{4}-\d{2}-\d{2}$", o)
            )
            if native:
                oS = f'"{o}"^^<{dt}>'
            else:
                q = "'''" if (o.endswith('"') or '"""' in o) else '"""'
                oS = f"{q}{o}{q}"
                if dt:
                    oS += f"^^<{dt}>"
                elif lg:
                    oS += f"@{lg}"
        return f"{sS} <{p}> {oS}."

    rendered = "\n".join(render(t) for t in triples)
    back, err2 = parse_document(rendered)
    assert err2 is None
    assert set(back) == set(triples)
