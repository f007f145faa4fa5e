"""JSON-LD island + RDFa-Lite extraction: expansion-rule unit tests
(pure Python, no Spark) and the Spark-stage contracts (schema parity
with the Turtle path, quarantine rows, single-scan union, pruning)."""

import pytest

from tortank_spark.extract import extract_triples
from tortank_spark.jsonld import (
    _Expander, expand_jsonld, extract_jsonld, find_islands, jsonld_triples)
from tortank_spark.microdata import extract_microdata
from tortank_spark.rdfa import extract_rdfa, extract_rdfa_triples

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


# ---------------------------------------------------------- JSON-LD unit

def test_jsonld_scalars_and_context():
    ts, err = expand_jsonld(
        '{"@context": {"ex": "http://e/", "@vocab": "http://v/"},'
        ' "@id": "http://s/1", "ex:i": 7, "f": 2.5, "b": false, "t": "x"}'
    )
    assert err is None
    assert set(ts) == {
        ("http://s/1", "iri", "http://e/i", "7", "literal",
         XSD + "integer", None),
        ("http://s/1", "iri", "http://v/f", "2.5", "literal",
         XSD + "double", None),
        ("http://s/1", "iri", "http://v/b", "false", "literal",
         XSD + "boolean", None),
        ("http://s/1", "iri", "http://v/t", "x", "literal",
         XSD + "string", None),
    }


def test_jsonld_value_objects_and_refs():
    ts, err = expand_jsonld(
        '{"@context": {"@vocab": "http://v/"}, "@id": "http://s/1",'
        ' "a": {"@value": "bonjour", "@language": "fr"},'
        ' "b": {"@value": "5", "@type": "http://dt/x"},'
        ' "c": {"@id": "http://o/2"},'
        ' "d": [{"@id": "_:z"}, "lit"]}'
    )
    assert err is None
    assert ("http://s/1", "iri", "http://v/a", "bonjour", "literal",
            None, "fr") in ts
    assert ("http://s/1", "iri", "http://v/b", "5", "literal",
            "http://dt/x", None) in ts
    assert ("http://s/1", "iri", "http://v/c", "http://o/2", "iri",
            None, None) in ts
    assert ("http://s/1", "iri", "http://v/d", "_:1", "bnode",
            None, None) in ts
    assert ("http://s/1", "iri", "http://v/d", "lit", "literal",
            XSD + "string", None) in ts


def test_jsonld_nested_bnodes_depth_first_counter():
    ts, err = expand_jsonld(
        '{"@context": {"@vocab": "http://v/"},'
        ' "x": {"y": {"z": "deep"}}, "w": {"k": "v"}}'
    )
    assert err is None
    labels = [t[0] for t in ts if t[1] == "bnode"]
    # root _:1, then x-child _:2, its y-child _:3, then w-child _:4
    assert ("_:3", "bnode", "http://v/z", "deep", "literal",
            XSD + "string", None) in ts
    assert ("_:2", "bnode", "http://v/y", "_:3", "bnode", None, None) in ts
    assert ("_:1", "bnode", "http://v/x", "_:2", "bnode", None, None) in ts
    assert ("_:1", "bnode", "http://v/w", "_:4", "bnode", None, None) in ts
    assert set(labels) == {"_:1", "_:2", "_:3", "_:4"}


def test_jsonld_counter_threads_across_islands():
    page = (
        '<script type="application/ld+json">'
        '{"@context":{"@vocab":"http://v/"},"a":{"k":"1"}}</script>'
        '<script type="application/ld+json">'
        '{"@context":{"@vocab":"http://v/"},"b":{"k":"2"}}</script>'
    )
    islands = find_islands(page)
    assert len(islands) == 2
    exp = _Expander("")
    for isl in islands:
        exp.island(isl)
    bnodes = {t[0] for t in exp.triples if t[1] == "bnode"}
    assert bnodes == {"_:1", "_:2", "_:3", "_:4"}  # no label reuse


def test_jsonld_graph_and_explicit_bnode_relabeling():
    ts, err = expand_jsonld(
        '{"@context": {"@vocab": "http://v/"}, "@graph": ['
        ' {"@id": "_:a", "p": {"@id": "_:b"}},'
        ' {"@id": "_:b", "q": "x"}]}'
    )
    assert err is None
    # _:a -> _:1, _:b -> _:2 consistently across the graph
    assert ("_:1", "bnode", "http://v/p", "_:2", "bnode", None, None) in ts
    assert ("_:2", "bnode", "http://v/q", "x", "literal",
            XSD + "string", None) in ts


@pytest.mark.parametrize("payload,frag", [
    ('{"@context": "http://schema.org"}', "remote @context"),
    ('{"@context": {"@vocab": "http://v/"}, "l": {"@list": [1]}}', "@list"),
    ("{broken", "invalid JSON"),
    ('"just a string"', "object or array"),
    ('{"@context": {"@vocab": "http://v/"}, '
     '"x": {"@value": "a", "@language": "en", "@type": "http://t/"}}',
     "exclusive"),
])
def test_jsonld_out_of_scope_quarantines(payload, frag):
    from tortank_spark.quarantine import attempt

    ts, err = expand_jsonld(payload)
    assert ts == [] and err is not None and frag in err
    # the same island on a page: a parse_error naming the island
    ts, q = attempt(jsonld_triples,
                    f'<script type="application/ld+json">{payload}</script>')
    assert ts == [] and q.reason == "parse_error"
    assert q.detail.startswith("island 0: ") and frag in q.detail


def test_jsonld_dropped_keys_and_null():
    ts, err = expand_jsonld('{"noctx": "dropped", "x": null}')
    assert err is None and ts == []


# ------------------------------------------------------------ RDFa unit

def test_rdfa_core_attribute_set():
    ts, err = extract_rdfa_triples(
        '<div vocab="http://s/" prefix="ex: http://e/">'
        '<section about="http://a/1" typeof="Thing">'
        '<span property="name">A  B</span>'
        '<meta property="ex:n" content="3" datatype="' + XSD + 'integer">'
        '<a property="url" href="http://a/home">h</a>'
        "</section></div>"
    )
    assert err is None
    assert set(ts) == {
        ("http://a/1", "iri", RDF_TYPE, "http://s/Thing", "iri",
         None, None),
        ("http://a/1", "iri", "http://s/name", "A B", "literal",
         XSD + "string", None),
        ("http://a/1", "iri", "http://e/n", "3", "literal",
         XSD + "integer", None),
        ("http://a/1", "iri", "http://s/url", "http://a/home", "iri",
         None, None),
    }


def test_rdfa_chaining_and_lang_inheritance():
    ts, err = extract_rdfa_triples(
        '<body lang="en" vocab="http://s/">'
        '<div about="http://a/1">'
        '<div property="child" typeof="Thing">'
        '<span property="k">v</span></div>'
        '<span property="plain" lang="">noLang</span>'
        "</div></body>"
    )
    assert err is None
    assert ("http://a/1", "iri", "http://s/child", "_:1", "bnode",
            None, None) in ts
    assert ("_:1", "bnode", RDF_TYPE, "http://s/Thing", "iri",
            None, None) in ts
    assert ("_:1", "bnode", "http://s/k", "v", "literal", None, "en") in ts
    # lang="" clears inheritance -> plain xsd:string
    assert ("http://a/1", "iri", "http://s/plain", "noLang", "literal",
            XSD + "string", None) in ts


def test_rdfa_typeof_without_about_mints_bnode():
    ts, err = extract_rdfa_triples(
        '<div vocab="http://s/" typeof="Org">'
        '<span property="name">Acme</span></div>'
    )
    assert err is None
    assert ("_:1", "bnode", RDF_TYPE, "http://s/Org", "iri",
            None, None) in ts
    assert ("_:1", "bnode", "http://s/name", "Acme", "literal",
            XSD + "string", None) in ts


def test_rdfa_bare_property_attribute_stays_absent():
    """RDFa's strict ``attr=value`` grammar: a bare ``property`` is not
    an attribute, so the ``typeof`` element still opens a typed blank
    node. The lenient microdata grammar would read it as an empty
    ``property`` and the element would open no subject at all."""
    ts, err = extract_rdfa_triples(
        '<div vocab="http://schema.org/" typeof="Person" property>'
        '<span property="name">Ann</span></div>'
    )
    assert err is None
    assert set(ts) == {
        ("_:1", "bnode", RDF_TYPE, "http://schema.org/Person", "iri",
         None, None),
        ("_:1", "bnode", "http://schema.org/name", "Ann", "literal",
         XSD + "string", None),
    }


def test_rdfa_never_raises_on_hostile_markup():
    for page in [
        "", "<p>plain</p>", "<div property='x'>no subject context",
        "<<<>>>", "<a href='http://x/'>no property</a>",
        '<script>var s = "<span property=\'nope\'>";</script>',
        "<div vocab='http://s/'><span property='p'>unclosed",
        "\x00binary\xff<junk", "<meta property>",
    ]:
        ts, err = extract_rdfa_triples(page)
        assert err is None
        assert all(len(t) == 7 for t in ts)
        # raw-text script payloads never contribute
        assert all("nope" not in (t[2] or "") for t in ts)


def test_rdfa_unclosed_property_literal_closes_at_eof():
    ts, err = extract_rdfa_triples(
        '<div about="http://a/1" vocab="http://s/">'
        '<span property="p">tail text'
    )
    assert ("http://a/1", "iri", "http://s/p", "tail text", "literal",
            XSD + "string", None) in ts


# ----------------------------------------------------------- Spark stage

@pytest.fixture(scope="module")
def mixed_pages(spark):
    rows = [
        ("u:t", '@prefix ex: <http://e/> . ex:a ex:name "T" ; '
                'ex:k [ ex:v "w" ] .'),
        ("u:j", '<html><script type="application/ld+json">'
                '{"@context":{"@vocab":"http://v/"},'
                '"@id":"http://j/1","k":"v","n":{"m":"w"}}</script></html>'),
        ("u:r", '<div vocab="http://s/" about="http://r/1">'
                '<span property="name">R</span>'
                '<div property="contact" typeof="ContactPoint">'
                '<span property="tel">1</span></div></div>'),
        ("u:m", '<div itemscope itemtype="http://schema.org/Person" '
                'itemid="http://m/1"><span itemprop="name">M</span>'
                '<div itemprop="knows" itemscope '
                'itemtype="http://schema.org/Person">'
                '<span itemprop="name">K</span></div></div>'),
        ("u:bad", '<script type="application/ld+json">{nope</script>'),
        # deeper than the parser's recursion: a quarantine row, not a
        # failed job
        ("u:deep", "@prefix ex: <http://e/> . ex:a ex:p "
                   + "[ ex:p " * 400 + "ex:o" + " ]" * 400 + " ."),
    ]
    return spark.createDataFrame(rows, ["url", "text"])


# every page extractor runs in extract.doc_stage: (extractor, the page
# in its syntax, a subject of that page, the quarantine reason of a
# page in another syntax (None: a parse_ok status row), the reason and
# detail fragment u:bad gets)
STAGES = [
    (extract_triples, "u:t", "http://e/a", "parse_error",
     ("parse_error", "could not parse the doc completely")),
    (extract_jsonld, "u:j", "http://j/1", "no_markup",
     ("parse_error", "island 0: invalid JSON")),
    (extract_rdfa, "u:r", "http://r/1", None, (None, None)),
    (extract_microdata, "u:m", "http://m/1", None, (None, None)),
]
STAGE_IDS = [c[0].__name__ for c in STAGES]


@pytest.mark.parametrize(
    "extract, page, subject, foreign_reason, bad", STAGES, ids=STAGE_IDS)
def test_extract_stage_schema_and_quarantine(
        spark, mixed_pages, extract, page, subject, foreign_reason, bad):
    from tortank_spark.schema import EXTRACT_SCHEMA

    ext = extract(mixed_pages, fixture_mode=True)
    assert ext.schema == EXTRACT_SCHEMA
    rows = ext.collect()
    own = [r for r in rows if r["url"] == page]
    assert own and all(r["parse_ok"] and r["reason"] is None
                       and r["detail"] is None for r in own)
    assert subject in {r["s"] for r in own}
    # the page fields sit on exactly one of the page's rows
    assert [r["n_triples"] for r in own if r["n_triples"] is not None] \
        == [len(own)]
    # every other page is exactly one status row, not a job failure
    bad_reason, bad_frag = bad
    want = {"u:bad": bad_reason}
    if extract is extract_triples:
        want["u:deep"] = "nesting_too_deep"
    for url in {r["url"] for r in rows} - {page}:
        (q,) = [r for r in rows if r["url"] == url]
        assert q["s"] is None and q["p"] is None and q["o"] is None
        reason = want.get(url, foreign_reason)
        assert q["n_triples"] == 0
        assert q["parse_ok"] == (reason is None)
        assert q["reason"] == reason
        assert (q["detail"] is None) == (reason is None)
        if url == "u:bad" and bad_frag is not None:
            assert bad_frag in q["detail"]
    if extract is extract_triples:
        (deep,) = [r for r in rows if r["url"] == "u:deep"]
        assert deep["detail"] == "nesting too deep"


@pytest.mark.parametrize(
    "extract, page", [c[:2] for c in STAGES], ids=STAGE_IDS)
def test_extract_salts_bnodes_per_url(spark, mixed_pages, extract, page):
    import hashlib

    salt = hashlib.sha1(page.encode()).hexdigest()[:12] + "-"

    def rows(fixture_mode):
        return extract(mixed_pages, fixture_mode=fixture_mode).filter(
            f"url = '{page}'").collect()

    def unsalt(r):
        return tuple(v.replace("_:" + salt, "_:") if isinstance(v, str)
                     else v for v in r)

    plain, salted = rows(True), rows(False)
    bn = [r["o"] for r in salted if r["o_kind"] == "bnode"]
    assert bn and all(b.startswith("_:" + salt) for b in bn)
    assert "_:" + salt + "1" in bn  # sha1(url)[:12] + "-" + counter
    # salting renames labels and changes nothing else
    assert sorted(map(unsalt, salted)) == sorted(map(tuple, plain))


def test_extract_embedded_single_scan_and_tags(spark, mixed_pages):
    from tortank_spark.extract import extract_embedded

    out = extract_embedded(mixed_pages, fixture_mode=True)
    rows = out.collect()
    by_syntax = {}
    for r in rows:
        by_syntax.setdefault(r["syntax"], set()).add(r["url"])
    assert by_syntax["turtle"] == {"u:t"}
    assert by_syntax["jsonld"] == {"u:j"}
    assert by_syntax["rdfa"] == {"u:r"}
    assert by_syntax["microdata"] == {"u:m"}
    # ONE scan of the page table: one doc_stage runs all four parsers
    from tests.test_plans import plan_of
    from tortank_spark.schema import TRIPLE_FIELDS

    assert out.columns == ["syntax"] + [f.name for f in TRIPLE_FIELDS]
    plan = plan_of(out)
    tree = plan.split("\n\n")[0]
    assert sum("Scan" in ln for ln in tree.splitlines()) == 1
    assert sum("MapInArrow" in ln for ln in tree.splitlines()) == 1
    assert "Exchange" not in plan and "Union" not in plan


def test_extract_embedded_prunes_to_url_text(spark, tmp_path):
    from tortank_spark import fixtures
    from tortank_spark.extract import extract_embedded
    from tests.test_plans import plan_of

    p = str(tmp_path / "pages")
    fixtures.make_pages(spark, n_pages=8, n_partitions=1,
                        include_broken=False).write.parquet(p)
    plan = plan_of(extract_embedded(spark.read.parquet(p)))
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "url" in read_schema and "text" in read_schema
    assert "html" not in read_schema and "warc_ts" not in read_schema


# ------------------------------------------------------- microdata unit

def test_microdata_core_model():
    from tortank_spark.microdata import extract_microdata_triples

    ts, err = extract_microdata_triples(
        '<div itemscope itemtype="http://schema.org/Person" '
        'itemid="http://e/p/1">'
        '<span itemprop="name">A  B</span>'
        '<meta itemprop="age" content="36">'
        '<a itemprop="url" href="http://e/h">h</a>'
        '<time itemprop="born" datetime="1815-12-10">Dec</time>'
        "</div>"
    )
    assert err is None
    assert set(ts) == {
        ("http://e/p/1", "iri", RDF_TYPE, "http://schema.org/Person",
         "iri", None, None),
        ("http://e/p/1", "iri", "http://schema.org/name", "A B",
         "literal", XSD + "string", None),
        ("http://e/p/1", "iri", "http://schema.org/age", "36",
         "literal", XSD + "string", None),
        ("http://e/p/1", "iri", "http://schema.org/url", "http://e/h",
         "iri", None, None),
        ("http://e/p/1", "iri", "http://schema.org/born", "1815-12-10",
         "literal", XSD + "string", None),
    }


def test_microdata_chaining_and_vocab_scoping():
    from tortank_spark.microdata import extract_microdata_triples

    ts, err = extract_microdata_triples(
        '<div itemscope itemtype="http://schema.org/Product">'
        '<div itemprop="brand" itemscope '
        'itemtype="http://other.org/ns#Brand">'
        '<span itemprop="label">Acme</span></div>'
        '<span itemprop="name">W</span></div>'
    )
    assert err is None
    # nested item's props resolve against ITS vocab (http://other.org/ns#),
    # outer item's against schema.org; chaining edge connects them
    assert ("_:1", "bnode", "http://schema.org/brand", "_:2", "bnode",
            None, None) in ts
    assert ("_:2", "bnode", "http://other.org/ns#label", "Acme",
            "literal", XSD + "string", None) in ts
    assert ("_:1", "bnode", "http://schema.org/name", "W", "literal",
            XSD + "string", None) in ts


def test_microdata_untyped_item_drops_short_props():
    from tortank_spark.microdata import extract_microdata_triples

    ts, err = extract_microdata_triples(
        '<div itemscope><span itemprop="name">dropped</span>'
        '<span itemprop="http://abs/p">kept</span></div>'
    )
    assert err is None
    assert ts == [("_:1", "bnode", "http://abs/p", "kept", "literal",
                   XSD + "string", None)]


def test_microdata_orphan_itemprop_and_hostile_markup():
    from tortank_spark.microdata import extract_microdata_triples

    for page in ["<span itemprop='name'>no item</span>", "", "<<<",
                 "<div itemscope itemtype='notaniri'>"
                 "<span itemprop='x'>y</span></div>"]:
        ts, err = extract_microdata_triples(page)
        assert err is None and ts == []


def test_extract_embedded_includes_microdata(spark):
    from tortank_spark.extract import extract_embedded

    pages = spark.createDataFrame(
        [("u:m", '<div itemscope itemtype="http://schema.org/Thing">'
                 '<span itemprop="name">M</span></div>')],
        ["url", "text"])
    rows = extract_embedded(pages, fixture_mode=True).collect()
    assert {r["syntax"] for r in rows} == {"microdata"}
    assert {r["o"] for r in rows} == {"http://schema.org/Thing", "M"}


# ------------------------------------------------------------- weblinks

def test_resolve_href_forms():
    from tortank_spark.weblinks import resolve_href

    base = "https://h.example/d/p.html"
    assert resolve_href(base, "http://x/y") == "http://x/y"
    assert resolve_href(base, "/a/b") == "https://h.example/a/b"
    assert resolve_href(base, "c.html") == "https://h.example/c.html"
    assert resolve_href(base, "//cdn/x") == "https://cdn/x"
    for bad in ["#f", "javascript:void(0)", "mailto:a@b", "", "  "]:
        assert resolve_href(base, bad) is None


def test_extract_page_links_anchors_and_raw_text():
    from tortank_spark.weblinks import extract_page_links

    rows = extract_page_links(
        "http://s.example/p",
        '<a href="http://a/1">one <b>bold</b></a>'
        '<a href="http://b/2" rel="nofollow"></a>'
        '<script>var x = \'<a href="http://evil/">x</a>\';</script>',
    )
    assert rows == [
        ("http://s.example/p", "http://a/1", None, "one bold"),
        ("http://s.example/p", "http://b/2", "nofollow", ""),
    ]


def test_host_link_graph_rollup_and_self_exclusion(spark):
    from tortank_spark.weblinks import host_link_graph

    links = spark.createDataFrame(
        [("http://a.com/p1", "http://b.com/x", None, ""),
         ("http://a.com/p1", "http://b.com/y", None, ""),
         ("http://a.com/p2", "http://b.com/x", None, ""),
         ("http://a.com/p1", "http://a.com/self", None, "")],
        "url string, href string, rel string, anchor string")
    got = {(r["src_host"], r["dst_host"], r["n_links"], r["n_pages"])
           for r in host_link_graph(links).collect()}
    assert got == {("a.com", "b.com", 3, 2)}
    with_self = host_link_graph(links, include_self=True)
    assert with_self.count() == 2


def test_anchor_alias_candidates_rollup(spark):
    from tortank_spark.weblinks import anchor_alias_candidates

    links = spark.createDataFrame(
        [("http://a.com/1", "http://t.com/x", None, "Target  Page"),
         ("http://a.com/2", "http://t.com/x", None, "target page"),
         ("http://b.com/1", "http://t.com/x", None, "Target Page"),
         ("http://b.com/2", "http://t.com/x", "nofollow", "target page"),
         ("http://a.com/1", "http://t.com/x", None, ""),
         ("http://a.com/1", "http://t.com/y", None, "once")],
        "url string, href string, rel string, anchor string")
    got = {(r["alias"], r["dst"], r["n_links"], r["n_hosts"])
           for r in anchor_alias_candidates(links, min_count=2).collect()}
    # case/ws-normalized merge; nofollow + empty + singleton dropped
    assert got == {("target page", "http://t.com/x", 3, 2)}


def test_extract_embedded_equals_standalone_union(spark):
    """CONSISTENCY PROPERTY: the fused single-scan dispatcher must
    emit exactly the union of the four standalone extractors' good
    triples on every page — pages with multiple syntaxes, quarantining
    islands, and pages with nothing at all."""
    from tortank_spark.extract import (
        extract_embedded, extract_triples, triples_only)
    from tortank_spark.jsonld import extract_jsonld
    from tortank_spark.microdata import extract_microdata
    from tortank_spark.rdfa import extract_rdfa

    rows = [
        # one page carrying THREE syntaxes at once
        ("u:multi",
         '<div vocab="http://s/" about="http://r/1">'
         '<span property="name">R</span></div>'
         '<script type="application/ld+json">'
         '{"@context":{"@vocab":"http://v/"},"@id":"http://j/1",'
         '"k":{"m":"w"}}</script>'
         '<div itemscope itemtype="http://s/T">'
         '<span itemprop="name">M</span></div>'),
        ("u:turtle", '@prefix e: <http://e/> . e:a e:b "x" ; e:c [ e:d 1 ] .'),
        ("u:badjson", '<script type="application/ld+json">{x</script>'),
        ("u:empty", ""),
        ("u:plain", "<p>nothing here</p>"),
    ]
    pages = spark.createDataFrame(rows, ["url", "text"])
    fused = {
        (r["syntax"], r["url"], r["s"], r["s_kind"], r["p"], r["o"],
         r["o_kind"], r["o_datatype"], r["o_lang"])
        for r in extract_embedded(pages, fixture_mode=True).collect()
    }

    def good(df, syntax):
        return {
            (syntax, r["url"], r["s"], r["s_kind"], r["p"], r["o"],
             r["o_kind"], r["o_datatype"], r["o_lang"])
            for r in df.filter("parse_ok AND s IS NOT NULL").collect()
        }

    standalone = (
        good(extract_triples(pages, fixture_mode=True), "turtle")
        | good(extract_jsonld(pages, fixture_mode=True), "jsonld")
        | good(extract_rdfa(pages, fixture_mode=True), "rdfa")
        | good(extract_microdata(pages, fixture_mode=True), "microdata")
    )
    assert fused == standalone
    # and the multi-syntax page contributed under all three syntaxes
    multi = {t[0] for t in fused if t[1] == "u:multi"}
    assert multi == {"rdfa", "jsonld", "microdata"}


def test_embedded_extractors_never_raise_fuzz():
    """Property: every embedded-markup entry point returns a
    well-shaped (triples, err) on ARBITRARY text — crawl input is
    hostile by default, and a parser that raises loses the page (or
    the task). Pure Python, no Spark."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tortank_spark.jsonld import expand_jsonld, find_islands
    from tortank_spark.microdata import extract_microdata_triples
    from tortank_spark.rdfa import extract_rdfa_triples
    from tortank_spark.weblinks import extract_page_links

    markupish = st.text(
        alphabet=st.sampled_from(
            list("<>/=\"' \t\n\rabcdiv:.#@{}[],-_!;  \U0001f600")
        ),
        max_size=400,
    )

    @settings(max_examples=300, deadline=None)
    @given(markupish)
    def check(text):
        for fn in (extract_rdfa_triples, extract_microdata_triples):
            ts, err = fn(text)
            assert err is None
            assert all(len(t) == 7 for t in ts)
        ts, err = expand_jsonld(text)
        assert isinstance(ts, list)
        assert (err is None) or isinstance(err, str)
        find_islands(text)
        links = extract_page_links("http://h.example/p", text)
        assert all(len(r) == 4 for r in links)

    check()


def test_rdfa_resource_with_typeof_chains_subject():
    """property + resource + typeof: the IRI object is emitted on the
    parent subject, gets the rdf:type, and becomes the subject for
    descendants (RDFa chaining through an explicit resource)."""
    ts, err = extract_rdfa_triples(
        '<div vocab="http://s/" about="http://a/1">'
        '<div property="knows" resource="http://a/2" typeof="Person">'
        '<span property="name">B</span></div></div>'
    )
    assert err is None
    assert set(ts) == {
        ("http://a/1", "iri", "http://s/knows", "http://a/2", "iri",
         None, None),
        ("http://a/2", "iri", RDF_TYPE, "http://s/Person", "iri",
         None, None),
        ("http://a/2", "iri", "http://s/name", "B", "literal",
         XSD + "string", None),
    }


def test_robots_filter_longest_match_and_defaults(spark):
    from tortank_spark.weburl import robots_filter

    urls = spark.createDataFrame(
        [("http://a.com/p/1",), ("http://a.com/p/12/x",),
         ("http://a.com/other",), ("http://norules.com/x",),
         ("http://a.com/p/1",)],  # duplicate row must survive
        "url string")
    rules = spark.createDataFrame(
        [("a.com", "/", True), ("a.com", "/p/1", False),
         ("a.com", "/p/12", True)],
        "host string, path_prefix string, allow boolean")
    rows = robots_filter(urls, rules).collect()
    got = sorted((r["url"], r["rule_path"], r["allowed"]) for r in rows)
    assert got == [
        ("http://a.com/other", "/", True),
        ("http://a.com/p/1", "/p/1", False),
        ("http://a.com/p/1", "/p/1", False),       # duplicate kept
        ("http://a.com/p/12/x", "/p/12", True),    # longer Allow wins
        ("http://norules.com/x", None, True),      # no rules: allowed
    ]


def test_rdfa_about_with_property_on_same_element():
    """@about + @property on ONE element: RDFa Core resolves the new
    subject to @about and the property attaches to IT, not to the
    parent's subject; @typeof types the @about subject too (no
    chaining when @about is present)."""
    ts, err = extract_rdfa_triples(
        '<div vocab="http://s/" about="http://outer/1">'
        '<div about="http://inner/2" property="name" typeof="Thing">'
        "Inner Name</div></div>"
    )
    assert err is None
    assert set(ts) == {
        ("http://inner/2", "iri", "http://s/name", "Inner Name",
         "literal", XSD + "string", None),
        ("http://inner/2", "iri", RDF_TYPE, "http://s/Thing", "iri",
         None, None),
    }
    ts2, err2 = extract_rdfa_triples(
        '<div vocab="http://s/" about="http://outer/1">'
        '<meta about="http://inner/2" property="p" content="v">'
        "</div>"
    )
    assert err2 is None
    assert ("http://inner/2", "iri", "http://s/p", "v", "literal",
            XSD + "string", None) in ts2


def test_embedded_dispatch_guards_are_conservative(spark):
    """The fused extractor's substring dispatch guards must never drop
    a syntax that would have emitted: pages with unusual but valid
    casing/spacing for each trigger still extract, and a page with no
    trigger tokens yields the same (empty) result as running every
    scanner."""
    from tortank_spark.extract import extract_embedded

    pages = spark.createDataFrame(
        [
            # JSON-LD island with upper-cased type attribute value
            ("u1", '<html><head><script TYPE="APPLICATION/LD+JSON">'
                   '{"@context": {"@vocab": "http://e.org/"}, '
                   '"@id": "http://e.org/x", "name": "n"}'
                   '</script></head></html>'),
            # RDFa with PROPERTY upper-cased in the markup (attr names
            # are lowercased by the scanner; the guard must not drop
            # the page just because the markup isn't lowercase)
            ("u2", '<html><body vocab="http://e.org/">'
                   '<div about="http://e.org/s">'
                   '<span PROPERTY="name">v</span></div></body></html>'),
            # microdata with mixed-case ItemScope/ItemProp
            ("u3", '<div ItemScope itemtype="http://e.org/T">'
                   '<span ItemProp="name">v</span></div>'),
            # no trigger token at all -> nothing emitted, no error
            ("u4", "<html><body>plain page</body></html>"),
        ],
        "url string, text string",
    )
    got = extract_embedded(pages, fixture_mode=True).collect()
    by_url = {}
    for r in got:
        by_url.setdefault(r.url, []).append(r)
    assert any(r.syntax == "jsonld" for r in by_url.get("u1", []))
    assert any(r.syntax == "rdfa" for r in by_url.get("u2", []))
    assert any(r.syntax == "microdata" for r in by_url.get("u3", []))
    assert "u4" not in by_url
