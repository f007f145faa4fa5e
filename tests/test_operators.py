"""Unit tests for algebra, canonicalization, dedup, similarity,
textops and multimodal operators on small in-memory data."""

import pyspark.sql.functions as F
import pytest

from tortank_spark.schema import TRIPLE_SCHEMA


def make_triples(spark, rows):
    return spark.createDataFrame(
        [("u", s, sk, p, o, ok, dt, lg) for (s, sk, p, o, ok, dt, lg) in rows],
        TRIPLE_SCHEMA,
    )


T1 = [
    ("a", "iri", "p", "x", "literal", None, "en"),
    ("a", "iri", "p", "1", "literal",
     "http://www.w3.org/2001/XMLSchema#integer", None),
    ("b", "iri", "q", "c", "iri", None, None),
]
T2 = [
    ("a", "iri", "p", "x", "literal", None, "en"),
    ("d", "iri", "q", "c", "iri", None, None),
]


def test_algebra_set_ops(spark):
    from tortank_spark.algebra import (
        all_subjects,
        pattern_filter,
        tt_difference,
        tt_intersection,
        tt_union,
    )

    a, b = make_triples(spark, T1), make_triples(spark, T2)
    assert tt_union(a, b).count() == 4
    # null-safe: the lang/dt columns are null in rows that must match
    diff = tt_difference(a, b)
    assert {r["s"] for r in diff.collect()} == {"a", "b"}
    assert diff.count() == 2
    inter = tt_intersection(a, b)
    assert inter.count() == 1 and inter.collect()[0]["o_lang"] == "en"
    assert all_subjects(a).count() == 2
    assert pattern_filter(a, s="a", p="p").count() == 2
    assert pattern_filter(a, o="c").collect()[0]["s"] == "b"


def test_connected_components_chain_and_star(spark):
    from tortank_spark.canonicalize import connected_components

    edges = spark.createDataFrame(
        # chain a-b-c-d, star x-{y,z}, isolated pair m-n
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("x", "z"),
         ("m", "n")],
        "src string, dst string",
    )
    got = {
        (r["iri"], r["canonical"])
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"), ("z", "x"),
        ("m", "m"), ("n", "m"),
    }


def test_connected_components_random_vs_union_find(spark):
    """Property check: alternating star algorithm == union-find on a
    seeded random graph (string-typed nodes, lexicographic min)."""
    import random

    from tortank_spark.canonicalize import connected_components

    rng = random.Random(13)
    edges = [
        (f"n{rng.randint(0, 60):03d}", f"n{rng.randint(0, 60):03d}")
        for _ in range(80)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["iri"]: r["canonical"]
        for r in connected_components(
            spark.createDataFrame(edges, "src string, dst string"),
            driver_max_edges=0,
        ).collect()
    }
    assert got == want


def test_rewrite_canonical(spark):
    from tortank_spark.canonicalize import rewrite_canonical

    triples = make_triples(
        spark,
        [
            ("B", "iri", "p", "A", "iri", None, None),
            ("A", "iri", "p", "lit", "literal", None, None),
        ],
    )
    cmap = spark.createDataFrame(
        [("B", "A"), ("A", "A")], "iri string, canonical string"
    )
    out = rewrite_canonical(triples, cmap)
    assert {(r["s"], r["o"]) for r in out.collect()} == {("A", "A"), ("A", "lit")}


def test_rewrite_canonical_never_touches_literals(spark):
    """A string literal whose lexical value equals a mapped IRI must NOT
    be rewritten — URLs appear as literals constantly in web data."""
    from tortank_spark.canonicalize import rewrite_canonical

    triples = make_triples(
        spark,
        [
            # object IS the IRI http://a/x -> rewritten
            ("s1", "iri", "p", "http://a/x", "iri", None, None),
            # object is a LITERAL that happens to spell the same URL
            ("s2", "iri", "p", "http://a/x", "literal",
             "http://www.w3.org/2001/XMLSchema#string", None),
        ],
    )
    cmap = spark.createDataFrame(
        [("http://a/x", "http://a/canon")], "iri string, canonical string"
    )
    got = {
        (r["s"], r["o"], r["o_kind"])
        for r in rewrite_canonical(triples, cmap).collect()
    }
    assert got == {
        ("s1", "http://a/canon", "iri"),
        ("s2", "http://a/x", "literal"),
    }


def test_minhash_near_dup_detects_similar_docs(spark):
    from tortank_spark.dedup import minhash_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog " * 10
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy", 1)),  # near-dup of 1
            (3, "completely different text about spark dataframes and "
                "shuffle partitions " * 10),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs(docs, "doc_id", threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["jaccard_est"] > 0.5


def test_simhash_hamming_close_for_near_dups(spark):
    from tortank_spark.dedup import simhash_candidate_pairs, simhash_signatures

    words = [f"word{i:03d}" for i in range(120)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])
    far = " ".join(f"other{i:03d}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash_signatures(docs, "doc_id").collect()}
    ham = lambda a, b: bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
    assert ham(1, 2) == 0                      # identical docs
    assert ham(1, 3) < ham(1, 4)               # near-dup closer than far
    # identical docs always share every chunk -> candidate pair
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_candidate_pairs(
                 simhash_signatures(docs, "doc_id"), "doc_id").collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_multi_index_guarantee(spark):
    """Manku multi-index pigeonhole: ANY pair within hamming 3 is a
    candidate (exhaustively, via adversarial bit placements hitting 3
    different blocks); pairs beyond the radius are filtered."""
    from tortank_spark.dedup import simhash_candidate_pairs

    base = 0x0123456789ABCDEF
    flips3 = base ^ (1 << 5) ^ (1 << 30) ^ (1 << 60)   # 3 bits, 3 blocks
    flips3b = base ^ 0b111                              # 3 bits, 1 block
    far = base ^ ((1 << 20) - 1)                        # 20 bits
    sigs = spark.createDataFrame(
        [(1, base), (2, flips3), (3, flips3b), (4, far)],
        "doc_id long, simhash long",
    )
    got = {(r["a"], r["b"]) for r in
           simhash_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in got and (1, 3) in got
    assert (1, 4) not in got  # outside the hamming radius


def test_simhash_candidates_reject_radius_beyond_guarantee(spark):
    """The C(6,3) block index is complete only for hamming <= 3; a
    larger radius must raise rather than silently under-return."""
    import pytest

    from tortank_spark.dedup import simhash_candidate_pairs

    sigs = spark.createDataFrame([(1, 7)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        simhash_candidate_pairs(sigs, "doc_id", max_hamming=4)


def test_ngram_jaccard_verification(spark):
    from tortank_spark.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, pairs, "doc_id").collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


def test_topk_cosine_exact(spark):
    from tortank_spark.similarity import topk_cosine

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    top = topk_cosine(vecs, "embedding", [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine"] == 1.0


def test_lsh_ann_finds_self_bucket(spark):
    from tortank_spark.similarity import lsh_multitable_topk

    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    q = rows[7][1]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = lsh_multitable_topk(vecs, "embedding", q, k=3, n_bits=4).collect()
    assert top and top[0]["vec_id"] == 7 and top[0]["cosine"] == 1.0


def test_vector_matrix_matches_per_row_stack():
    """A batch's vector column is read as one matrix equal to stacking
    its rows — also for a sliced array, whose child values start
    mid-buffer — and a batch holding a null or ragged vector fails
    rather than shift the rows after it."""
    import numpy as np
    import pyarrow as pa

    from tortank_spark.similarity import vector_matrix

    vecs = pa.array([[(i * 3 + j) / 7 for j in range(3)] for i in range(5)],
                    type=pa.list_(pa.float32()))[1:4]
    want = np.stack([np.asarray(v, dtype=np.float64)
                     for v in vecs.to_pylist()])
    assert np.array_equal(vector_matrix(vecs), want)
    for bad in ([[1.0, 2.0], None], [[1.0, 2.0], [3.0]]):
        with pytest.raises(ValueError):
            vector_matrix(pa.array(bad, type=pa.list_(pa.float32())))


def test_textops_counts_and_quality(spark):
    import duckdb

    import __spark_entry__ as entrymod
    from tortank_spark.textops import (
        detect_language,
        doc_fingerprint,
        quality_features,
        token_count,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat is in the hat"),
            (2, "le chat est dans le chapeau et il est content que"),
            (3, ""),
            # exactly one stopword hit each for fr ("le") and de
            # ("der"): the tie must resolve by profile insertion order
            # (fr precedes de) — pinned against the oracle's >=-ladder
            (4, "le der tiebreak row"),
            # an interior em space / NBSP is not a token break: neither
            # Java regex nor RE2 counts a non-ASCII space as "\s"
            (5, "the\u2003of"),
            (6, "the\u00a0of"),
            (7, None),
            # leading/trailing tab and newline add no empty token;
            # U+000B splits and U+2028 does not, on every engine
            (8, "\tfoo\n"),
            (9, "a\x0bb"),
            (10, "a\u2028b"),
        ],
        "doc_id long, text string",
    )
    counts = {r["doc_id"]: r["n"] for r in docs.select(
        "doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert counts == {1: 6, 2: 11, 3: 0, 4: 4, 5: 1, 6: 1, 7: None,
                      8: 1, 9: 2, 10: 1}
    q = quality_features(docs).filter(F.col("doc_id") == 1).collect()[0]
    assert q["q_n_tokens"] == 6 and q["q_stopword_ratio"] > 0
    langs = {r["doc_id"]: r["lang_pred"]
             for r in detect_language(docs).collect()}
    assert langs[1] == "en" and langs[2] == "fr"
    assert langs[3] == "und" and langs[4] == "fr"
    assert langs[5] == langs[6] == langs[7] == "und"
    assert langs[9] == "en" and langs[8] == langs[10] == "und"
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracle = dict(con.execute(
        entrymod._text_oracles()["text_lang_id"]).fetchall())
    assert oracle == langs
    fps = docs.select(doc_fingerprint(F.col("text")).alias("fp")).collect()
    # "" and NULL share the empty-token fingerprint
    assert len({r["fp"] for r in fps}) == 9


def test_multimodal_feature_plumbing(spark):
    """PPM/BMP/WAV rows decode FOR REAL (decode_ok='ok', exact stats
    from the fixture's pixel/sample formulas); video rows (compressed
    container) go through the deterministic stub."""
    from tortank_spark.multimodal import extract_features, make_media_table

    media = make_media_table(spark, n=9)
    rows = extract_features(media).collect()
    assert len(rows) == 9
    by_type = {}
    for r in rows:
        by_type.setdefault(r["media_type"], []).append(r)
    assert all(r["decode_ok"] == "ok" for r in by_type["image"])
    assert all(len(r["feature"]) == 9 for r in by_type["image"])
    assert all(r["decode_ok"] == "ok" for r in by_type["audio"])
    assert all(len(r["feature"]) == 6 for r in by_type["audio"])
    assert all(r["decode_ok"] == "stubbed" for r in by_type["video"])
    assert all(len(r["feature"]) == 16 for r in by_type["video"])
    # image i=0: 4x3 PPM, pixel j = (j*13) % 256 — exact stats
    img0 = next(r for r in rows if r["feature"][0] == 4.0
                and r["media_type"] == "image")
    vals = [(j * 13) % 256 for j in range(4 * 3 * 3)]
    n = len(vals)
    assert img0["feature"][2] == sum(vals) / n          # mean, exact
    assert img0["feature"][4] == float(min(vals))
    assert img0["feature"][5] == float(max(vals))
    # audio i=1: 72 samples, ((31 + 17j) % 4096) - 2048
    aud = [((31 + 17 * j) % 4096) - 2048 for j in range(72)]
    a0 = next(r for r in rows if r["media_type"] == "audio"
              and r["feature"][0] == 72.0)
    assert a0["feature"][2] == sum(aud) / 72
    # deterministic across runs
    feats2 = extract_features(media).collect()
    assert {(r["content_sha256"], tuple(r["feature"])) for r in rows} == {
        (r["content_sha256"], tuple(r["feature"])) for r in feats2
    }


def test_multimodal_codecs_roundtrip_and_bmp_ppm_agree(spark):
    """The two image containers of the SAME logical raster must decode
    to identical features (pins the BMP bottom-up/BGR/padding handling
    against the trivial PPM layout); unsupported formats stub."""
    import numpy as np

    from tortank_spark.multimodal import (
        decode_bmp, decode_ppm, encode_bmp, encode_ppm, image_features,
    )

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(5, 7, 3)).astype(np.uint8)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()
    assert (decode_bmp(encode_bmp(arr)) == arr).all()
    assert image_features(decode_ppm(encode_ppm(arr))) == image_features(
        decode_bmp(encode_bmp(arr))
    )


def test_serializers_roundtrip(spark):
    from tortank_spark.serialize import to_ntriples, to_rdf_json
    from tortank_spark.grammar import parse_document

    df = make_triples(spark, T1)
    lines = [r["value"] for r in to_ntriples(df).collect()]
    # every rendered line must re-parse to the same canonical triple
    for line, want in zip(sorted(lines), sorted(
        f"{s} {p} {o}" for (s, _, p, o, _, _, _) in [
            ("<a>", None, "<p>", '"1"', None, None, None),
        ]
    )):
        break  # structure checked below instead
    joined = "\n".join(lines)
    triples, err = parse_document(joined)
    assert err is None
    got = {(t[0], t[2], t[3], t[5], t[6]) for t in triples}
    want = {(s, p, o, dt, lg) for (s, _, p, o, _, dt, lg) in T1}
    # bare-string objects reparse with implicit xsd:string: T1 row 1 has
    # lang so datatype stays None; integer row keeps its datatype
    assert got == want
    js = to_rdf_json(df).collect()
    assert len(js) == 3 and all(r["value"].startswith("{") for r in js)


def test_parse_pattern_filter(spark):
    """R2: Turtle-syntax bindings parsed with the doc grammar
    (reference tests/query.rs:6-35 semantics)."""
    from tortank_spark.algebra import parse_pattern_filter

    rows = [
        ("http://e/alice", "iri", "http://e/age", "42", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("http://e/alice", "iri", "http://e/name", "alice", "literal",
         None, "en"),
        ("_:b1", "bnode", "http://e/age", "7", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
    ]
    df = make_triples(spark, rows)
    prefixes = {"e": "http://e/", "xsd": "http://www.w3.org/2001/XMLSchema#"}
    got = parse_pattern_filter(df, s="e:alice", o='"42"^^xsd:integer',
                               prefixes=prefixes)
    assert got.count() == 1 and got.collect()[0]["p"] == "http://e/age"
    # bare numeric binding coerces like the grammar (42 == "42"^^integer)
    got2 = parse_pattern_filter(df, o="42", prefixes=prefixes)
    assert got2.count() == 1 and got2.collect()[0]["s"] == "http://e/alice"
    got3 = parse_pattern_filter(df, s="_:b1", prefixes=prefixes)
    assert got3.count() == 1
    got4 = parse_pattern_filter(df, o='"alice"@en', prefixes=prefixes)
    assert got4.count() == 1
    import pytest as _pt
    from tortank_spark.grammar import DocError
    with _pt.raises(DocError):
        parse_pattern_filter(df, s="unknownprefix:x")


def test_add_statement(spark):
    from tortank_spark.algebra import add_statement

    df = make_triples(spark, T1).select(
        "s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"
    )
    row = ("z", "iri", "p", "new", "literal", None, None)
    out = add_statement(df, row)
    assert out.count() == 4
    # inserting a duplicate is a no-op (turtle_doc.rs:284-293)
    dup = ("b", "iri", "q", "c", "iri", None, None)
    assert add_statement(df, dup).count() == 3


def test_connected_components_skewed_hub(spark):
    """FIXTURES.md §5: one hub entity with ~n/10 of all edges (the
    skew case the north rule calls out). Star contraction keeps rounds
    bounded; AQE skew-join splits the hot key at runtime. Also mixes in
    a long chain so both pathologies coexist."""
    from tortank_spark.canonicalize import connected_components

    hub_edges = [(f"n{i:05d}", "hub") for i in range(1, 1500)]
    chain_edges = [(f"c{i:05d}", f"c{i+1:05d}") for i in range(200)]
    edges = spark.createDataFrame(hub_edges + chain_edges,
                                  "src string, dst string")
    got = connected_components(edges, driver_max_edges=0).collect()
    comp = {r["iri"]: r["canonical"] for r in got}
    # hub component: min is "hub" (lexicographically < n00001)
    assert comp["hub"] == "hub"
    assert all(comp[f"n{i:05d}"] == "hub" for i in range(1, 1500))
    assert all(comp[f"c{i:05d}"] == "c00000" for i in range(201))


def test_turtle_pretty_output(spark):
    """S8 as_turtle core behaviors: prefix compaction (longest match),
    rdf:type -> 'a', bare integers, xsd:string datatype dropped
    (turtle_doc.rs:1278-1381)."""
    from tortank_spark.serialize import to_turtle_pretty

    rows = [
        ("http://example.org/x", "iri",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://www.w3.org/2002/07/owl#Class", "iri", None, None),
        ("http://example.org/x", "iri", "http://example.org/n", "5",
         "literal", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("http://example.org/x", "iri", "http://example.org/s", "hi",
         "literal", "http://www.w3.org/2001/XMLSchema#string", None),
    ]
    df = make_triples(spark, rows)
    out = to_turtle_pretty(df).collect()
    assert len(out) == 1
    block = out[0]["value"]
    # subjects keep Display form — the reference groups on
    # subject.to_string() and never compacts them (turtle_doc.rs:1335)
    assert block.startswith("<http://example.org/x> ")
    assert "a owl:Class" in block
    assert "ex:n 5" in block
    assert 'ex:s """hi"""' in block  # Display quoting kept, ^^xsd:string dropped
    assert "^^" not in block  # xsd:string dropped, integer bare


def test_turtle_pretty_layout_and_header(spark):
    """S8 full layout (turtle_doc.rs:1330-1381): @prefix header with
    every used prefix + xsd; objects comma-joined in chunks of 2 with
    tabbed continuations; later predicates tab-indented."""
    from tortank_spark.serialize import to_turtle_pretty, turtle_document

    rows = [
        ("http://example.org/x", "iri", "http://example.org/p", f"o{i}",
         "literal", "http://www.w3.org/2001/XMLSchema#string", None)
        for i in range(5)
    ] + [
        ("http://example.org/x", "iri", "http://example.org/q",
         "http://schema.org/Thing", "iri", None, None),
    ]
    df = make_triples(spark, rows)
    doc = turtle_document(df)
    header, _, body = doc.partition("\n\n")
    assert "@prefix xsd: <http://www.w3.org/2001/XMLSchema#>." in header
    assert "@prefix ex: <http://example.org/>." in header
    assert "@prefix schema: <http://schema.org/>." in header
    # chunks of 2: ', ' inside a chunk, ',\n\t\t' between chunks of the
    # first predicate
    block = body
    assert 'ex:p """o0""", """o1""",\n\t\t"""o2""", """o3""",\n\t\t"""o4"""' in block
    # second predicate starts tab-indented after ';\n'
    assert ";\n\tex:q schema:Thing." in block


def test_ntriples_display_golden_bytes(spark):
    """S7 byte fidelity vs reference Display (turtle_doc.rs:1188-1270):
    long-quote default separator for quoted strings, long-single when
    the value ends with '\"' or contains '\"\"\"', plain quotes for
    native-typed, '@lang' suffix, bnodes verbatim."""
    from tortank_spark.serialize import to_ntriples

    xsd = "http://www.w3.org/2001/XMLSchema#"
    rows = [
        ("a", "iri", "p", "plain", "literal", xsd + "string", None),
        ("a", "iri", "p", 'ends"', "literal", xsd + "string", None),
        ("a", "iri", "p", 'has """ inside', "literal", xsd + "string", None),
        ("a", "iri", "p", "salut", "literal", None, "fr"),
        ("a", "iri", "p", "42", "literal", xsd + "integer", None),
        ("a", "iri", "p", "true", "literal", xsd + "boolean", None),
        ("a", "iri", "p", "2021-01-01", "literal", xsd + "date", None),
        # xsd:time NEVER coerces in the reference ladder -> quoted path
        ("a", "iri", "p", "10:00:00", "literal", xsd + "time", None),
        ("_:b1", "bnode", "p", "x", "iri", None, None),
    ]
    lines = {
        r["value"]
        for r in to_ntriples(make_triples(spark, rows)).collect()
    }
    assert f'<a> <p> """plain"""^^<{xsd}string>.' in lines
    assert f"<a> <p> '''ends\"'''^^<{xsd}string>." in lines
    assert f"<a> <p> '''has \"\"\" inside'''^^<{xsd}string>." in lines
    assert '<a> <p> """salut"""@fr.' in lines
    assert f'<a> <p> "42"^^<{xsd}integer>.' in lines
    assert f'<a> <p> "true"^^<{xsd}boolean>.' in lines
    assert f'<a> <p> "2021-01-01"^^<{xsd}date>.' in lines
    assert f'<a> <p> """10:00:00"""^^<{xsd}time>.' in lines
    assert "_:b1 <p> <x>." in lines


def test_embedding_neardup_exact_and_lsh(spark):
    """Embedding-cosine near-dup tier: the exact path finds the planted
    near-identical pair; the LSH path returns a subset of the exact
    pairs and always contains the (near-)identical pair (identical
    vectors share every bucket in every table)."""
    import random

    from tortank_spark.dedup import (
        embedding_neardup_lsh, embedding_neardup_pairs,
    )

    rng = random.Random(3)
    dim = 16
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    rows = [(1, base), (2, near)] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(3, 40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["a"], r["b"]) for r in
             embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert (1, 2) in exact
    lsh = {(r["a"], r["b"]) for r in
           embedding_neardup_lsh(emb, threshold=0.95).collect()}
    assert (1, 2) in lsh
    assert lsh <= exact


def test_multimodal_resize_and_frame_sample(spark):
    """REAL box-filter resize for the PPM/BMP fixture images
    (decode_ok='ok', w*h*3 RGB raster out); frame sampling fan-out
    (video decode stubbed — compressed containers need codec libs)."""
    import numpy as np

    from tortank_spark.multimodal import (
        box_resize, decode_bmp, decode_ppm, make_media_table,
        media_fixture_rows, resize_images, sample_frames,
    )

    media = make_media_table(spark, n=9)
    rs = resize_images(media, width=8, height=4).collect()
    assert len(rs) == 9
    imgs = [r for r in rs if r["decode_ok"] == "ok"]
    assert len(imgs) == 3  # one third of kinds are images, all decodable
    assert all(len(r["resized"]) == 8 * 4 * 3 for r in imgs)
    assert all(r["resized_sum"] == sum(bytes(r["resized"])) for r in imgs)
    assert all(r["decode_ok"] == "skipped" for r in rs
               if r not in imgs)
    # spot-check one raster against a local decode+resize
    fix = {r[1]: bytes(r[3]) for r in media_fixture_rows(9)}  # sha -> blob
    r0 = imgs[0]
    blob = fix[r0["content_sha256"]]
    arr = decode_ppm(blob) if blob.startswith(b"P6") else decode_bmp(blob)
    want = box_resize(arr, 8, 4).tobytes()
    assert bytes(r0["resized"]) == want

    fr = sample_frames(media, every_ms=1000).collect()
    # videos are i % 3 == 2 -> durations 3000, 6000, 9000 ms
    assert {r["content_sha256"] for r in fr} == {
        r["content_sha256"] for r in media.filter(
            media.media_type == "video").collect()
    }
    per = {}
    for r in fr:
        per.setdefault(r["content_sha256"], []).append(r["frame_ts_ms"])
    assert sorted(len(v) for v in per.values()) == [3, 6, 9]
    for v in per.values():
        assert sorted(v) == list(range(0, 1000 * len(v), 1000))
    # deterministic across runs
    fr2 = sample_frames(media, every_ms=1000).collect()
    assert {(r["content_sha256"], r["frame_idx"], bytes(r["frame"]))
            for r in fr} == {
        (r["content_sha256"], r["frame_idx"], bytes(r["frame"]))
        for r in fr2
    }


def test_row_kernels_emit_no_rows_on_empty_input(spark):
    """A row kernel may emit no row for a row: a page without
    ``<a href>``, a page with null text and a media table whose only
    video has no duration give zero rows with the declared schema, and
    partitions that hold no rows do not fail the stage — nor any of
    the numpy batch stages."""
    import numpy as np

    from tortank_spark.dedup import _embedding_band_keys
    from tortank_spark.multimodal import (
        FRAME_SCHEMA, MEDIA_SCHEMA, media_fixture_rows, sample_frames,
    )
    from tortank_spark.similarity import (
        ivf_assign_inline, lsh_multitable_candidates,
    )
    from tortank_spark.textops import (
        winnow_doc_fingerprint_set, winnow_fingerprints,
    )
    from tortank_spark.weblinks import LINKS_SCHEMA, extract_links

    sc = spark.sparkContext
    pages = spark.createDataFrame(
        sc.parallelize([("http://a.example/", "<p>no links</p>"),
                        ("http://b.example/", None)], 4),
        "url string, text string",
    )
    assert sorted(pages.rdd.glom().map(len).collect()) == [0, 0, 1, 1]
    links = extract_links(pages)
    assert links.schema == LINKS_SCHEMA and links.collect() == []

    rows = media_fixture_rows(6)
    no_frames = [r for r in rows if r[2] != "video"] + [
        (*r[:6], None) for r in rows[2:3]]  # a video without a duration
    media = spark.createDataFrame(sc.parallelize(no_frames, 8), MEDIA_SCHEMA)
    frames = sample_frames(media)
    assert frames.schema == FRAME_SCHEMA and frames.collect() == []

    # the numpy batch stages over tables whose partitions hold no row
    docs = spark.createDataFrame(sc.parallelize([], 4),
                                 "doc_id long, text string")
    emb = spark.createDataFrame(sc.parallelize([], 4),
                                "vec_id long, embedding array<float>")
    for out, schema in [
        (winnow_fingerprints(docs, "doc_id"),
         "struct<doc_id:bigint,pos:bigint,fp:bigint>"),
        (winnow_doc_fingerprint_set(docs, "doc_id"),
         "struct<doc_id:bigint,fp:bigint>"),
        (lsh_multitable_candidates(emb, "embedding", [1.0, 0.0]),
         "struct<vec_id:bigint>"),
        (ivf_assign_inline(emb, "embedding", np.eye(2)),
         "struct<vec_id:bigint,embedding:array<float>,list_id:bigint>"),
        (_embedding_band_keys(emb, "vec_id", "embedding", 4, 3),
         "struct<vec_id:bigint,key:bigint>"),
    ]:
        assert out.rdd.getNumPartitions() == 4
        assert out.schema.simpleString() == schema and out.collect() == []


def test_ivf_ann_planted_clusters(spark):
    """IVF coarse quantizer: on clustered data the query's list holds
    its true neighbors, so probing 2/8 lists recovers the exact top-k;
    full-probe degenerates to exact on any data."""
    import random

    from tortank_spark.similarity import ivf_topk, kmeans_centroids, topk_cosine

    rng = random.Random(5)
    dim, rows = 8, []
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vid = 0
    for c in centers:
        for _ in range(25):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = [x + 0.01 for x in centers[2]]
    exact = [r["vec_id"] for r in topk_cosine(emb, "embedding", query, 5).collect()]
    cents = kmeans_centroids(emb, "embedding", n_centroids=8, sample_rows=100)
    approx = [r["vec_id"] for r in ivf_topk(
        emb, "embedding", query, 5, n_centroids=8, n_probes=2,
        centroids=cents).collect()]
    assert approx == exact
    # probing every list is exact on ANY data
    full = [r["vec_id"] for r in ivf_topk(
        emb, "embedding", query, 5, n_centroids=8, n_probes=8,
        centroids=cents).collect()]
    assert full == exact


def test_ivf_build_once_index_prunes_io(spark, tmp_path):
    """Build-once/probe-many IVF: ivf_build persists the table
    PARTITIONED BY list_id; a probe through ivf_topk_indexed (a) reads
    ONLY the probed list directories — the files the executed probe
    scan opened (input_file_name audit) name no other partition and
    are strictly fewer than the full index — and (b) returns exactly
    what the scan-everything ivf_topk
    returns with the same centroids."""
    import random

    from tortank_spark.similarity import (
        _nearest_lists, ivf_load_centroids, ivf_topk, ivf_topk_indexed,
        scan_files_read,
    )

    rng = random.Random(7)
    dim, rows = 8, []
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vid = 0
    for c in centers:
        for _ in range(25):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = [x + 0.01 for x in centers[1]]

    from tortank_spark.similarity import ivf_build

    index_dir = str(tmp_path / "ivf")
    cents = ivf_build(emb, "embedding", index_dir, n_centroids=8)
    assert (ivf_load_centroids(index_dir) == cents).all()

    probes = set(_nearest_lists(cents, query, 2))
    read_files, all_files = scan_files_read(spark, index_dir, list(probes))
    assert read_files  # the probed lists exist and hold data
    assert all(
        any(f"list_id={p}/" in f for p in probes) for f in read_files
    ), read_files
    assert len(read_files) < len(all_files)

    got = [r["vec_id"] for r in ivf_topk_indexed(
        spark, index_dir, query, k=5, n_probes=2).collect()]
    want = [r["vec_id"] for r in ivf_topk(
        emb, "embedding", query, 5, n_centroids=8, n_probes=2,
        centroids=cents).collect()]
    assert got == want


def test_multimodal_codec_edge_cases():
    """Container-format corners the fixture table doesn't hit: BMP
    top-down (negative height), PPM comment headers, WAV with extra
    RIFF chunks, truncation -> ValueError, unknown magic ->
    UnsupportedMediaFormat, and box-resize invariants (constant rasters
    stay constant under up- and downsampling; weight rows sum to 1)."""
    import numpy as np
    import pytest as pt
    import struct as st_

    from tortank_spark.multimodal import (
        UnsupportedMediaFormat, _box_weights, box_resize, decode_bmp,
        decode_ppm, decode_wav, encode_bmp, encode_ppm, encode_wav,
    )

    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)

    # BMP top-down: negative biHeight, raster stored top-first
    blob = bytearray(encode_bmp(arr))
    h = st_.unpack_from("<i", blob, 22)[0]
    st_.pack_into("<i", blob, 22, -h)
    stride = (6 * 3 + 3) & ~3
    raster = np.zeros((4, stride), dtype=np.uint8)
    raster[:, : 6 * 3] = arr[:, :, ::-1].reshape(4, 6 * 3)  # BGR, top-down
    blob[54:] = raster.tobytes()
    assert (decode_bmp(bytes(blob)) == arr).all()

    # PPM comment lines inside the header
    ppm = b"P6\n# a comment\n6 # inline\n4\n# another\n255\n" + arr.tobytes()
    assert (decode_ppm(ppm) == arr).all()

    # WAV with a LIST chunk before data, odd-size chunk padding
    samples = np.arange(-8, 8, dtype=np.int16)
    wav = encode_wav(samples, 8000)
    hdr, fmtchunk, data = wav[:12], wav[12:36], wav[36:]
    extra = b"LIST" + st_.pack("<I", 5) + b"INFOx" + b"\x00"  # padded odd chunk
    got, rate = decode_wav(hdr[:4] + st_.pack("<I", len(hdr) - 8) + hdr[8:]
                           + fmtchunk + extra + data)
    assert rate == 8000 and (got == samples).all()

    # truncation of a supported container is a ValueError (-> 'error'
    # rows in extract_features), unknown magic is UnsupportedMediaFormat
    with pt.raises(ValueError):
        decode_ppm(encode_ppm(arr)[:-5])
    with pt.raises(ValueError):
        decode_bmp(encode_bmp(arr)[:-5])
    with pt.raises(ValueError):
        decode_wav(encode_wav(samples, 8000)[:20])
    with pt.raises(UnsupportedMediaFormat):
        decode_ppm(b"\xff\xd8\xffjpeg-ish")
    with pt.raises(UnsupportedMediaFormat):
        decode_wav(b"OggS...")

    # box-resize invariants
    const = np.full((5, 7, 3), 77, dtype=np.uint8)
    assert (box_resize(const, 16, 3) == 77).all()   # downsample y, upsample x
    assert (box_resize(const, 2, 11) == 77).all()
    for src, dst in [(5, 2), (2, 5), (7, 7)]:
        w = _box_weights(src, dst)
        assert np.allclose(w.sum(axis=1), 1.0)
    # identity resize is exact
    assert (box_resize(arr, 6, 4) == arr).all()


def test_multimodal_feature_error_rows(spark):
    """A corrupt blob in a supported container yields decode_ok='error'
    with NULL features — the job never fails."""
    from tortank_spark.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (0, "sha-bad-ppm", "image", bytearray(b"P6\n4 3\n255\nshort"),
         4, 3, None),
        (1, "sha-bad-wav", "audio",
         bytearray(b"RIFF\x10\x00\x00\x00WAVEtrunc"), None, None, 10),
    ]
    out = {r["content_sha256"]: r for r in
           extract_features(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert out["sha-bad-ppm"]["decode_ok"] == "error"
    assert out["sha-bad-ppm"]["feature"] is None
    assert out["sha-bad-wav"]["decode_ok"] == "error"


def test_multimodal_unsupported_variants_stub_not_error(spark):
    """Recognized-but-unsupported container variants (32-bpp BMP, CRLF
    PPM header) follow the documented contract: variants we have no
    codec for fall back to the stub in BOTH extract_features and
    resize_images (not 'error'), and a CRLF-separated PPM decodes the
    raster unshifted."""
    import struct as st_

    import numpy as np

    from tortank_spark.multimodal import (
        MEDIA_SCHEMA, decode_ppm, encode_bmp, encode_ppm,
        extract_features, resize_images,
    )

    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    bmp32 = bytearray(encode_bmp(arr))
    st_.pack_into("<H", bmp32, 28, 32)  # declare 32 bpp -> unsupported
    crlf_ppm = b"P6\n3 2\n255\r\n" + arr.tobytes()
    assert (decode_ppm(crlf_ppm) == arr).all()

    media = spark.createDataFrame(
        [(0, "sha-bmp32", "image", bmp32, 3, 2, None),
         (1, "sha-crlf", "image", bytearray(crlf_ppm), 3, 2, None)],
        MEDIA_SCHEMA,
    )
    feats = {r["content_sha256"]: r for r in extract_features(media).collect()}
    assert feats["sha-bmp32"]["decode_ok"] == "stubbed"
    assert feats["sha-crlf"]["decode_ok"] == "ok"
    assert feats["sha-crlf"]["feature"][4] == 0.0   # min of 0..17
    assert feats["sha-crlf"]["feature"][5] == 17.0  # max unshifted
    rs = {r["content_sha256"]: r for r in
          resize_images(media, width=2, height=2).collect()}
    assert rs["sha-bmp32"]["decode_ok"] == "stubbed"  # was 'error' before
    assert rs["sha-crlf"]["decode_ok"] == "ok"


def test_connected_components_driver_fastpath_equivalent(spark):
    """The size-adaptive driver union-find fast path returns exactly
    what the distributed star iteration returns on the same graph."""
    import random

    from tortank_spark.canonicalize import connected_components

    rng = random.Random(29)
    edges = spark.createDataFrame(
        [(f"v{rng.randint(0, 80):03d}", f"v{rng.randint(0, 80):03d}")
         for _ in range(120)],
        "src string, dst string",
    ).filter("src <> dst")
    fast = {(r["iri"], r["canonical"])
            for r in connected_components(edges).collect()}
    dist = {(r["iri"], r["canonical"])
            for r in connected_components(edges, driver_max_edges=0).collect()}
    assert fast == dist and fast
    # the BYTE gate alone must also force the distributed path (long
    # web IRIs: row count under-estimates driver memory) — same result
    bytegated = {(r["iri"], r["canonical"])
                 for r in connected_components(
                     edges, driver_max_bytes=0).collect()}
    assert bytegated == fast


def test_ntriples_golden_bytes_offset_preserved_datetime(spark):
    """An offset-preserved dateTime (preserve_datetime_offset mode) is
    still recognized as a coerced NATIVE literal by the serializer and
    renders with the plain '"' pair + ^^<dt> — golden bytes matching
    the reference's Display of a chrono to_rfc3339 value
    (turtle_doc.rs:1212-1238)."""
    from tortank_spark.serialize import to_ntriples

    xsd_dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    rows = [
        ("http://e.org/s", "iri", "http://e.org/p",
         "2024-03-05T10:20:30.400+02:00", "literal", xsd_dt, None),
        ("http://e.org/s", "iri", "http://e.org/p",
         "2024-03-05T08:20:30.400Z", "literal", xsd_dt, None),
    ]
    lines = sorted(
        r["value"] for r in to_ntriples(make_triples(spark, rows)).collect()
    )
    assert lines == [
        '<http://e.org/s> <http://e.org/p> '
        f'"2024-03-05T08:20:30.400Z"^^<{xsd_dt}>.',
        '<http://e.org/s> <http://e.org/p> '
        f'"2024-03-05T10:20:30.400+02:00"^^<{xsd_dt}>.',
    ]


def test_mm_resize_fixture_rounding_margin():
    """The mm_resize oracle compares floor(sum + 0.5) byte checksums
    across two engines whose float summation ORDER differs (DuckDB
    aggregate vs numpy einsum). That is only deterministic if no
    pre-rounded cell sum sits near a half-integer tie. Pin the margin:
    every cell of the fixture must be > 1e-6 away from a tie (measured
    0.0143 for the shipped fixture) — a fixture change that introduces
    a tie fails HERE, not as a flaky driver hash mismatch."""
    import numpy as np

    from tortank_spark.multimodal import (
        _box_weights, decode_bmp, decode_ppm, media_fixture_rows,
    )

    min_margin = 1.0
    for i, sha, kind, blob, w, h, dur in media_fixture_rows(32):
        if kind != "image":
            continue
        b = bytes(blob)
        arr = decode_ppm(b) if b.startswith(b"P6") else decode_bmp(b)
        wy = _box_weights(arr.shape[0], 8)
        wx = _box_weights(arr.shape[1], 16)
        acc = np.einsum("Yy,yxc,Xx->YXc", wy, arr.astype(np.float64), wx)
        margin = float(np.abs((acc % 1.0) - 0.5).min())
        min_margin = min(min_margin, margin)
    assert min_margin > 1e-6, (
        f"resize fixture has a near-tie cell sum (margin {min_margin}); "
        "floor(sum+0.5) checksums would be engine-order-sensitive"
    )


def test_range_invalid_datetime_takes_quoted_path(spark):
    """A dateTime-typed literal whose SHAPE is canonical but whose
    VALUE is range-invalid (month 13, Feb 30, hour 25) fails chrono
    coercion in the reference and renders via the QUOTED path
    (long-quote separator), never the native plain-quote pair —
    _is_native must validity-check, not shape-check
    (turtle_doc.rs:1193-1238)."""
    from tortank_spark.serialize import to_ntriples

    xsd_dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    rows = [
        ("http://e/s", "iri", "http://e/p", v, "literal", xsd_dt, None)
        for v in [
            "2024-13-05T10:20:30.400+02:00",
            "2024-02-30T10:20:30.400Z",
            "2024-03-05T25:20:30.400+02:00",
        ]
    ]
    lines = [r["value"] for r in
             to_ntriples(make_triples(spark, rows)).collect()]
    assert all('"""' in ln for ln in lines), lines


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """Winnowing (SIGMOD'03) contract: two docs sharing a substring of
    length >= w + k - 1 = 8 share at least one fingerprint VALUE; a
    doc shorter than k gets exactly one whole-text fingerprint; the
    selection is deterministic (same text -> same fingerprint set)."""
    from tortank_spark.textops import winnow_fingerprints

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"unrelated prefix text {shared} and a different tail"),
            (3, "completely different content with no overlap at all"),
            (4, "tiny"),          # < k chars -> single whole-text fp
            (5, f"alpha beta {shared} gamma delta"),  # identical to 1
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(docs, "doc_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    fps = {d: {fp for _, fp in s} for d, s in by_doc.items()}
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert fps[1] == fps[5] and by_doc[1] == by_doc[5]  # deterministic
    assert len(by_doc[4]) == 1 and next(iter(by_doc[4]))[0] == 0
    # doc 3 shares nothing textual with doc 1 beyond < 8-char overlaps
    # (not asserted disjoint: hash collisions and tiny shared grams are
    # legitimately possible; the POSITIVE guarantee is what the
    # algorithm promises)


def test_winnow_dedup_pairs_finds_planted_neardups(spark):
    """MOSS-style winnow-pair generation: two heavily-overlapping docs
    pair up with a high shared-fingerprint count; an unrelated doc
    pairs with neither; the ubiquitous-fingerprint cap (max_df) drops
    boilerplate shared by every doc."""
    from tortank_spark.textops import winnow_dedup_pairs

    body = ("training data pipelines deduplicate web documents with "
            "fingerprint selection over rolling hashes of normalized text")
    docs = spark.createDataFrame(
        [
            (1, body + " tail one"),
            (2, body + " entirely different ending segment"),
            (3, "nothing in common with the others at all beyond spaces"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["a"], r["b"]): r["n_shared"]
             for r in winnow_dedup_pairs(
                 docs, "doc_id", min_shared=5, max_df=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 5
    assert not any(3 in p for p in pairs)
    # max_df=1 kills even the shared body (every shared fp has df=2)
    assert winnow_dedup_pairs(
        docs, "doc_id", min_shared=1, max_df=1).count() == 0


def _py_winnow_replay(text, k=5, w=4):
    """Pure-Python winnow replay built on textops._winnow_gram_hashes
    (the interpreter-speed twin of the numpy production hash): explicit
    rightmost-min window scan, uint64 comparisons, signed-int64 fps."""
    from tortank_spark.textops import _normalize_ws, _winnow_gram_hashes

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    norm = _normalize_ws(text)
    hs = _winnow_gram_hashes(norm, k)
    if len(norm) < k:
        return {(0, signed(hs[0]))}
    out = set()
    ww = min(w, len(hs))
    for s in range(len(hs) - ww + 1):
        best = min(range(s, s + ww), key=lambda i: (hs[i], -i))
        out.add((best, signed(hs[best])))
    return out


def test_winnow_numpy_hash_matches_python_replay(spark):
    """The vectorized uint64-wraparound polynomial hash (production
    path) must agree bit-for-bit with the pure-Python mod-2^64 replay
    on every (pos, fp) row — including Unicode text (codepoint
    indexing via utf-32), texts shorter than k, the empty string, and
    non-ASCII whitespace that the explicit ASCII class must NOT split
    on. This is the equivalence property that licenses the fast path:
    the DuckDB oracle replays the same arithmetic in HUGEINT."""
    from tortank_spark.textops import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "héllo wörld ünïcode text with accents",
        "tab\tand\nnewline\r\nand\x0b\x0cseparated tokens",
        "nbsp stays glued and line-sep too",
        "tiny",
        "ab",
        "",
        "    ",  # whitespace-only -> empty norm -> whole-text hash
        "x" * 5,
        "repeat " * 40,
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = winnow_fingerprints(docs, "doc_id").collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow_replay(t), (i, t)


# every query that tokenizes text, on either engine
_TOKENIZING_QUERIES = [
    "text_token_count", "text_fingerprint", "dedup_exact", "text_quality",
    "text_lang_id", "text_salient_terms", "text_tfidf_topk",
    "text_filter_decision", "text_repetition", "text_collocations",
    "text_boilerplate", "text_length_quantiles", "text_chunks",
    "text_winnow", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
]


def _edge_whitespace_documents():
    """A ``documents`` table whose texts hold the whitespace on which
    the ``\\s`` and ``\\v`` of Java regex, RE2 and Python re disagree
    (NBSP, U+000B, U+000C, U+0085, U+2028, U+2029), a leading tab, a
    trailing newline and blank texts. Planted for the operators that
    need them: a near-duplicate pair (docs 0/1, one source), the
    tf-idf query terms, a bigram repeated four times and a 90-token
    document."""
    base = ("the quick brown fox jumps over the lazy dog while spark"
            " merge jobs write vector data to the lake and the river"
            " bank is in the hat of the old town")
    long_doc = " ".join(
        f"w{i}" + ("\u2028" if i % 7 == 0 else "\x0b" if i % 5 == 0
                   else " ")
        for i in range(90))
    rows = [
        (0, base.replace("brown fox", "brown\u00a0fox"), "en", "s0"),
        (1, "\t" + base + " again\n", "en", "s0"),
        (2, "vertical\x0btab and form\x0cfeed split the spark tokens",
         "en", "s1"),
        (3, "line\u2028separator and para\u2029graph and next\u0085line"
            " stay inside merge tokens", "en", "s1"),
        (4, "", "fr", "s2"),
        (5, "   ", "fr", "s2"),
        (6, "\t\n", "fr", "s2"),
        (7, "\u00a0", "fr", "s3"),
        (8, "new york is big\nnew york is old\nnew york\u00a0is new york"
            " and the vector of the city", "en", "s3"),
        (9, long_doc, "fr", "s3"),
    ]
    return {
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": [len(r[1]) for r in rows],
    }


@pytest.mark.parametrize("name", _TOKENIZING_QUERIES)
def test_tokenizer_oracle_parity_on_edge_whitespace(spark, tmp_path, name):
    """One whitespace-token contract on both engines: each tokenizing
    query on Spark and its DuckDB oracle agree value for value on
    texts the sf corpora never hold (they contain only ASCII spaces),
    and each returns at least one row, so no case passes vacuously."""
    _assert_documents_oracle_parity(spark, tmp_path, name,
                                    _edge_whitespace_documents())


def _assert_documents_oracle_parity(spark, tmp_path, name, documents):
    """Query ``name`` on Spark and its DuckDB oracle over one
    ``documents`` table (a column dict) agree value for value and
    return at least one row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from scripts.check_oracles import value_hash

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table(documents), path)
    sdf = entrymod.queries()[name](spark, str(tmp_path))
    scols = sdf.columns
    srows = [[r[c] for c in scols] for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    rel = con.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert srows
    assert sorted(scols) == sorted(dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


@pytest.mark.parametrize("name", ["kg_entity_link", "kg_entity_cooccur"])
def test_mention_oracle_parity_on_non_ascii_letters(spark, tmp_path, name):
    """One mention-token rule on both engines: a non-ASCII letter stays
    inside a mention in Spark and in the DuckDB oracle alike, so
    ``éspark`` and ``sparké`` link nothing on either side. The sf
    corpora are ASCII; the ASCII doc keeps both queries non-empty."""
    texts = ["the éspark engine", "sparké query", "customer table",
             "spark query on the customer table"]
    _assert_documents_oracle_parity(
        spark, tmp_path, name,
        {"doc_id": list(range(len(texts))), "text": texts})


def test_winnow_match_spans_localizes_planted_overlap(spark):
    """MOSS-style span localization: two docs sharing one long
    substring produce ONE island in doc a that covers the shared
    region's positions; two DISJOINT shared substrings separated by a
    long unshared stretch produce TWO islands; unrelated docs produce
    none. Also pins the ordering contract a < b."""
    from tortank_spark.textops import winnow_match_spans

    shared1 = "quantum flux capacitors oscillate near resonance bands"
    shared2 = "gradient descent converges under convex regularization"
    filler = "z y x w v u t s r q p o n m l k j i h g f e d c b a " * 4
    docs = spark.createDataFrame(
        [
            (1, f"{shared1} {filler} {shared2}"),
            (2, f"intro text then {shared1} and much later {shared2}"),
            (3, "entirely unrelated content about cooking pasta dishes"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_match_spans(
        docs, "doc_id", max_gap=30, min_fps=3, max_df=10
    ).collect()
    by_pair = {}
    for r in rows:
        assert r["a"] < r["b"]
        assert r["a_start"] <= r["a_end"] and r["n_fps"] >= 3
        by_pair.setdefault((r["a"], r["b"]), []).append(
            (r["a_start"], r["a_end"], r["n_fps"])
        )
    assert (1, 2) in by_pair
    spans = sorted(by_pair[(1, 2)])
    # the two shared substrings sit at the far ends of doc 1 with
    # ~200 chars of unshared filler between them: two islands
    assert len(spans) == 2, spans
    norm1 = f"{shared1} {filler} {shared2}".lower()
    assert spans[0][0] < len(shared1)  # first island inside shared1
    assert spans[1][1] >= norm1.index(shared2)  # second inside shared2
    assert not any(3 in p for p in by_pair)


def test_winnow_contamination_flags_eval_overlap(spark):
    """Train-vs-eval decontamination: a corpus doc embedding an eval
    passage produces a span over that passage against THAT eval doc;
    clean corpus docs produce nothing; the corpus never pairs with
    itself (two corpus docs sharing text is winnow_match_spans'
    job, not this operator's)."""
    from tortank_spark.textops import winnow_contamination

    eval_passage = "the mitochondria is the powerhouse of the cell"
    corpus = spark.createDataFrame(
        [
            (10, f"scraped page intro {eval_passage} scraped page tail"),
            (11, f"another page also contains {eval_passage} verbatim"),
            (12, "a perfectly clean page about gardening tips in spring"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, eval_passage), (200, "unrelated benchmark question text")],
        "eval_id long, text string",
    )
    rows = winnow_contamination(
        corpus, evals, max_gap=30, min_fps=3, max_df=20
    ).collect()
    hits = {(r["doc_id"], r["eval_id"]) for r in rows}
    assert (10, 100) in hits and (11, 100) in hits
    assert not any(d == 12 for d, _ in hits)
    assert not any(e == 200 for _, e in hits)
    for r in rows:
        assert r["a_start"] <= r["a_end"] and r["n_fps"] >= 3


def test_triangle_counts_exact_on_known_graphs(spark):
    """Per-node triangle participation: K4 has 4 triangles, every
    vertex in C(3,2)=3 of them; attaching a pendant vertex adds none;
    a square (4-cycle) has none; duplicate/reversed/self-loop edges
    must not change counts."""
    from tortank_spark.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 9)]                  # pendant
    edges += [(10, 11), (11, 12), (12, 13), (13, 10)]  # C4: no triangles
    edges += [(1, 0), (2, 2), (0, 1)]      # reversed dup + self-loop
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_stratified_sample_deterministic_and_exact_k(spark):
    """Deterministic stratified sampling: exactly k rows per stratum
    (all rows when the stratum is smaller), identical across reruns
    AND across n_salts choices (the salted tournament must never
    change the result — it only bounds partition sizes), and equal to
    the naive smallest-k-by-md5 definition computed in Python."""
    import hashlib

    from tortank_spark.sampling import stratified_sample

    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(90)]
    rows += [(1000, "nl"), (1001, "nl")]  # stratum smaller than k
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    def draw(n_salts):
        return {
            (r["doc_id"], r["lang"])
            for r in stratified_sample(
                df, "lang", "doc_id", k=5, n_salts=n_salts
            ).collect()
        }

    got = draw(64)
    assert draw(3) == got == draw(64)  # salt- and rerun-invariant
    # python replay of the definition: k smallest md5(str(id)) per lang
    by_lang = {}
    for i, lang in rows:
        by_lang.setdefault(lang, []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i, lang)
        )
    want = {
        (i, lang)
        for vals in by_lang.values()
        for _, i, lang in sorted(vals)[:5]
    }
    assert got == want
    assert sum(1 for _, lang in got if lang == "nl") == 2


def test_rare_ngram_blocking_respects_df_cap(spark):
    """A shingle more common than max_df must not generate candidates
    (boilerplate suppression — the scale guarantee), while a rare
    shared shingle must."""
    from tortank_spark.dedup import rare_ngram_candidate_pairs

    boiler = "click here to read more"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c")
            for i in range(6)]
    # docs 100/101 share a rare 3-gram on top of the boilerplate
    rows += [(100, f"{boiler} shared alpha beta extra{0}"),
             (101, f"{boiler} shared alpha beta extra{1}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]) for r in rare_ngram_candidate_pairs(
        docs, "doc_id", max_df=3).collect()}
    # every pair here shares the boilerplate shingles (df=8 > 3); only
    # the rare "shared alpha beta" (df=2) survives the cap
    assert got == {(100, 101)}


def test_ngram_jaccard_ladder_matches_allpairs_truth(spark):
    """The blocked ladder's output equals the EXACT all-pairs Jaccard
    truth at the threshold on the test corpus — certifies blocking
    recall 1.0 here (every true pair shares at least one shingle with
    df <= cap), the deterministic analogue of the minhash recall
    certification."""
    from tortank_spark.dedup import (
        ngram_jaccard_dedup_pairs, ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    got = {(r["a"], r["b"], r["jaccard"]) for r in ngram_jaccard_dedup_pairs(
        docs, "doc_id", max_df=20, threshold=0.5).collect()}

    ids = docs.select("doc_id")
    allpairs = (
        ids.withColumnRenamed("doc_id", "a")
        .crossJoin(ids.withColumnRenamed("doc_id", "b"))
        .filter(F.col("a") < F.col("b"))
    )
    truth = {
        (r["a"], r["b"], round(r["jaccard"], 4))
        for r in ngram_jaccard_pairs(docs, allpairs, "doc_id").collect()
        if r["jaccard"] >= 0.5
    }
    assert got == truth and len(got) > 0


def test_bgp_join(spark):
    """Conjunctive BGP join — multi-pattern extension of the
    reference's single-pattern list_statements (turtle_doc.rs:405-423):
    chains, shared-subject stars, term-key semantics, intra-pattern
    repeated variables, and the disconnected-group guard."""
    import pytest as _pt

    from tortank_spark.algebra import bgp_join

    E = "http://e/"
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (E + "alice", "iri", E + "knows", E + "bob", "iri", None, None),
        (E + "bob", "iri", E + "knows", E + "carol", "iri", None, None),
        (E + "alice", "iri", E + "age", "42", "literal", XSD_INT, None),
        (E + "bob", "iri", E + "age", "42", "literal", None, None),
        (E + "loop", "iri", E + "knows", E + "loop", "iri", None, None),
    ]
    df = make_triples(spark, rows)
    prefixes = {"e": E}

    # 2-pattern chain on a shared object->subject variable
    chain = bgp_join(
        df, [("?a", "e:knows", "?b"), ("?b", "e:knows", "?c")],
        prefixes=prefixes,
    )
    assert chain.columns == ["a", "b", "c"]
    got = {tuple(r) for r in chain.collect()}
    assert got == {
        (E + "alice", E + "bob", E + "carol"),
        (E + "loop", E + "loop", E + "loop"),
    }
    # equi-join plan, never a cartesian product
    plan = chain._sc._jvm.PythonSQLUtils.explainString(
        chain._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # shared-subject star
    star = bgp_join(
        df, [("?p", "e:knows", "?f"), ("?p", "e:age", "?age")],
        prefixes=prefixes,
    )
    got = {tuple(r) for r in star.collect()}
    assert got == {
        (E + "alice", E + "bob", "42"),
        (E + "bob", E + "carol", "42"),
    }

    # variables bind TERMS: "42"^^xsd:integer never joins plain "42"
    terms = bgp_join(
        df, [("?x", "e:age", "?v"), ("?y", "e:age", "?v")],
        prefixes=prefixes,
    )
    got = {tuple(r) for r in terms.collect()}
    assert got == {
        (E + "alice", "42", E + "alice"),
        (E + "bob", "42", E + "bob"),
    }

    # repeated variable WITHIN a pattern: self-loops only
    loops = bgp_join(df, [("?x", "e:knows", "?x")], prefixes=prefixes)
    assert [r["x"] for r in loops.collect()] == [E + "loop"]

    # disconnected variable graph is refused (no silent cross join)
    with _pt.raises(ValueError, match="disconnected"):
        bgp_join(
            df, [("?a", "e:knows", "?b"), ("?c", "e:age", "?d")],
            prefixes=prefixes,
        )
    # fully bound patterns belong to pattern_filter, not bgp_join
    with _pt.raises(ValueError, match="fully bound"):
        bgp_join(df, [("e:alice", "e:knows", "e:bob")], prefixes=prefixes)
    with _pt.raises(ValueError, match="empty"):
        bgp_join(df, [])


def test_transitive_closure_known_graphs(spark):
    """p+ closure on hand-checkable shapes: a 4-chain yields all 6
    forward pairs; a diamond (a->b, a->c, b->d, c->d) adds (a,d)
    exactly once; a 3-cycle reaches everything INCLUDING self-pairs
    (SPARQL property-path semantics: x p+ x holds via the cycle);
    duplicate edges change nothing."""
    from tortank_spark.graph import transitive_closure

    chain = [(1, 2), (2, 3), (3, 4), (1, 2)]
    diamond = [(10, 11), (10, 12), (11, 13), (12, 13)]
    cycle = [(20, 21), (21, 22), (22, 20)]
    df = spark.createDataFrame(
        chain + diamond + cycle, "src long, dst long"
    )
    want = {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (10, 11), (10, 12), (10, 13), (11, 13), (12, 13),
    } | {(a, b) for a in (20, 21, 22) for b in (20, 21, 22)}
    got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
    assert got == want


def test_transitive_closure_round_cap(spark):
    """``max_rounds`` caps path length: on a 6-edge chain, two rounds
    past the edge set itself reach exactly the pairs joined by paths
    of at most 3 edges."""
    from tortank_spark.graph import transitive_closure

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    want = {(a, b) for a in range(7) for b in range(a + 1, min(a + 3, 6) + 1)}
    got = {
        (r["src"], r["dst"])
        for r in transitive_closure(df, max_rounds=2).collect()
    }
    assert got == want


def test_transitive_closure_random_dag_vs_python(spark):
    """Randomized check: closure of a seeded random DAG (edges only
    low->high so it is acyclic) equals a pure-Python Warshall
    fixpoint."""
    import random

    from tortank_spark.graph import transitive_closure

    rng = random.Random(7)
    n = 40
    edges = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(120)
    })
    reach = {u: {v for (a, v) in edges if a == u} for u in range(n)}
    changed = True
    while changed:
        changed = False
        for u in range(n):
            add = set()
            for v in reach[u]:
                add |= reach.get(v, set())
            if not add <= reach[u]:
                reach[u] |= add
                changed = True
    want = {(u, v) for u in range(n) for v in reach[u]}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
    assert got == want


def test_pagerank_integer_exact_replay(spark):
    """Integer PageRank equals a pure-Python replay of the same
    scaled-BIGINT recurrence, exactly (that exactness is the design:
    it is what makes the DuckDB oracle hashable); and it tracks the
    float recurrence to ~1e-6 relative, so the integer scaling is not
    distorting the semantics."""
    from tortank_spark.graph import pagerank

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("b", "a"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=10).collect()}

    scale = 10 ** 9
    nodes = sorted({x for e in edges for x in e})
    odeg = {}
    for s, _ in edges:
        odeg[s] = odeg.get(s, 0) + 1
    rank = {n: scale for n in nodes}
    frank = {n: 1.0 for n in nodes}
    for _ in range(10):
        inc = {n: 0 for n in nodes}
        finc = {n: 0.0 for n in nodes}
        for s, d in edges:
            inc[d] += rank[s] // odeg[s]
            finc[d] += frank[s] / odeg[s]
        rank = {n: 15 * scale // 100 + 85 * inc[n] // 100 for n in nodes}
        frank = {n: 0.15 + 0.85 * finc[n] for n in nodes}
    assert got == rank
    for n in nodes:
        assert abs(got[n] / scale - frank[n]) < 1e-6
    # rerun-stable (float PageRank would not be, at the last bits)
    again = {r["node"]: r["rank"] for r in pagerank(df, iterations=10).collect()}
    assert again == got


def test_dedup_clusters_partition_and_min_id(spark):
    """Pairs -> dedup decision: a transitive chain {1,2,3} collapses
    to one cluster kept at min id; ids 9 and 10 in one cluster must
    canonicalize to 9 (numeric min — the string-min trap "10" < "9"
    must NOT leak out of CC's string interface); singletons keep
    themselves with size 1; output covers EVERY doc exactly once."""
    from tortank_spark.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 9, 10, 42)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 10)], "a long, b long"
    )
    rows = dedup_clusters(pairs, docs).collect()
    got = {r["doc_id"]: (r["canonical_id"], r["cluster_size"], r["keep"])
           for r in rows}
    assert len(rows) == 6
    assert got == {
        1: (1, 3, True), 2: (1, 3, False), 3: (1, 3, False),
        9: (9, 2, True), 10: (9, 2, False),
        42: (42, 1, True),
    }


def test_asof_join_strict_and_nonstrict(spark):
    """Point-in-time join: each left event gets the LATEST prior
    right state per key; equal timestamps are invisible under
    strict=True and visible under strict=False; leading events with
    no prior state get nulls; keys never bleed into each other."""
    from datetime import datetime

    from tortank_spark.events import asof_join

    T = lambda s: datetime(2024, 1, 1, 0, s)
    left = spark.createDataFrame(
        [(1, T(0), "e0"), (1, T(5), "e1"), (1, T(10), "e2"),
         (2, T(7), "e3")],
        "user_id long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, T(5), 10.0), (1, T(9), 20.0), (2, T(8), 30.0)],
        "user_id long, ts timestamp, value double",
    )
    strict = {
        r["name"]: (r["value_asof"], r["ts_asof"])
        for r in asof_join(left, right, "user_id").collect()
    }
    assert strict == {
        "e0": (None, None),        # nothing prior
        "e1": (None, None),        # T(5) state invisible at T(5)
        "e2": (20.0, T(9)),
        "e3": (None, None),        # key 2's state is LATER
    }
    nonstrict = {
        r["name"]: r["value_asof"]
        for r in asof_join(left, right, "user_id", strict=False).collect()
    }
    assert nonstrict == {"e0": None, "e1": 10.0, "e2": 20.0, "e3": None}


def test_entity_cooccurrence_counts(spark):
    """Co-mention edges: pair counted once per doc regardless of
    mention multiplicity, ordered e1 < e2, min_docs filters."""
    from tortank_spark.linking import entity_cooccurrence

    links = spark.createDataFrame(
        [("u1", "e:a"), ("u1", "e:b"), ("u1", "e:b"),  # dup mention
         ("u2", "e:a"), ("u2", "e:b"), ("u2", "e:c"),
         ("u3", "e:c")],
        "url string, entity_iri string",
    )
    got = {(r["e1"], r["e2"]): r["n_docs"]
           for r in entity_cooccurrence(links).collect()}
    assert got == {("e:a", "e:b"): 2, ("e:a", "e:c"): 1, ("e:b", "e:c"): 1}
    got2 = {(r["e1"], r["e2"]): r["n_docs"]
            for r in entity_cooccurrence(links, min_docs=2).collect()}
    assert got2 == {("e:a", "e:b"): 2}


def test_salient_terms_integer_ranking(spark):
    """Top-k terms per doc: tf DESC first, corpus-df ASC breaks tf
    ties (rarer wins), term ASC makes the order total; k caps rows."""
    from tortank_spark.textops import salient_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana cherry"),
         (2, "banana banana cherry durian"),
         (3, "cherry")],
        "doc_id long, text string",
    )
    rows = salient_terms(docs, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
           for r in rows}
    # doc 1: apple tf=2; then banana/cherry tf=1 tie -> apple df=1,
    # banana df=2 < cherry df=3
    assert got[(1, 1)] == ("apple", 2, 1)
    assert got[(1, 2)] == ("banana", 1, 2)
    assert got[(2, 1)] == ("banana", 2, 2)
    assert got[(2, 2)] == ("durian", 1, 1)
    assert got[(3, 1)] == ("cherry", 1, 3)
    assert len(rows) == 5  # doc 3 has only one term


def test_filter_decision_ladder(spark):
    """Keep/drop gate: first failing rule wins — a 3-token doc is
    too_short even though it would also fail low_stopword; a long
    stopword-free doc with NO profile hits in any language is caught
    by low_stopword; a long doc whose only hits are non-English
    passes the ratio gate only if English stopwords appear, else
    reason ladder order decides; a normal English doc keeps."""
    from tortank_spark.textops import filter_decision

    en = ("the cat and the dog are in the house and they are happy "
          "with it all day long today")
    salad = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, "tiny doc here"), (2, en), (3, salad)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in filter_decision(docs).collect()}
    assert got == {
        1: (False, "too_short"),
        2: (True, None),
        3: (False, "low_stopword"),
    }
    # lang_und branch: plenty of tokens, stopword ratio above the
    # floor via English hits... impossible — en hits imply lang!=und.
    # und requires ZERO profile hits, which forces ratio 0 < floor,
    # so low_stopword always precedes lang_und with these defaults;
    # verify the branch is reachable when the ratio floor is disabled.
    got2 = {r["doc_id"]: r["reason"]
            for r in filter_decision(
                docs, min_tokens=3, min_stopword_ratio=0.0
            ).collect()}
    assert got2[3] == "lang_und"


def test_sample_neighbors_and_khop_deterministic(spark):
    """Neighbor sampling: exactly min(k, odeg) neighbors per node,
    salt- and rerun-invariant, equal to the Python replay of the
    md5(src:dst) definition; khop reuses one ranking for both hops
    (prefix property) and keeps leaves with null n2."""
    import hashlib

    from tortank_spark.sampling import khop_sample, sample_neighbors

    edges = [(f"u{i}", f"v{j}") for i in range(4) for j in range(6)]
    edges += [("v0", "w0"), ("v0", "w1"), ("v0", "w2")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def draw(n_salts):
        return {(r["src"], r["dst"], r["rank"])
                for r in sample_neighbors(df, 3, n_salts=n_salts).collect()}

    got = draw(64)
    assert draw(2) == got == draw(64)
    want = set()
    by_src = {}
    for s, d in edges:
        by_src.setdefault(s, []).append(
            (hashlib.md5(f"{s}:{d}".encode()).hexdigest(), d)
        )
    for s, lst in by_src.items():
        for i, (_, d) in enumerate(sorted(lst)[:3], 1):
            want.add((s, d, i))
    assert got == want

    rows = khop_sample(df, fanouts=(3, 2)).collect()
    # every root emits exactly 3 hop-1 rows; v* nodes except v0 are
    # leaves -> null n2; v0 rows expand to its 2 sampled w-neighbors
    u0 = [r for r in rows if r["root"] == "u0"]
    n1s = {r["n1"] for r in u0}
    assert {r["n1"] for r in u0 if r["n2"] is None} == n1s - {"v0"}
    if "v0" in n1s:
        assert sorted(r["r2"] for r in u0 if r["n1"] == "v0") == [1, 2]


def test_redact_pii_sequenced_counts(spark):
    """PII scrub: emails first, then IPv4s, then phone-like digit
    runs — each stage counts on the PREVIOUS stage's output, so the
    digits inside an already-redacted email/IP are never re-counted
    as a phone. Bracket tokens survive later stages."""
    from tortank_spark.textops import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk or call +1 (555) 010-2030"),
            (2, "host 10.0.200.250 and 999.1.2.3 stay distinct"),
            (3, "digits 12345678901 look phone-like; 1234 do not"),
            (4, "clean text, nothing to scrub"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    r1 = got[1]
    assert (r1["n_emails"], r1["n_ips"], r1["n_phones"]) == (1, 0, 1)
    assert r1["text_redacted"] == "mail [EMAIL] or call [PHONE]"
    r2 = got[2]
    # \b\d{1,3}(\.\d{1,3}){3}\b matches the embedded 999.1.2.3 too
    # (word-boundary, not value-range, semantics — documented)
    assert r2["n_ips"] == 2 and "[IP]" in r2["text_redacted"]
    assert r2["n_phones"] == 0
    r3 = got[3]
    assert (r3["n_emails"], r3["n_ips"], r3["n_phones"]) == (0, 0, 1)
    assert "1234 do not" in r3["text_redacted"]
    assert got[4]["text_redacted"] == "clean text, nothing to scrub"
    assert (got[5]["n_emails"], got[5]["n_phones"]) == (0, 0)


def test_repetition_signals_known_values(spark):
    """Gopher-style repetition stats on hand-computable docs: exact
    duplicate-line fraction, top-token and top-bigram mass; empty and
    single-token docs hit the greatest(..,1) guards, never NaN."""
    from tortank_spark.textops import repetition_signals

    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, 'b' duplicated twice -> dup 2/4
            (1, "a\nb\n\nb\nb"),
            # tokens: the the the cat -> top_tok 3/4;
            # bigrams: (the the) x2 (the cat) -> 2/3
            (2, "the the the cat"),
            (3, "solo"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert got[1]["n_lines"] == 4
    assert abs(got[1]["dup_line_frac"] - 0.5) < 1e-12
    assert abs(got[2]["top_token_frac"] - 0.75) < 1e-12
    assert abs(got[2]["top_bigram_frac"] - 2 / 3) < 1e-12
    assert got[3]["top_token_frac"] == 1.0
    assert got[3]["top_bigram_frac"] == 0.0  # no bigrams, guard hit
    assert got[4]["n_lines"] == 0
    assert got[4]["dup_line_frac"] == 0.0
    assert got[4]["top_token_frac"] == 0.0


def test_url_normalize_edge_cases(spark):
    """Canonical URL form on cases the synthetic contract table does
    not generate: bare host (no path), non-default port kept, https
    :443 stripped, path case preserved while host is lowered, param
    values containing '=', single-label hosts, co.COM (second-level
    heuristic must NOT fire on a 3-letter TLD)."""
    from tortank_spark.weburl import normalize_urls

    docs = spark.createDataFrame(
        [
            (1, "HTTPS://Ex.COM:443#frag"),
            (2, "http://ex.com:8080/A/B?x=a=b&utm_x=1"),
            (3, "http://localhost/p"),
            (4, "https://a.co.com/z"),
            (5, "http://deep.www.site.co.uk"),
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r for r in normalize_urls(docs).collect()}
    assert got[1]["url_norm"] == "https://ex.com/"
    assert got[1]["path_depth"] == 0
    r2 = got[2]
    assert r2["url_norm"] == "http://ex.com:8080/A/B?x=a=b"
    assert r2["path_depth"] == 2
    assert got[3]["domain"] == "localhost"  # <2 labels pass through
    assert got[4]["domain"] == "co.com"  # NOT a.co.com: 'com' is 3ch
    assert got[5]["domain"] == "site.co.uk"
    assert got[5]["host"] == "deep.www.site.co.uk"


def test_url_normalize_plan_is_shuffle_free(spark):
    """normalize_urls must stay a per-row projection — zero Exchange
    nodes, so at crawl scale it fuses into the scan stage."""
    import re

    from tortank_spark.weburl import normalize_urls

    from tests.test_plans import plan_of

    docs = spark.createDataFrame(
        [(1, "http://a.com/x")], "doc_id long, url string"
    )
    plan = plan_of(normalize_urls(docs))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0


def test_tfidf_topk_integer_ranking(spark):
    """Scaled-integer tf-idf: rarer terms weigh more via
    (1e6*N) DIV df; absent query terms contribute nothing; docs with
    no query term never appear; ties break by doc_id ASC."""
    from tortank_spark.textops import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "apple apple banana"),      # 2*idf(apple) + idf(banana)
         (2, "APPLE banana banana"),     # case-folds: apple + 2*banana
         (3, "banana"),
         (4, "cherry cherry cherry")],   # no query term -> excluded
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, ["apple", "Banana", "zzz_absent"], k=10)
    rows = {r["doc_id"]: (r["score"], r["rank"]) for r in out.collect()}
    # N=4; df(apple)=2 -> idf 2_000_000; df(banana)=3 -> idf 1_333_333
    ia, ib = (1_000_000 * 4) // 2, (1_000_000 * 4) // 3
    assert rows[1] == (2 * ia + ib, 1)
    assert rows[2] == (ia + 2 * ib, 2)
    assert rows[3] == (ib, 3)
    assert 4 not in rows and len(rows) == 3


def test_tfidf_topk_k_cap_and_tie(spark):
    from tortank_spark.textops import tfidf_topk

    docs = spark.createDataFrame(
        [(i, "apple") for i in range(10, 0, -1)], "doc_id long, text string"
    )
    rows = tfidf_topk(docs, ["apple"], k=3).collect()
    # identical scores -> doc_id ASC decides membership and rank
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(1, 1), (2, 2), (3, 3)]


def test_tfidf_topk_plan_is_distributed_topk(spark):
    """The corpus-wide ordering must be TakeOrderedAndProject (partial
    per-partition top-k), never a single-partition global Sort/Window
    over the scored corpus."""
    from tortank_spark.textops import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "apple banana")], "doc_id long, text string"
    )
    out = tfidf_topk(docs, ["apple"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bfs_distances_min_hop(spark):
    """Min-dist over a graph with a shortcut: seed s reaches d both
    via a 3-hop chain and a direct edge -> dist 1 wins; depth cap
    excludes far nodes; isolated seeds still emit dist 0."""
    from tortank_spark.graph import bfs_distances

    e = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "d"), ("s", "d"),
         ("d", "e"), ("e", "f"), ("f", "g")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",), ("lonely",)], "node string")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(e, seeds, max_depth=3).collect()}
    assert got == {"s": 0, "lonely": 0, "a": 1, "d": 1,
                   "b": 2, "e": 2, "f": 3}


def test_bfs_distances_cycle_and_multiseed(spark):
    from tortank_spark.graph import bfs_distances

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "c")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",), ("x",)], "node string")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(e, seeds, max_depth=6).collect()}
    # c is 1 from x (beats 2 from a); cycle terminates
    assert got == {"a": 0, "x": 0, "b": 1, "c": 1}


def test_negative_samples_exact_replay_and_filter(spark):
    """Every negative is the exact multiplicative hash the docstring
    promises (Python replay), collisions with the true object bump by
    one, and true facts never appear as label-0 rows."""
    from tortank_spark.sampling import (
        _NEG_A, _NEG_B, _NEG_C, _NEG_D, _NEG_M, negative_samples,
    )

    n = 7
    facts = [(1, 0, 3), (2, 0, 5), (4, 1, 0)]
    df = spark.createDataFrame(
        facts, "s_id bigint, p_id bigint, o_id bigint"
    )
    out = negative_samples(df, n_entities=n, k=2).collect()
    pos = {(r["s_id"], r["p_id"], r["o_id"]) for r in out if r["label"] == 1}
    neg = {(r["s_id"], r["p_id"], r["o_id"]) for r in out if r["label"] == 0}
    assert pos == set(facts)
    assert not (neg & pos)

    expect = set()
    for (s, p, o) in facts:
        for j in (1, 2):
            i0 = ((s % _NEG_M) * _NEG_A + (p % _NEG_M) * _NEG_B
                  + j * _NEG_C + (o % _NEG_M) * _NEG_D) % n
            if i0 == o:
                i0 = (i0 + 1) % n
            expect.add((s, p, i0))
    assert neg == expect - pos
    # pure function of the data: a rerun is bit-identical
    again = negative_samples(df, n_entities=n, k=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_negative_samples_collision_bump(spark):
    """A fact engineered so the hash lands ON the true object must
    bump to (i+1) % n, never emit the positive as a negative."""
    from tortank_spark.sampling import (
        _NEG_A, _NEG_C, _NEG_D, _NEG_M, negative_samples,
    )

    n = 5
    # find (s, o) with hash collision at j=1
    found = None
    for s in range(1, 200):
        for o in range(n):
            i0 = ((s % _NEG_M) * _NEG_A + _NEG_C + (o % _NEG_M) * _NEG_D) % n
            if i0 == o:
                found = (s, o)
                break
        if found:
            break
    s, o = found
    df = spark.createDataFrame(
        [(s, 0, o)], "s_id bigint, p_id bigint, o_id bigint"
    )
    rows = negative_samples(df, n_entities=n, k=1,
                            filter_false_negatives=False).collect()
    negs = [(r["o_id"]) for r in rows if r["label"] == 0]
    assert negs == [(o + 1) % n]


def test_hits_integer_exact_replay(spark):
    """5 rounds of integer-L1-normalized HITS replayed exactly in
    Python; rerun-stable; decimal path exercised via a hubby star
    (raw * scale would overflow int64 without it)."""
    from tortank_spark.graph import hits

    edges = [("h1", f"a{i}") for i in range(12)] + [
        ("h2", "a0"), ("h2", "a1"), ("a0", "h1")
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: (r["auth"], r["hub"])
           for r in hits(df, iterations=5).collect()}

    SCALE = 10 ** 9
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    hub = {n: SCALE for n in nodes}

    def half(scores, fan_in):
        raw = {n: 0 for n in nodes}
        for s, d in edges:
            if fan_in:
                raw[d] += scores[s]
            else:
                raw[s] += scores[d]
        t = max(sum(raw.values()), 1)
        return {n: raw[n] * SCALE // t for n in nodes}

    for _ in range(5):
        auth = half(hub, True)
        hub = half(auth, False)
    assert got == {n: (auth[n], hub[n]) for n in nodes}
    assert got["h1"][1] > got["h2"][1] > 0  # bigger hub wins
    again = {r["node"]: (r["auth"], r["hub"])
             for r in hits(df, iterations=5).collect()}
    assert got == again


def _replay_walks(edges, walk_length, walks_per_node, max_degree):
    """Pure-Python replay of graph.random_walks (md5-ranked capped
    adjacency + multiplicative-hash step choice)."""
    import hashlib

    M, A, B, C, D = 2147483647, 1103515245, 747796405, 62089911, 104729
    adjfull: dict = {}
    for s, d in set(edges):
        adjfull.setdefault(s, []).append(d)
    adj = {
        s: sorted(
            ds, key=lambda d: (hashlib.md5(f"{s}:{d}".encode()).hexdigest(), d)
        )[:max_degree]
        for s, ds in adjfull.items()
    }
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    exp = set()
    for n in sorted(nodes):
        for w in range(1, walks_per_node + 1):
            cur = n
            exp.add((n, w, 0, n))
            for t in range(1, walk_length + 1):
                if cur not in adj:
                    break  # sink: walk ends early
                cd = len(adj[cur])
                i = ((n % M) * A + w * B + t * C + (cur % M) * D) % cd
                cur = adj[cur][i]
                exp.add((n, w, t, cur))
    return exp


def test_random_walks_exact_replay(spark):
    """Every step of every walk replayed exactly in Python: md5-ranked
    degree-capped adjacency (cap bites on node 2, degree 3 > cap 2),
    sink termination (node 6), duplicate input edges collapse,
    rerun stability."""
    from tortank_spark.graph import random_walks

    edges = [
        (1, 2), (1, 3), (2, 1), (2, 3), (2, 4), (3, 1), (4, 1),
        (5, 6), (5, 6),  # duplicate edge must not double idx space
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = random_walks(df, walk_length=3, walks_per_node=2, max_degree=2)
    got = {(r["start"], r["walk"], r["step"], r["node"])
           for r in out.collect()}
    exp = _replay_walks(edges, 3, 2, 2)
    assert got == exp
    assert (6, 1, 0, 6) in got  # pure-sink node still emits step 0
    assert not any(s == 6 and st > 0 for s, _, st, _ in got)
    again = {(r["start"], r["walk"], r["step"], r["node"])
             for r in random_walks(
                 df, walk_length=3, walks_per_node=2, max_degree=2
             ).collect()}
    assert got == again


def test_neighborhood_jaccard_exact(spark):
    """Known overlaps produce exact integer ppm scores; a celebrity
    neighbor above max_df is excluded from pairing AND degrees; a < b
    canonical order; min_common prunes."""
    from tortank_spark.linking import neighborhood_jaccard

    edges = [
        ("n1", "x"), ("n1", "y"), ("n1", "z"),
        ("n2", "x"), ("n2", "y"),
        ("n3", "z"),
        ("n4", "c"), ("n5", "c"), ("n6", "c"),  # fan-in 3 > max_df 2
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["a"], r["b"]): (r["common"], r["deg_a"], r["deg_b"],
                              r["jaccard_ppm"])
           for r in neighborhood_jaccard(df, max_df=2).collect()}
    assert got == {
        ("n1", "n2"): (2, 3, 2, 2 * 10 ** 6 // 3),
        ("n1", "n3"): (1, 3, 1, 10 ** 6 // 3),
    }
    strict = neighborhood_jaccard(df, max_df=2, min_common=2).collect()
    assert [(r["a"], r["b"]) for r in strict] == [("n1", "n2")]
    # no cap: the celebrity pairs appear, jaccard 1.0 exactly
    free = {(r["a"], r["b"]): r["jaccard_ppm"]
            for r in neighborhood_jaccard(df, max_df=None).collect()}
    assert free[("n4", "n5")] == 10 ** 6
    assert ("n2", "n1") not in free  # canonical order only


def test_split_assign_deterministic(spark):
    """Assignments replay exactly in Python, survive repartitioning,
    cover every row, and different salts give different carves."""
    from tortank_spark.sampling import split_assign

    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    out = split_assign(df, "doc_id", (("train", 8), ("val", 1),
                                      ("test", 1)), salt=3)
    got = {r["doc_id"]: r["split"] for r in out.collect()}

    M, A, C = 2_147_483_647, 1_103_515_245, 62_089_911
    names = ["train"] * 8 + ["val", "test"]
    exp = {i: names[((i % M) * A + 4 * C) % M % 10] for i in range(1000)}
    assert got == exp
    assert set(exp.values()) == {"train", "val", "test"}  # all used
    # partitioning-invariant
    re = {r["doc_id"]: r["split"]
          for r in split_assign(df.repartition(13), "doc_id",
                                (("train", 8), ("val", 1), ("test", 1)),
                                salt=3).collect()}
    assert re == got
    # independent carve per salt
    other = {r["doc_id"]: r["split"]
             for r in split_assign(df, "doc_id",
                                   (("train", 8), ("val", 1),
                                    ("test", 1)), salt=4).collect()}
    assert other != got
    import pytest
    with pytest.raises(ValueError):
        split_assign(df, "doc_id", (("a", 0),))


def test_propagate_labels_dynamics(spark):
    """Majority vote with (count desc, label asc) tie-break; seeds
    clamped against hostile neighborhoods; seed conflicts resolve to
    min(label); a node flips when round-2 majority overturns its
    round-1 label (synchronous semantics)."""
    from tortank_spark.graph import propagate_labels

    edges = [
        ("a", "n"), ("m1", "n"), ("m2", "n"),      # n: L1 then flip L2
        ("b1", "m1"), ("b2", "m2"),
        ("a", "x"), ("b1", "x"),                    # x: 1-1 tie -> L1
        ("m1", "a"), ("m2", "a"),                   # hostile votes at seed a
    ]
    seeds = [("a", "L1"), ("a", "L9"),              # conflict -> L1
             ("b1", "L2"), ("b2", "L2")]
    e = spark.createDataFrame(edges, "src string, dst string")
    s = spark.createDataFrame(seeds, "node string, label string")

    r1 = {r["node"]: r["label"]
          for r in propagate_labels(e, s, rounds=1).collect()}
    assert r1 == {"a": "L1", "b1": "L2", "b2": "L2",
                  "n": "L1",            # only seed a voted yet
                  "x": "L1",            # L1 vs L2 tie -> smaller label
                  "m1": "L2", "m2": "L2"}
    r2 = {r["node"]: r["label"]
          for r in propagate_labels(e, s, rounds=2).collect()}
    assert r2["n"] == "L2"              # 2x L2 beats 1x L1 in round 2
    assert r2["a"] == "L1"              # clamped despite 2x L2 votes
    again = {r["node"]: r["label"]
             for r in propagate_labels(e, s, rounds=2).collect()}
    assert r2 == again


def test_inlink_profile_exact(spark):
    """Counts, distinct subjects/preds, and tie-broken top predicate
    pinned by hand; literal objects excluded by kind."""
    from tortank_spark.profiling import inlink_profile

    rows = [
        ("s1", "p1", "E", "iri"), ("s2", "p1", "E", "iri"),
        ("s1", "p2", "E", "iri"), ("s1", "p1", "E", "iri"),  # dup edge counts
        ("s3", "p9", "F", "iri"),
        ("s1", "p1", "E", "literal"),                         # excluded
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, o_kind string")
    got = {r["iri"]: (r["n_inlinks"], r["n_subjects"], r["n_preds"],
                      r["top_pred"], r["top_pred_n"])
           for r in inlink_profile(df).collect()}
    assert got == {"E": (4, 2, 2, "p1", 3), "F": (1, 1, 1, "p9", 1)}
    # tie -> smallest predicate IRI wins
    tie = spark.createDataFrame(
        [("a", "pB", "X", "iri"), ("b", "pA", "X", "iri")],
        "s string, p string, o string, o_kind string")
    t = inlink_profile(tie).collect()[0]
    assert (t["top_pred"], t["top_pred_n"]) == ("pA", 1)


def test_collocations_exact_counts(spark):
    """Bigram/unigram counts and the integer PMI proxy pinned by hand;
    bigrams wrap inside docs but never across docs; min_count prunes;
    1-token docs contribute unigrams only."""
    from tortank_spark.textops import collocations

    docs = [
        (1, "new york new york"),
        (2, "york new"),
        (3, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["a"], r["b"]): (r["n_xy"], r["c_a"], r["c_b"], r["pmi_ppm"])
           for r in collocations(df, min_count=1).collect()}
    # tokens: new x3, york x3, solo x1 -> N = 7
    # bigrams: doc1 -> (new,york), (york,new), (new,york); doc2 -> (york,new)
    N = 7
    assert got[("new", "york")] == (2, 3, 3, 2 * N * 10 ** 6 // 9)
    assert got[("york", "new")] == (2, 3, 3, 2 * N * 10 ** 6 // 9)
    assert ("york", "solo") not in got  # no cross-doc bigram
    assert len(got) == 2
    assert collocations(df, min_count=3).collect() == []


def test_scd2_history_intervals(spark):
    """Consecutive duplicates compress, intervals chain exactly,
    equal-ts ties resolve by event id (total order), open interval is
    null, per-key isolation."""
    import datetime as dt

    from tortank_spark.events import scd2_history

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(1), 10, "a"), (2, T(2), 10, "a"),   # dup -> compressed
        (3, T(3), 10, "b"),
        (4, T(4), 10, "b"), (5, T(5), 10, "a"),
        (6, T(6), 20, "x"),
        # equal ts, ids decide order: id 7 then 8 -> 'p' then 'q'
        (7, T(9), 30, "p"), (8, T(9), 30, "q"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {(r["user_id"], r["version"]):
           (r["attr"], r["valid_from"], r["valid_to"])
           for r in scd2_history(df).collect()}
    assert got == {
        (10, 1): ("a", T(1), T(3)),
        (10, 2): ("b", T(3), T(5)),
        (10, 3): ("a", T(5), None),
        (20, 1): ("x", T(6), None),
        (30, 1): ("p", T(9), T(9)),
        (30, 2): ("q", T(9), None),
    }


def test_boilerplate_stats_line_mode(spark):
    """Per-domain chrome detected, cross-domain words spared: a nav
    line shared by 2/3 docs of domain A is boilerplate there; the
    same line appearing once in domain B is NOT boilerplate in B
    (group-conditional df); repeated occurrences inside one doc all
    count in the share; thresholds replayed by hand."""
    from tortank_spark.textops import boilerplate_stats

    docs = [
        ("A", 1, "Nav Bar\nunique alpha\nnav bar"),   # nav bar x2 (case-folded)
        ("A", 2, "nav bar\nunique beta"),
        ("A", 3, "unique gamma"),
        ("B", 4, "nav bar\nsolo text"),
    ]
    df = spark.createDataFrame(docs, "source string, doc_id long, text string")
    got = {r["doc_id"]: (r["n_units"], r["n_boiler"], r["boiler_ppm"])
           for r in boilerplate_stats(df, min_docs=2,
                                      min_frac_ppm=500_000).collect()}
    # domain A: 'nav bar' ldf=2 of gn=3 -> 666667 ppm >= 500000 -> boiler
    assert got[1] == (3, 2, 2 * 10 ** 6 // 3)
    assert got[2] == (2, 1, 500_000)
    assert got[3] == (1, 0, 0)
    assert got[4] == (2, 0, 0)  # ldf=1 in B: spared


def test_clustering_coefficients_exact(spark):
    """A 4-clique (cc=1), a star center (cc=0), a half-closed wedge
    apex, and a degree-1 leaf — all pinned by hand in exact ppm."""
    from tortank_spark.graph import clustering_coefficients

    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    star = [("s", x) for x in ("x1", "y1", "z1")]
    wedge = [("w", "x"), ("w", "y"), ("x", "y"), ("w", "z2")]  # w: deg 3, 1 tri
    df = spark.createDataFrame(clique + star + wedge,
                               "src string, dst string")
    got = {r["node"]: (r["deg"], r["n_tri"], r["cc_ppm"])
           for r in clustering_coefficients(df).collect()}
    assert got["a"] == (3, 3, 10 ** 6)          # clique: fully closed
    assert got["s"] == (3, 0, 0)                 # star center: open
    # w: deg 3 (x, y, z2), one triangle w-x-y -> 2*1/(3*2)
    assert got["w"] == (3, 1, 2 * 10 ** 6 // 6)
    assert got["z2"] == (1, 0, 0)                # leaf: defined 0


def test_personalized_pagerank_replay(spark):
    """Seeded-teleport PageRank replayed exactly in Python: teleport
    and initial mass land only on seeds, non-seeds rank purely by
    received mass; seeds=None stays the classic variant."""
    from tortank_spark.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iterations=4, seeds=seeds).collect()}

    SCALE, BASE = 10 ** 9, 150_000_000
    odeg = {}
    for s, _ in edges:
        odeg[s] = odeg.get(s, 0) + 1
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    rank = {n: SCALE if n == 1 else 0 for n in nodes}
    for _ in range(4):
        sums = {n: 0 for n in nodes}
        for s, d in edges:
            sums[d] += rank[s] // odeg[s]
        rank = {n: (BASE if n == 1 else 0) + 85 * sums[n] // 100
                for n in nodes}
    assert got == rank
    assert got[5] == 0  # nothing points at 5; no teleport either
    assert got[1] > got[2] > 0


def test_kmeans_lloyd_exact_replay(spark):
    """Every quantization, assignment, tie-break, and integer-mean
    update replayed in Python (negative coords included); an empty
    cluster keeps its previous centroid; rerun-stable."""
    from tortank_spark.similarity import kmeans_lloyd

    vecs = [
        (0, [0.0, 0.1]), (1, [0.02, 0.12]), (2, [1.0, 1.0]),
        (3, [0.9, 1.1]), (4, [-1.0, -1.0]), (5, [-0.9, -1.2]),
        (6, [0.01, 0.09]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r["vid"]: (r["cid"], r["d"])
           for r in kmeans_lloyd(df, k=3, iters=2).collect()}

    import math
    S = 10 ** 6
    # replicate float32 storage then the double widening
    import numpy as np
    q = {i: [int(math.floor(float(np.float32(x)) * S)) for x in v]
         for i, v in vecs}
    cent = {c: q[c][:] for c in range(3)}  # init: ids 0,1,2

    def assign(cent):
        out = {}
        for i, qv in q.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(qv, cent[c])), c)
                for c in sorted(cent)
            )
            out[i] = (best[1], best[0])
        return out

    def idiv(s, n):  # truncation toward zero, Spark DIV semantics
        return int(s / n) if s < 0 else s // n

    for _ in range(2):
        a = assign(cent)
        for c in sorted(cent):
            members = [q[i] for i, (ci, _) in a.items() if ci == c]
            if members:
                cent[c] = [idiv(sum(col), len(members))
                           for col in zip(*members)]
    exp = {i: (c, d) for i, (c, d) in assign(cent).items()}
    assert got == exp
    again = {r["vid"]: (r["cid"], r["d"])
             for r in kmeans_lloyd(df, k=3, iters=2).collect()}
    assert got == again


def test_kmeans_lloyd_empty_cluster_keeps_centroid(spark):
    """Identical init points tie-break to the lower cid, leaving the
    higher empty from round 1 — it must keep its previous centroid
    (not vanish / NaN) and stay assignable."""
    from tortank_spark.similarity import kmeans_lloyd

    vecs = [(0, [0.0]), (1, [0.0]), (2, [5.0]), (3, [5.1])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r["vid"]: r["cid"]
           for r in kmeans_lloyd(df, k=3, iters=2).collect()}
    # c1 inits identical to c0 -> all its would-be members tie to c0
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}


def test_group_quantiles_exact(spark):
    """Discrete-percentile ranks pinned by hand on known groups,
    including the n=1 group (every q maps to the only value) and
    duplicate values at the cut."""
    from tortank_spark.textops import group_quantiles

    rows = [("a", v) for v in [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]]
    rows += [("b", 7)]
    rows += [("c", v) for v in [5, 5, 5, 99]]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {(r["g"], r["q_pct"]): r["value"]
           for r in group_quantiles(df, "g", "v", (50, 90, 99)).collect()}
    assert got == {
        ("a", 50): 50, ("a", 90): 90, ("a", 99): 100,
        ("b", 50): 7, ("b", 90): 7, ("b", 99): 7,
        # c: n=4 -> ranks ceil(2)=2, ceil(3.6)=4, ceil(3.96)=4
        ("c", 50): 5, ("c", 90): 99, ("c", 99): 99,
    }


def test_kcore_peeling(spark):
    """A 4-clique survives k=3, its pendant chain peels away in
    CASCADE (the chain's inner node only drops after its outer
    neighbor does); k above the max degree empties; in-core degrees
    are recounted within the core."""
    from tortank_spark.graph import kcore

    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    chain = [("d", "e"), ("e", "f"), ("f", "g")]
    df = spark.createDataFrame(clique + chain, "src string, dst string")
    got = {r["node"]: r["deg"] for r in kcore(df, k=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}  # d's chain edge gone
    two = {r["node"]: r["deg"] for r in kcore(df, k=1).collect()}
    assert set(two) == set("abcdefg")
    assert kcore(df, k=10).collect() == []


def test_fuzzy_pairs_fastss(spark):
    """Edit-distance-1 pairs found through every edit type (sub, ins,
    del), distance-2 pairs rejected by the verify, exact duplicates
    distance 0, canonical id order, max_df key cap drops the hot
    group."""
    from tortank_spark.linking import fuzzy_pairs

    rows = [
        (1, "acme corp"), (2, "acme carp"),   # substitution
        (3, "acme corps"),                    # insertion vs 1
        (4, "acme cor"),                      # deletion vs 1
        (5, "acme xyzw"),                     # far away
        (6, "acme corp"),                     # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["a_id"], r["b_id"]): r["dist"]
           for r in fuzzy_pairs(df, "id", "name").collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert got[(1, 6)] == 0
    assert (2, 3) not in got          # dist 2: blocked or verified away
    assert all(a < b for a, b in got)
    assert not any(5 in p for p in got)
    capped = fuzzy_pairs(df, "id", "name", max_df=1).collect()
    assert capped == []               # every shared key exceeds df 1


def test_key_skew_exact_report(spark):
    """Exact counts, deterministic rank tie-break (n desc, key asc),
    integer ppm shares, and the max-over-mean skew factor on a
    hand-computable distribution; top_k truncates."""
    from tortank_spark.profiling import key_skew

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("a",)] * 3 + [("z",)] * 2
    df = spark.createDataFrame(rows, "k string")
    got = key_skew(df, "k", top_k=3).collect()
    assert [(r["key"], r["n"], r["rank"]) for r in got] == [
        ("hot", 6, 1), ("a", 3, 2), ("warm", 3, 3)  # tie: a < warm
    ]
    r0 = got[0]
    assert r0["total_rows"] == 14 and r0["n_keys"] == 4
    assert r0["share_ppm"] == 6 * 1_000_000 // 14
    # skew = max_n * n_keys * 1e6 DIV total = 6*4*1e6 DIV 14
    assert r0["skew_ppm"] == 6 * 4 * 1_000_000 // 14
    assert got[1]["share_ppm"] == 3 * 1_000_000 // 14


def test_latest_facts_last_wins(spark):
    """Winner is max(ts, o, src): newest timestamp wins; equal
    timestamps break to larger o then larger src; history stats
    (first/last seen, n_obs, n_distinct_o) are exact."""
    import datetime as dt

    from tortank_spark.freshness import latest_facts

    t1 = dt.datetime(2026, 1, 1)
    t2 = dt.datetime(2026, 2, 1)
    rows = [
        ("e1", "name", "Alpha", "u1", t1),
        ("e1", "name", "Beta", "u2", t2),     # newest -> wins
        ("e1", "name", "Alpha", "u3", t1),    # old repeat
        ("e2", "name", "X", "u1", t2),
        ("e2", "name", "Y", "u2", t2),        # tie ts -> larger o wins
        ("e3", "name", "Q", "u9", t1),
        ("e3", "name", "Q", "u1", t1),        # tie ts+o -> larger src
    ]
    df = spark.createDataFrame(
        rows, "s string, p string, o string, src string, ts timestamp")
    got = {r["s"]: r for r in latest_facts(df).collect()}
    assert got["e1"]["o_latest"] == "Beta"
    assert got["e1"]["src_latest"] == "u2"
    assert got["e1"]["first_seen"] == t1
    assert got["e1"]["last_seen"] == t2
    assert got["e1"]["n_obs"] == 3 and got["e1"]["n_distinct_o"] == 2
    assert got["e2"]["o_latest"] == "Y"
    assert got["e3"]["o_latest"] == "Q" and got["e3"]["src_latest"] == "u9"


def test_harmonic_centrality_seeded(spark):
    """Two seeds over a directed path graph: contributions are
    scale DIV dist summed per node over the seeds that reach it;
    seeds at dist 0 contribute nothing; depth cap truncates;
    unreachable nodes absent."""
    from tortank_spark.graph import harmonic_centrality

    # s1 -> a -> b -> c ; s2 -> b ; island x -> y
    edges = [("s1", "a"), ("a", "b"), ("b", "c"), ("s2", "b"),
             ("x", "y")]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("s1",), ("s2",)], "node string")
    got = {r["node"]: (r["n_reached_from"], r["harmonic_ppm"])
           for r in harmonic_centrality(e, seeds, max_depth=4).collect()}
    M = 1_000_000
    assert got["a"] == (1, M)                    # s1 at d=1
    assert got["b"] == (2, M // 2 + M)           # s1 d=2, s2 d=1
    assert got["c"] == (2, M // 3 + M // 2)      # s1 d=3, s2 d=2
    assert "x" not in got and "y" not in got
    assert "s1" not in got and "s2" not in got   # d=0 excluded
    capped = {r["node"]: r["harmonic_ppm"]
              for r in harmonic_centrality(e, seeds,
                                           max_depth=1).collect()}
    assert capped == {"a": M, "b": M}


def test_reciprocity_per_node(spark):
    """Mutual pairs counted exactly, one-way links not, self-loops
    and duplicate rows excluded; ppm is integer-exact."""
    from tortank_spark.graph import reciprocity

    edges = [("a", "b"), ("b", "a"),            # mutual
             ("a", "c"), ("a", "c"),            # one-way (dup row)
             ("c", "d"), ("d", "c"),            # mutual
             ("d", "d")]                        # self-loop dropped
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: (r["out_deg"], r["n_reciprocal"], r["recip_ppm"])
           for r in reciprocity(e).collect()}
    assert got["a"] == (2, 1, 500_000)   # a->b mutual, a->c not
    assert got["b"] == (1, 1, 1_000_000)
    assert got["c"] == (1, 1, 1_000_000)  # c->d mutual; a->c is inbound
    assert got["d"] == (1, 1, 1_000_000)  # self-loop dropped


def test_crawl_delta_set_semantics(spark):
    """crawl_delta: one-sided triples only, duplicates collapse (set
    semantics, P23), unchanged rows absent, null key columns compare
    null-safely."""
    from tortank_spark.freshness import crawl_delta

    cols = "s string, p string, o string, o_dt string"
    old = spark.createDataFrame(
        [("a", "p", "1", None), ("a", "p", "1", None),  # dup in-crawl
         ("b", "p", "2", "dt"), ("c", "p", "3", None)], cols)
    new = spark.createDataFrame(
        [("a", "p", "1", None),            # unchanged (null o_dt both)
         ("b", "p", "2", "dt2"),           # changed datatype
         ("d", "p", "4", None)], cols)     # new subject
    got = {(r["change"], r["s"], r["p"], r["o"], r["o_dt"])
           for r in crawl_delta(old, new).collect()}
    assert got == {
        ("removed", "b", "p", "2", "dt"),
        ("added", "b", "p", "2", "dt2"),
        ("removed", "c", "p", "3", None),
        ("added", "d", "p", "4", None),
    }


def test_crawl_delta_empty_sides(spark):
    from tortank_spark.freshness import crawl_delta

    cols = "s string, p string, o string"
    some = spark.createDataFrame([("a", "p", "1")], cols)
    empty = spark.createDataFrame([], cols)
    assert crawl_delta(some, some).count() == 0
    assert [r["change"] for r in crawl_delta(some, empty).collect()] == [
        "removed"]
    assert [r["change"] for r in crawl_delta(empty, some).collect()] == [
        "added"]


def test_transe_score_hand_values(spark):
    """||e_h + e_r - e_t||^2 replayed by hand, incl. the exact-match
    zero-energy fact."""
    from tortank_spark.sampling import transe_score

    ents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>")
    rels = spark.createDataFrame(
        [(5, [0.0, 1.0])], "vec_id long, embedding array<float>")
    cand = spark.createDataFrame(
        [(0, 5, 2), (1, 5, 2), (2, 5, 0)], "h long, r long, t long")
    got = {(r["h"], r["r"], r["t"]): r["score"]
           for r in transe_score(cand, ents, rels).collect()}
    # (0,5,2): [1,0]+[0,1]-[1,1] = [0,0] -> 0
    # (1,5,2): [0,1]+[0,1]-[1,1] = [-1,1] -> 2
    # (2,5,0): [1,1]+[0,1]-[1,0] = [0,2] -> 4
    assert got == {(0, 5, 2): 0.0, (1, 5, 2): 2.0, (2, 5, 0): 4.0}


def test_transe_score_broadcasts_relations(spark):
    from tests.test_plans import plan_of
    from tortank_spark.sampling import transe_score

    ents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    cand = spark.createDataFrame([(0, 0, 0)], "h long, r long, t long")
    plan = plan_of(transe_score(cand, ents, ents))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_sampled_degenerate_probabilities(spark):
    """p=1 must reproduce the exact global count (estimator is exact
    at full retention); p=0 keeps nothing and estimates zero."""
    from tortank_spark.graph import triangle_count_sampled, triangle_counts

    # K6: C(6,3) = 20 triangles
    edges = spark.createDataFrame(
        [(i, j) for i in range(6) for j in range(i + 1, 6)],
        "src long, dst long")
    full = triangle_count_sampled(edges, p_ppm=1_000_000).collect()[0]
    assert full["n_tri_sampled"] == 20 and full["est_n_tri"] == 20
    assert full["n_edges_kept"] == 15
    exact = triangle_counts(edges)
    assert sum(r["n_tri"] for r in exact.collect()) == 60  # 3 per tri
    none = triangle_count_sampled(edges, p_ppm=0).collect()[0]
    assert none["n_edges_kept"] == 0 and none["est_n_tri"] == 0


def test_triangle_count_sampled_gate_is_md5_deterministic(spark):
    """The keep-gate replays in pure Python (same md5 idiom as the
    sampling module) — run-to-run and engine-to-engine stable, and a
    different salt redraws the sample."""
    import hashlib

    from tortank_spark.graph import triangle_count_sampled

    edges = spark.createDataFrame(
        [(i, j) for i in range(12) for j in range(i + 1, 12)],
        "src long, dst long")
    p_ppm = 400_000

    def kept_py(salt):
        k = 0
        for i in range(12):
            for j in range(i + 1, 12):
                h = int(hashlib.md5(
                    f"{salt}:{i}:{j}".encode()).hexdigest()[:15], 16)
                k += (h % 1_000_000) < p_ppm
        return k

    got = triangle_count_sampled(
        edges, p_ppm=p_ppm, salt="doulion").collect()[0]
    assert got["n_edges_kept"] == kept_py("doulion")
    redraw = triangle_count_sampled(
        edges, p_ppm=p_ppm, salt="other").collect()[0]
    assert redraw["n_edges_kept"] == kept_py("other")


def test_chunk_windows_exact_geometry(spark):
    """Window starts, overlap sharing, short tail, single-window doc,
    sub-overlap doc, and blank-doc exclusion — replayed by hand."""
    from tortank_spark.textops import chunk_windows

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
         (2, "a b c"),                               # < overlap
         (3, ""), (4, "   \t\n ")],                  # blank: nothing
        "doc_id long, text string")
    out = chunk_windows(docs, "doc_id", "text", size=4, overlap=2)
    got = {(r["id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
           for r in out.collect()}
    # doc 1: stride 2, starts 0,2,4,6 (greatest(10-2-1,0)=7 -> 0..7
    # step 2 -> 0,2,4,6); windows of 4, tail at 6 has 4
    assert got == {
        (1, 0): (4, "t0 t1 t2 t3"),
        (1, 1): (4, "t2 t3 t4 t5"),
        (1, 2): (4, "t4 t5 t6 t7"),
        (1, 3): (4, "t6 t7 t8 t9"),
        (2, 0): (3, "a b c"),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_windows(docs, "doc_id", "text", size=4, overlap=4)


def test_chunk_windows_is_codegen_only(spark):
    """No Python stage, no shuffle: the chunker must stay inside
    whole-stage codegen (split/sequence/posexplode/slice)."""
    from tests.test_plans import plan_of
    from tortank_spark.textops import chunk_windows

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = plan_of(chunk_windows(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan  # the posexplode


def test_chunk_windows_reconstruct_document(spark):
    """PROPERTY: dropping each window's first `overlap` tokens (after
    window 0) and concatenating reconstructs the original token
    stream exactly — no token lost, duplicated, or reordered, for
    lengths spanning every boundary case around size/stride."""
    from tortank_spark.textops import chunk_windows

    size, overlap = 8, 3
    stride = size - overlap
    lengths = [1, 2, overlap, overlap + 1, size - 1, size, size + 1,
               2 * stride, 2 * stride + overlap, 37, 100]
    docs = spark.createDataFrame(
        [(n, " ".join(f"w{i}" for i in range(n))) for n in lengths],
        "doc_id long, text string")
    out = chunk_windows(docs, "doc_id", "text", size=size,
                        overlap=overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(
            (r["chunk_id"], r["chunk_text"].split(" ")))
    for n in lengths:
        chunks = [t for _, t in sorted(by_doc[n])]
        rebuilt = list(chunks[0])
        for c in chunks[1:]:
            assert c[:overlap] == rebuilt[-overlap:]  # overlap agrees
            rebuilt.extend(c[overlap:])
        assert rebuilt == [f"w{i}" for i in range(n)], n


def test_winnow_doc_fingerprint_set_equals_distinct_fingerprints(spark):
    """The shuffle-free per-doc-distinct fp stage must produce exactly
    the set winnow_dedup_pairs previously built as
    winnow_fingerprints().select(id, fp).distinct() — including the
    short-text whole-text-hash row and repeated-minimum texts."""
    from tortank_spark.textops import (
        winnow_doc_fingerprint_set, winnow_fingerprints,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dog " * 4),
        (3, "completely different content with its own n-grams here"),
        (4, "aaaaaaaaaaaaaaaaaaaaaaaa"),  # degenerate repeated minima
        (5, "hi"),                          # shorter than k
        (6, ""),                            # empty
        (7, "unicode éè café naïve   text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(docs, "doc_id")
        .select("doc_id", "fp").distinct().collect()
    )
    got = sorted(
        (r.doc_id, r.fp)
        for r in winnow_doc_fingerprint_set(docs, "doc_id").collect()
    )
    assert got == want
    # and rows are already unique (no duplicate (id, fp) anywhere)
    assert len(got) == len(set(got))
