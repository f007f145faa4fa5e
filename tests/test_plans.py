"""Physical-plan hygiene assertions — the 100-TB design contracts that
correctness tests can't see. Each test pins a property of the plan
Catalyst actually produces: column pruning reaching the scan, predicate
pushdown, broadcast on the small join side, and no cartesian product in
any bucketed candidate generator."""

import contextlib
import re

import pyspark.sql.functions as F
import pytest


def plan_of(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


@contextlib.contextmanager
def captured_checkpoints(monkeypatch):
    """Record every ``localCheckpoint`` call made inside the block as a
    (checkpointed frame, checkpoint) pair. PySpark 4.1 dispatches the
    call on the classic DataFrame class, so that is the one patched —
    a patch on the base ``pyspark.sql.DataFrame`` is never called."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        seen.append((self, out))
        return out

    with monkeypatch.context() as mp:
        mp.setattr(DataFrame, "localCheckpoint", spy)
        yield seen


def checkpointed_frame(monkeypatch, build):
    """Run ``build()`` and return the frame it last checkpointed. The
    cache-holding builders return a checkpoint, whose own plan is a
    bare ``Scan ExistingRDD`` with no join in it; the captured frame
    carries the plan the builder ran. Asserts that plan holds a join,
    so a plan test reading it cannot pass vacuously."""
    with captured_checkpoints(monkeypatch) as seen:
        build()
    assert seen, "the builder checkpointed nothing"
    frame = seen[-1][0]
    assert "Join" in plan_of(frame), "the captured plan holds no join"
    return frame


def _ancestors(lines, i):
    """The operator lines above ``lines[i]`` in a printed plan tree,
    nearest first: each is the closest earlier line at a shallower
    indent than the one before it."""
    def depth(ln):
        return len(re.match(r"[\s:+-]*", ln).group())

    d = depth(lines[i])
    for ln in reversed(lines[:i]):
        if depth(ln) < d:
            d = depth(ln)
            yield ln


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from tortank_spark import fixtures

    p = str(tmp_path_factory.mktemp("plans") / "pages")
    fixtures.make_pages(spark, n_pages=64, n_partitions=2,
                        include_broken=False).write.parquet(p)
    return p


def test_extraction_prunes_scan_to_url_text(spark, pages_parquet):
    """The parse stage must read ONLY url+text from the page table —
    html (binary, the fat column) stays untouched on disk."""
    from tortank_spark.extract import extract_triples

    pages = spark.read.parquet(pages_parquet)
    plan = plan_of(extract_triples(pages))
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "url" in read_schema and "text" in read_schema
    assert "html" not in read_schema and "warc_ts" not in read_schema


def _map_stage(spark, stage):
    import numpy as np

    from tortank_spark import dedup, multimodal, similarity, textops, weblinks

    docs = spark.createDataFrame(
        [(i, f'<a href="/p{i}">tok{i}</a> tok{i+1} tok{i+2}')
         for i in range(8)],
        "doc_id long, text string",
    )
    media = multimodal.make_media_table(spark, 6)
    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    return {
        "extract_links": lambda: weblinks.extract_links(
            docs.selectExpr("concat('http://h.example/', doc_id) AS url",
                            "text")),
        "minhash_signatures": lambda: dedup.minhash_signatures(docs, "doc_id"),
        "simhash_signatures": lambda: dedup.simhash_signatures(docs, "doc_id"),
        "extract_features": lambda: multimodal.extract_features(media),
        "resize_images": lambda: multimodal.resize_images(media),
        "sample_frames": lambda: multimodal.sample_frames(media),
        "winnow_fingerprints": lambda: textops.winnow_fingerprints(
            docs, "doc_id"),
        "winnow_doc_fingerprint_set": lambda:
            textops.winnow_doc_fingerprint_set(docs, "doc_id"),
        "lsh_multitable_candidates": lambda:
            similarity.lsh_multitable_candidates(emb, "embedding",
                                                 [1.0, 0.0, 0.0, 0.0]),
        "ivf_assign_inline": lambda: similarity.ivf_assign_inline(
            emb, "embedding", np.eye(4)),
        "embedding_band_keys": lambda: dedup._embedding_band_keys(
            emb, "vec_id", "embedding", 4, 3),
    }[stage]()


@pytest.mark.parametrize("stage", [
    "extract_links", "minhash_signatures", "simhash_signatures",
    "extract_features", "resize_images", "sample_frames",
    "winnow_fingerprints", "winnow_doc_fingerprint_set",
    "lsh_multitable_candidates", "ivf_assign_inline",
    "embedding_band_keys",
])
def test_row_kernels_plan_one_map_in_arrow(spark, stage):
    """Every Python map stage runs in ``extract.batch_stage`` (the
    per-row kernels through ``row_stage``): its plan holds exactly one
    MapInArrow (one Arrow batch loop) and no MapInPandas (no pandas
    frame built per batch)."""
    plan = plan_of(_map_stage(spark, stage))
    tree = plan.split("\n\n")[0]
    assert sum("MapInArrow" in ln for ln in tree.splitlines()) == 1, tree
    assert "MapInPandas" not in plan


@pytest.mark.parametrize("op", ["detect_language", "filter_decision"])
def test_language_id_plans_no_python_stage(spark, op):
    """Language ID and the cleaning gate built on it are column
    expressions: no Python map or eval node in the plan."""
    from tortank_spark import textops

    docs = spark.createDataFrame([(1, "the cat is in the hat")],
                                 "doc_id long, text string")
    plan = plan_of(getattr(textops, op)(docs))
    for node in ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, plan


def test_pattern_filter_pushes_down(spark, pages_parquet):
    """R1 equality predicates must reach the parquet scan as
    PushedFilters, not run post-scan only."""
    from tortank_spark.algebra import pattern_filter
    from tortank_spark.extract import extract_triples, triples_only

    pages = spark.read.parquet(pages_parquet)
    t = triples_only(extract_triples(pages))
    # write triples, re-read: the filter should push into THAT scan
    import tempfile

    d = tempfile.mkdtemp() + "/triples"
    t.write.parquet(d)
    stored = spark.read.parquet(d)
    plan = plan_of(pattern_filter(stored, p="http://example.org/p"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "EqualTo(p," in pushed[0]


def test_top_revenue_broadcasts_dim_side(spark):
    """q3: the filtered customer dimension must broadcast (no shuffle
    of the big fact side for that join)."""
    import __spark_entry__ as m

    df = m._q_top_revenue(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("maker",
                         ["minhash", "simhash", "embedding", "rare_ngram"])
def test_candidate_generators_never_cross_join(spark, monkeypatch, maker):
    """Every near-dup candidate generator must be a bucketed equi-join;
    a CartesianProduct or BroadcastNestedLoopJoin in the plan means the
    operator silently degraded to all-pairs."""
    from tortank_spark import dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(8)],
        "doc_id long, text string",
    )
    if maker == "minhash":
        sigs = dedup.minhash_signatures(docs, "doc_id")
        cand = dedup.lsh_candidate_pairs(sigs, "doc_id")
    elif maker == "simhash":
        sigs = dedup.simhash_signatures(docs, "doc_id")
        cand = dedup.simhash_candidate_pairs(sigs, "doc_id")
    elif maker == "rare_ngram":
        cand = dedup.rare_ngram_candidate_pairs(docs, "doc_id")
    else:
        emb = spark.createDataFrame(
            [(i, [float(i), 1.0, 0.5, float(i % 3)]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        cand = checkpointed_frame(
            monkeypatch, lambda: dedup.embedding_neardup_lsh(emb, threshold=0.99))
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_verify_shingles_candidates_only(spark, monkeypatch):
    """The shingle projection must sit ABOVE a LeftSemi narrowing join
    on BOTH sides of the verify: shingles are computed for candidate
    docs only, never the full corpus (at 10^9 docs with a ~1%
    candidate rate the full-corpus projection is ~100x wasted compute
    — the round-3 hot stage). The shingled table is cached, so both
    pair-join sides read it as an InMemoryRelation whose plan prints
    the final (BroadcastHashJoin ... LeftSemi) and initial adaptive
    plans, each a projection above its narrowing join — and neither
    hash-partitions the full-text table on its way to that join."""
    from tortank_spark.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma") for i in range(8)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    opt = (
        checkpointed_frame(
            monkeypatch, lambda: ngram_jaccard_pairs(docs, pairs, "doc_id"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # plans print parents before children, so projection-above-join
    # means every array_distinct appears BEFORE its LeftSemi child,
    # and the next projection only after that join
    sides = opt.split("InMemoryRelation")[1:]
    assert len(sides) == 2, f"expected 2 cached shingle sides, got {len(sides)}"
    for side in sides:
        proj = [m.start() for m in re.finditer(r"array_distinct", side)]
        semi = [m.start() for m in re.finditer(r"Join[^\n]*LeftSemi", side)]
        assert proj and len(proj) == len(semi), (len(proj), len(semi))
        assert all(p < j for p, j in zip(proj, semi))
        assert all(j < p for j, p in zip(semi, proj[1:]))
    # the candidate-id side is broadcast, so the (doc_id, text) scan
    # reaches its LeftSemi without a hash exchange: every operator
    # between a text scan and the join above it is checked
    lines = opt.splitlines()
    scans = [i for i, ln in enumerate(lines)
             if re.search(r"Scan ExistingRDD\[[^\]]*\btext#", ln)]
    assert scans, "no text scan in the captured plan"
    for i in scans:
        ups = []
        for ln in _ancestors(lines, i):
            ups.append(ln)
            if "LeftSemi" in ln:
                break
        assert "LeftSemi" in ups[-1], ups
        assert not any("Exchange hashpartitioning(doc_id" in u
                       for u in ups), ups


def test_dedup_builders_release_their_caches(spark, monkeypatch):
    """Every cache-holding builder (the near-dup, span and triangle
    builders) must unpersist its intermediate signature / bucket /
    shingle / fingerprint / edge caches before returning — only the
    small materialized output it checkpointed may stay pinned."""
    from tortank_spark.dedup import (
        embedding_neardup_lsh, minhash_dedup_pairs, ngram_jaccard_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from tortank_spark.graph import triangle_counts
    from tortank_spark.textops import (
        winnow_contamination, winnow_dedup_pairs, winnow_match_spans,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(8)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    evals = spark.createDataFrame([(0, "tok3 tok4 tok5")],
                                  "eval_id long, text string")
    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a < b],
        "src long, dst long",
    )
    builders = {
        "minhash_dedup_pairs":
            lambda: minhash_dedup_pairs(docs, "doc_id", threshold=0.5),
        "embedding_neardup_lsh":
            lambda: embedding_neardup_lsh(emb, threshold=0.99),
        "ngram_jaccard_pairs":
            lambda: ngram_jaccard_pairs(docs, pairs, "doc_id"),
        "ngram_jaccard_dedup_pairs":
            lambda: ngram_jaccard_dedup_pairs(docs, "doc_id"),
        "winnow_dedup_pairs": lambda: winnow_dedup_pairs(docs, "doc_id"),
        "winnow_match_spans": lambda: winnow_match_spans(docs, "doc_id"),
        "winnow_contamination": lambda: winnow_contamination(docs, evals),
        "triangle_counts": lambda: triangle_counts(edges),
    }
    jsc = spark.sparkContext._jsc

    def persistent_ids():
        # track IDS, not counts: the async ContextCleaner may reclaim
        # OTHER tests' dropped checkpoint RDDs mid-test, so count
        # equality is racy in a full-suite run
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    for name, build in builders.items():
        before = persistent_ids()
        with captured_checkpoints(monkeypatch) as seen:
            build().collect()
        own = {ckpt._jdf.queryExecution().logical().rdd().id()
               for _, ckpt in seen}
        assert own, f"{name} checkpointed nothing"
        leaked = persistent_ids() - before - own
        assert not leaked, f"{name} leaked persistent RDDs {leaked}"


def test_union_dedup_single_shuffle(spark):
    """R5 union+dedup: exactly one exchange (the dedup shuffle) — the
    union itself must not add one."""
    from tortank_spark.algebra import tt_union
    from tests.test_operators import T1, T2, make_triples

    import re

    a, b = make_triples(spark, T1), make_triples(spark, T2)
    plan = plan_of(tt_union(a, b))
    # count Exchange NODES (the formatted detail section repeats each
    # node header, so a raw substring count double-counts)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 1


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Co-located join: two tables bucketed on the join key by the same
    bucket count must SortMergeJoin with ZERO Exchange operators — the
    layout replaces the shuffle (the task's 'bucketing for co-located
    joins' requirement, proven at the plan level)."""
    import re

    from tortank_spark.storage import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).select(
            F.col("id").alias("s"), (F.col("id") % 7).alias("x")
        )
        b = spark.range(0, 1000).select(
            F.col("id").alias("s"), (F.col("id") % 5).alias("y")
        )
        write_bucketed(a, "t_bucket_a", ["s"], n_buckets=8, sort_cols=["s"])
        write_bucketed(b, "t_bucket_b", ["s"], n_buckets=8, sort_cols=["s"])
        j = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "s")
        plan = plan_of(j)
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0
        assert "SortMergeJoin" in plan
        assert j.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_salted_join_matches_plain_join_on_skewed_key(spark):
    """salted_join == plain join on a zipf-skewed key (one key holds
    half the rows), with the salt column dropped from the output."""
    from tortank_spark.storage import salted_join

    big_rows = [("hot", i) for i in range(500)] + [
        (f"k{i % 37}", i) for i in range(500)
    ]
    big = spark.createDataFrame(big_rows, "key string, payload long")
    small = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"V{i}") for i in range(37)],
        "key string, label string",
    )
    got = salted_join(big, small, "key").collect()
    want = big.join(small, "key").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert set(got[0].asDict()) == {"key", "payload", "label"}


def test_salted_join_rejects_right_and_full_outer(spark):
    """Exploding the small side n_salts ways would emit every unmatched
    small row n_salts times under right/full outer — rejected loudly."""
    from tortank_spark.storage import salted_join

    big = spark.createDataFrame([("a", 1)], "key string, payload long")
    small = spark.createDataFrame([("a", "x")], "key string, label string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "key", how=how)
    # left family still allowed (unmatched BIG rows are salt-unique)
    assert salted_join(big, small, "key", how="left").count() == 1


def test_ivf_assign_inline_is_join_and_shuffle_free(spark):
    """The IVF build path computes list_id IN the vector scan's Arrow
    pass: no self-join, no Exchange before the clustering repartition —
    at 10^9 vectors a join of the table against its own assignment
    would shuffle the fat embedding column twice."""
    import numpy as np

    from tortank_spark.similarity import ivf_assign_inline

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cents = np.array([[0.0, 0.0], [32.0, 1.0], [63.0, 2.0]])
    assigned = ivf_assign_inline(emb, "embedding", cents)
    plan = plan_of(assigned)
    assert "Join" not in plan and "Exchange" not in plan
    rows = assigned.collect()
    assert len(rows) == 64
    assert set(rows[0].asDict()) == {"vec_id", "embedding", "list_id"}
    # nearest-centroid semantics match the (id, list) variant
    from tortank_spark.similarity import ivf_assign

    want = {r["vec_id"]: r["list_id"]
            for r in ivf_assign(emb, "embedding", cents).collect()}
    assert {r["vec_id"]: r["list_id"] for r in rows} == want


def test_pbucketed_pattern_scan_prunes_directories(spark, tmp_path_factory):
    """write_triples_pbucketed + scan_pattern_pbucketed: a bound-p
    pattern scan must read ONLY the matching p_bucket directory
    (directory pruning via constant-folded hash predicate), and return
    exactly what a full-scan pattern_filter returns."""
    from tortank_spark.algebra import pattern_filter
    from tortank_spark.storage import (
        scan_pattern_pbucketed, write_triples_pbucketed,
    )

    rows = [
        (f"http://e.org/s{i}", "iri", f"http://e.org/p{i % 7}",
         f"v{i}", "literal",
         "http://www.w3.org/2001/XMLSchema#string", None)
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "s string, s_kind string, p string, o string, "
              "o_kind string, o_datatype string, o_lang string",
    )
    d = str(tmp_path_factory.mktemp("pbucket") / "triples")
    write_triples_pbucketed(df, d, n_p_buckets=16)

    target_p = "http://e.org/p3"
    got = scan_pattern_pbucketed(spark, d, p=target_p, n_p_buckets=16)
    want = pattern_filter(spark.read.parquet(d).drop("p_bucket"),
                          p=target_p)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # file audit: every file actually read sits in ONE bucket directory
    read_files = {
        r["f"]
        for r in scan_pattern_pbucketed(spark, d, p=target_p,
                                        n_p_buckets=16)
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert read_files, "scan read no files"
    buckets_touched = {f.split("p_bucket=")[1].split("/")[0]
                       for f in read_files}
    assert len(buckets_touched) == 1, buckets_touched
    # and the layout has >1 bucket overall, so pruning was non-trivial
    import os

    all_buckets = [e for e in os.listdir(d) if e.startswith("p_bucket=")]
    assert len(all_buckets) > 1


def test_winnow_span_generator_never_cross_joins(spark, monkeypatch):
    """winnow_match_spans joins a-positions against distinct (b, fp)
    on the capped fingerprint — a bucketed equi-join like every other
    candidate generator; a CartesianProduct/BroadcastNestedLoopJoin in
    the plan means it degraded to all-pairs. The plan read is the one
    the builder checkpoints (its return value is the checkpoint)."""
    from tortank_spark.textops import winnow_match_spans

    docs = spark.createDataFrame(
        [(i, f"shared body text here tail{i} variant{i}") for i in range(6)],
        "doc_id long, text string",
    )
    plan = plan_of(checkpointed_frame(
        monkeypatch, lambda: winnow_match_spans(docs, "doc_id")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_contamination_broadcasts_eval_side(spark, monkeypatch):
    """The eval fingerprint table is small by construction (eval sets
    are MBs against a 100-TB corpus): the fp join must be a
    BroadcastHashJoin — a shuffled join here would shuffle the entire
    corpus fingerprint stream — and never a cross join."""
    from tortank_spark.textops import winnow_contamination

    corpus = spark.createDataFrame(
        [(i, f"corpus body text number {i} with shared eval phrase")
         for i in range(6)],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(0, "shared eval phrase")], "eval_id long, text string",
    )
    plan = plan_of(checkpointed_frame(
        monkeypatch, lambda: winnow_contamination(corpus, evals)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_counts_all_equi_joins(spark, monkeypatch):
    """Triangle counting must stay equi-join-only (degree join,
    wedge join on the shared low endpoint, closure probe) — a
    CartesianProduct/BroadcastNestedLoopJoin means the ordering guard
    slipped into the join condition instead of a post-join filter."""
    from tortank_spark.graph import triangle_counts

    edges = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8) if a < b],
        "src long, dst long",
    )
    plan = plan_of(checkpointed_frame(
        monkeypatch, lambda: triangle_counts(edges)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_exchange_no_range_join(spark):
    """The as-of join must be the union+window shape: exactly ONE
    Exchange (hash partitioning on the key for the window sort) and
    no join operator at all — a BroadcastNestedLoopJoin or extra
    shuffle means it regressed to a per-key range join."""
    from datetime import datetime

    from tortank_spark.events import asof_join

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "x")],
        "user_id long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1.0)],
        "user_id long, ts timestamp, value double",
    )
    plan = plan_of(asof_join(left, right, "user_id"))
    # formatted mode: tree node "Exchange (n)", key in its Arguments
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_transitive_closure_and_pagerank_equi_joins_only(spark):
    """Both iterative graph ops must stay equi-join geometry end to
    end — the closure frontier join is on the vertex id, the pagerank
    contrib join on the src id; no plan may contain a CartesianProduct
    or BroadcastNestedLoopJoin."""
    from tortank_spark.graph import pagerank, transitive_closure

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    for df in (
        transitive_closure(edges, max_rounds=3),
        pagerank(edges, iterations=2),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_round5_graph_ops_equi_joins_only(spark):
    """hits / random_walks / propagate_labels / neighborhood_jaccard
    must stay equi-join geometry: walk steps are indexed (node, idx)
    lookups, jaccard pairs join on the shared neighbor, votes join on
    the node id. A CartesianProduct or BroadcastNestedLoopJoin in any
    plan means a bounded join degenerated to all-pairs."""
    from tortank_spark.graph import hits, propagate_labels, random_walks
    from tortank_spark.linking import neighborhood_jaccard

    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(0, 5), (2, 7)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0, "A"), (4, "B")],
                                  "node long, label string")
    for df in (
        hits(edges, iterations=1),
        random_walks(edges, walk_length=2, walks_per_node=1),
        propagate_labels(edges, seeds, rounds=2),
        neighborhood_jaccard(edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst")), max_df=5),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path_factory):
    """On a full 64x64 grid split into 16 files: an x-sorted layout
    gives every file the FULL y range (a y filter prunes nothing),
    while the Z-ordered layout gives each file a tight 2-D bbox — a
    narrow y window intersects only a small fraction of files. Also
    pins the Morton key bit math against a Python replay."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from tortank_spark.storage import write_zordered, zorder_key

    tmp = tmp_path_factory.mktemp("zorder")
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    plain = str(tmp / "plain")
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.parquet(plain))
    zpath = str(tmp / "z")
    write_zordered(df, zpath, "x", "y", bits=6, n_files=16)

    def files_hit(path, lo, hi):  # files whose y-stats intersect [lo, hi]
        hit = total = 0
        for f in Path(path).glob("part-*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            yi = {md.schema.column(i).name: i
                  for i in range(md.num_columns)}["y"]
            ymin = min(md.row_group(g).column(yi).statistics.min
                       for g in range(md.num_row_groups))
            ymax = max(md.row_group(g).column(yi).statistics.max
                       for g in range(md.num_row_groups))
            total += 1
            if ymax >= lo and ymin <= hi:
                hit += 1
        return hit, total

    ph, pt = files_hit(plain, 0, 3)
    zh, zt = files_hit(zpath, 0, 3)
    assert ph == pt                  # x-sort: every file spans all y
    assert zh * 2 <= zt              # z-order: a narrow y window prunes

    # Morton key replay: interleave(x, y) over the whole grid
    got = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), 6).alias("z")
    ).collect()}
    for (x, y), z in got.items():
        exp = 0
        for i in range(6):
            exp |= ((x >> i) & 1) << (2 * i)
            exp |= ((y >> i) & 1) << (2 * i + 1)
        assert z == exp


def test_key_skew_topk_is_distributed_and_total_is_broadcast(spark):
    """key_skew's top-k must plan as TakeOrderedAndProject (per-
    partition heaps — never a global sort of the full key-count
    table), and the 1-row totals side must come back as a broadcast
    join, not a shuffled one."""
    from tortank_spark.profiling import key_skew

    df = spark.createDataFrame(
        [(i % 7,) for i in range(100)], "k long")
    plan = plan_of(key_skew(df, "k", top_k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_latest_facts_single_shuffle_no_window(spark):
    """latest_facts is ONE shuffle on (s, p) and the winner is an
    aggregate (map-side partial combine), never a row_number window —
    a celebrity subject must reduce tree-style, not sort inside one
    partition."""
    import datetime as dt

    from tortank_spark.freshness import latest_facts

    rows = [("s", "p", f"o{i}", f"u{i}", dt.datetime(2026, 1, 1))
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "s string, p string, o string, src string, ts timestamp")
    plan = plan_of(latest_facts(df))
    assert "Window" not in plan
    # the countDistinct expand rides the same grouping: hashpartitioning
    # on (s, p) appears, and no second independent shuffle key does
    assert "hashpartitioning(s" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_harmonic_and_reciprocity_equi_joins_only(spark):
    """harmonic_centrality's frontier join keys on the vertex id
    (seed rides as payload) and reciprocity's reverse-match is a
    semi equi-join — neither may degenerate to all-pairs geometry."""
    from tortank_spark.graph import harmonic_centrality, reciprocity

    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(0, 5), (5, 0)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,), (4,)], "node long")
    for df in (
        harmonic_centrality(edges, seeds, max_depth=2),
        reciprocity(edges),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_crawl_delta_single_shuffle_no_join(spark):
    """crawl_delta must be tag+union+aggregate: exactly ONE exchange
    over the unioned snapshots (each input shuffled once) and no join
    operator at all — the two-anti-join formulation would shuffle both
    snapshots twice."""
    from tortank_spark.freshness import crawl_delta

    cols = "s string, p string, o string"
    old = spark.createDataFrame([("a", "p", "1")], cols)
    new = spark.createDataFrame([("a", "p", "2")], cols)
    plan = plan_of(crawl_delta(old, new))
    tree = plan.split("\n\n")[0]
    assert sum("Exchange" in ln for ln in tree.splitlines()) == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    # map-side partial combine before the exchange
    assert plan.count("HashAggregate") >= 2


def test_robots_filter_no_window_no_cartesian(spark):
    """robots_filter must stay join+aggregate: the longest-match pick
    is max(struct(len, allow)) on the grouping — never a per-host
    Window sort (celebrity hosts), never a cartesian."""
    from tortank_spark.weburl import robots_filter

    urls = spark.createDataFrame([("http://a.com/x",)], "url string")
    rules = spark.createDataFrame(
        [("a.com", "/", True)],
        "host string, path_prefix string, allow boolean")
    plan = plan_of(robots_filter(urls, rules))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # struct-valued max plans as SortAggregate/ObjectHashAggregate
    # depending on codegen support — any aggregate is fine, a Window
    # is not
    assert "Aggregate" in plan
