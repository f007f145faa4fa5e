"""End-to-end pipeline: checkpointed buckets, resume semantics, lineage,
canonicalization wiring."""

import json
import os
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from tortank_spark import fixtures
from tortank_spark.linking import MENTIONS_PRED
from tortank_spark.pipeline import run_pipeline


def assert_manifests_match_lineage(spark, out, n_buckets):
    """The manifests' summed counts equal a recount of the written
    lineage: they ride on the lineage write, not on a separate job."""
    ms = [json.loads(Path(out, f"bucket={b}", "_MANIFEST.json").read_text())
          for b in range(n_buckets)]
    got = tuple(sum(m[k] for m in ms)
                for k in ("docs", "triples", "parse_failures"))
    r = spark.read.parquet(f"{out}/bucket=*/lineage").agg(
        F.count(F.lit(1)), F.sum("n_triples"), F.count_if(~F.col("parse_ok"))
    ).first()
    assert got == tuple(r), (got, r)


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = fixtures.make_pages(spark, n_pages=48, n_partitions=4,
                                include_broken=True)
    alias = fixtures.make_alias_dict(spark)
    stats = run_pipeline(spark, pages, out, n_buckets=2, alias_dict=alias)
    assert stats["buckets_ran"] == [0, 1]
    assert stats["n_canonical_triples"] > 0
    # byte fidelity (BASELINE.json input_hint): the landed page table
    # the buckets extract from holds every url's text unchanged
    landed = spark.read.parquet(out + "/pages_bucketed")
    assert dict(landed.select("url", "text").collect()) == dict(
        pages.select("url", "text").collect())

    assert stats["global_phase"] == "ran"

    # full resume: nothing re-runs — including the GLOBAL phase: the
    # canonical outputs' files must be byte-for-byte untouched (no
    # Spark job rewrote them; at 100 TB a resume re-running the global
    # rewrite would rescan+reshuffle the whole triple table)
    def _canon_state():
        return sorted(
            (str(p.relative_to(tmp_path)), p.stat().st_mtime_ns,
             p.stat().st_size)
            for p in (tmp_path / "kg" / "triples_canonical").rglob("*")
            if p.is_file()
        )

    canon_before = _canon_state()
    stats2 = run_pipeline(spark, pages, out, n_buckets=2, alias_dict=alias)
    assert stats2["buckets_ran"] == []
    assert stats2["buckets_skipped"] == [0, 1]
    assert stats2["global_phase"] == "skipped"
    assert stats2["n_canonical_triples"] == stats["n_canonical_triples"]
    assert _canon_state() == canon_before

    # partial resume: drop one manifest -> only that bucket re-runs,
    # and the bucket re-run forces the global phase to re-run too
    (tmp_path / "kg" / "bucket=1" / "_MANIFEST.json").unlink()
    stats3 = run_pipeline(spark, pages, out, n_buckets=2, alias_dict=alias)
    assert stats3["buckets_ran"] == [1]
    assert stats3["global_phase"] == "ran"
    assert stats3["n_canonical_triples"] == stats["n_canonical_triples"]

    # crash-recovery: a PRIOR invocation re-ran a bucket (fresh run_id
    # nonce in its manifest, possibly byte-identical stats otherwise)
    # but died before the global phase. The next resume must NOT skip
    # the global phase against the stale _GLOBAL.json key.
    mpath = tmp_path / "kg" / "bucket=1" / "_MANIFEST.json"
    m = json.loads(mpath.read_text())
    m["run_id"] = "deadbeef" * 4  # what a crashed re-run left behind
    mpath.write_text(json.dumps(m, indent=1))
    stats4 = run_pipeline(spark, pages, out, n_buckets=2, alias_dict=alias)
    assert stats4["buckets_ran"] == []          # manifest exists -> skip
    assert stats4["global_phase"] == "ran"      # but key changed -> rerun

    # a crash while committing a manifest leaves no manifest (never a
    # truncated one that would count as a finished bucket), so the next
    # run redoes exactly that bucket
    mpath.unlink()
    replace = os.replace

    def crash_on_manifest(src, dst):
        if str(dst) == str(mpath):
            raise OSError("crash while committing the manifest")
        replace(src, dst)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "replace", crash_on_manifest)
        with pytest.raises(OSError, match="committing the manifest"):
            run_pipeline(spark, pages, out, n_buckets=2, alias_dict=alias)
    assert not mpath.exists()
    stats5 = run_pipeline(spark, pages, out, n_buckets=2, alias_dict=alias)
    assert stats5["buckets_ran"] == [1] and stats5["global_phase"] == "ran"
    assert stats5["n_canonical_triples"] == stats["n_canonical_triples"]
    assert_manifests_match_lineage(spark, out, 2)

    # lineage: the broken page is quarantined with an error message
    lineage = spark.read.parquet(out + "/bucket=*/lineage")
    bad = lineage.filter(~F.col("parse_ok")).collect()
    assert len(bad) == 1 and bad[0]["error"]

    # canonicalization: every synthetic `ex:page{i} owl:sameAs ex:alias{i}`
    # pair (filler rows i % 3 == 0) collapsed onto its lexicographic
    # min, ex:alias{i}
    canon = spark.read.parquet(out + "/triples_canonical")
    ns = "http://example.org/ns#"
    pairs = [(f"{ns}page{i}", f"{ns}alias{i}") for i in range(3, 48, 3)]
    subjects = {r["s"] for r in canon.filter(
        F.col("s").isin([iri for pair in pairs for iri in pair])
    ).select("s").distinct().collect()}
    assert subjects == {alias for _, alias in pairs}

    # linking: the alias dictionary linked page text to entities
    assert canon.filter(F.col("p") == MENTIONS_PRED).count() > 0

    # the canonical table is a PARTITIONED layout (p_bucket dirs), and
    # a bound-predicate scan through the pruning reader matches a plain
    # full-scan filter
    import os as _os

    from tortank_spark.storage import scan_pattern_pbucketed

    assert any(e.startswith("p_bucket=")
               for e in _os.listdir(out + "/triples_canonical"))
    some_p = canon.select("p").first()["p"]
    pruned = scan_pattern_pbucketed(spark, out + "/triples_canonical",
                                    p=some_p)
    assert pruned.count() == canon.filter(F.col("p") == some_p).count() > 0

    # manifest carries per-bucket metrics
    m = json.loads((tmp_path / "kg" / "bucket=0" / "_MANIFEST.json").read_text())
    assert {"docs", "triples", "parse_failures"} <= set(m)


def test_bench_headline_basis_policy():
    """bench._headline_basis replayed against REAL observed runs:
    suspect rounds (fair-share ceiling, eff > 1.05) never enter a
    median; burst-only median needs >= 2 non-suspect burst rounds;
    every fallback is labeled."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import _headline_basis

    def rd(eff, regime):
        return {"eff": eff, "regime": regime,
                "fairshare_suspect": eff > 1.05}

    # round-5 healthy full run: 4 burst rounds -> burst-only median
    healthy = [rd(e, r) for e, r in [
        (0.913, "burst"), (1.013, "burst"), (0.871, "burst"),
        (0.671, "burst"), (0.941, "drained"), (0.949, "drained"),
        (1.007, "drained")]]
    med, basis, _ = _headline_basis(healthy)
    assert basis == "burst_only_median" and round(med, 3) == 0.892

    # round-5 degraded-host run: 1 burst + 2 suspect drained rounds.
    # The suspect rounds (1.099, 1.055) must NOT enter the median.
    degraded = [rd(e, r) for e, r in [
        (0.821, "burst"), (1.03, "drained"), (1.099, "drained"),
        (1.055, "drained"), (1.006, "drained")]]
    med, basis, pool = _headline_basis(degraded)
    assert basis.startswith("nonsuspect_rounds_median")
    assert "2 suspect excluded" in basis
    assert pool == [0.821, 1.03, 1.006] and round(med, 3) == 1.006

    # pathological: everything suspect -> labeled, not hidden
    allbad = [rd(1.2, "drained"), rd(1.3, "drained")]
    med, basis, _ = _headline_basis(allbad)
    assert "ALL rounds fairshare-suspect" in basis


def test_bench_compact_summary_fits_tail_window():
    """The driver keeps only the tail of bench stdout (~2 KB); round 4's
    2.4 KB line truncated from the front and parsed null. The printed
    line must stay comfortably under the window at realistic artifact
    sizes, while keeping every north-rule field + the honesty labels."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import compact_summary

    qnames = [
        "kg_extract_turtle", "kg_connected_components", "kg_entity_link",
        "r1_pattern_filter", "r5_union_dedup", "q1_pricing_summary",
        "q3_top_revenue", "dedup_exact", "dedup_minhash_lsh",
        "text_token_count", "sim_topk_cosine", "text_winnow",
        "dedup_winnow", "mm_features", "extract_witness",
        "extract_local_small", "extract_local_big",
    ]
    rounds_detail = [
        {"eff": 0.913 + i / 100, "wall_small": 14.793, "wall_big": 14.694,
         "regime": "burst" if i < 4 else "drained",
         "fairshare_suspect": i == 6}
        for i in range(8)
    ]
    out = {
        "metric": "e2e_bench_sec", "value": 686.195, "unit": "sec",
        "queries": {q: 123.456 for q in qnames},
        "headline_samples": {q: [123.456, 123.456] for q in qnames[:12]},
        "sf": 0.1, "extract_docs": 16000, "extract_triples": 747064,
        "triples_per_sec": 71114.3, "docs_per_sec": 1640.7,
        "scaling": {
            "cpus_small": 1, "cpus_big": 4, "docs_small": 1500,
            "docs_big": 6000, "wall_small_sec": 3.365,
            "wall_big_sec": 3.657, "docs_per_sec_small": 445.8,
            "docs_per_sec_big": 1640.7,
            "samples_small": [123.456] * 9, "samples_big": [123.456] * 9,
            "round_efficiencies": [r["eff"] for r in rounds_detail],
            "rounds_detail": rounds_detail,
            "burst_ref_wall_sec": 3.365, "rounds": len(rounds_detail),
            "efficiency_all_rounds": 0.941, "efficiency_burst_only": 0.892,
            "efficiency_basis": "burst_only_median",
            "headline_fairshare_suspect": False, "speedup": 3.568,
            "efficiency": 0.892, "docs": 16000, "triples": 747064,
        },
    }
    slim = compact_summary(out)
    line = json.dumps(slim)
    assert len(line) < 1800, len(line)
    # north-rule fields survive compaction
    assert slim["scaling"]["efficiency"] == 0.892
    assert slim["scaling"]["efficiency_basis"] == "burst_only_median"
    assert slim["scaling"]["round_efficiencies"]
    # honesty labels survive as compact forms
    assert slim["scaling"]["regimes"] == ["burst"] * 4 + ["drained"] * 4
    assert slim["scaling"]["n_fairshare_suspect"] == 1
    assert slim["sidecar"] == "BENCH_SIDECAR.json"
    # the bulky arrays are gone from the printed line
    assert "headline_samples" not in slim
    assert "samples_small" not in slim["scaling"]
    assert "rounds_detail" not in slim["scaling"]
    # the full artifact keeps them (sidecar is json.dump of `out`)
    assert out["headline_samples"] and out["scaling"]["rounds_detail"]


def test_pipeline_embedded_mode(spark, tmp_path):
    """syntax_mode='embedded': mixed JSON-LD/RDFa/microdata/Turtle
    pages all contribute to the canonical table; lineage covers EVERY
    page (zero-markup pages as n_triples=0, parse_ok=true); a triple
    a page asserts in two syntaxes counts once; resume skips."""
    out = str(tmp_path / "kg_emb")
    rows = [
        ("u:j", '<script type="application/ld+json">'
                '{"@context":{"@vocab":"http://v/"},'
                '"@id":"http://j/1","k":"v"}</script>'),
        ("u:r", '<div vocab="http://s/" about="http://r/1">'
                '<span property="name">R</span></div>'),
        ("u:m", '<div itemscope itemtype="http://s/T">'
                '<span itemprop="name">M</span></div>'),
        ("u:t", '@prefix e: <http://e/> . e:a e:b "x" .'),
        ("u:none", "<p>no markup at all</p>"),
        # the same rdf:type triple in JSON-LD and in microdata
        ("u:twice", '<script type="application/ld+json">'
                    '{"@id":"http://d/1","@type":"http://s/T"}</script>'
                    '<div itemscope itemtype="http://s/T" '
                    'itemid="http://d/1"></div>'),
    ]
    import pyspark.sql.functions as F

    pages = spark.createDataFrame(rows, ["url", "text"]).withColumn(
        "warc_ts", F.lit(None).cast("timestamp")
    ).withColumn("html", F.lit(None).cast("binary")).withColumn(
        "lang", F.lit("en"))
    stats = run_pipeline(spark, pages, out, n_buckets=2,
                         syntax_mode="embedded")
    # u:j 1 + u:r 1 + u:m 2 (rdf:type + name) + u:t 1 + u:twice 1
    assert stats["n_canonical_triples"] == 6
    lineage = spark.read.parquet(f"{out}/bucket=*/lineage")
    rows_l = {r["url"]: r for r in lineage.collect()}
    assert set(rows_l) == {"u:j", "u:r", "u:m", "u:t", "u:none", "u:twice"}
    assert rows_l["u:none"]["n_triples"] == 0
    assert rows_l["u:twice"]["n_triples"] == 1
    assert all(r["parse_ok"] for r in rows_l.values())
    assert rows_l["u:j"]["error"] is None
    assert_manifests_match_lineage(spark, out, 2)
    stats2 = run_pipeline(spark, pages, out, n_buckets=2,
                          syntax_mode="embedded")
    assert stats2["buckets_ran"] == [] and stats2["global_phase"] == "skipped"
    with pytest.raises(ValueError, match="syntax_mode"):
        run_pipeline(spark, pages, out, n_buckets=2, syntax_mode="rdfa")


@pytest.mark.parametrize("syntax_mode", ["turtle", "embedded"])
def test_pipeline_empty_page_table(spark, tmp_path, syntax_mode):
    """An empty page table is a finished run with an empty canonical
    table: no bucket writes triples or a sameAs sidecar, so the global
    phase reads zero paths under the schemas it already knows."""
    out = str(tmp_path / "kg_empty")
    pages = spark.createDataFrame([], "url string, text string")
    stats = run_pipeline(spark, pages, out, n_buckets=2,
                         syntax_mode=syntax_mode)
    assert stats["n_canonical_triples"] == 0
    assert Path(out, "triples_canonical", "_SUCCESS").exists()
    stats2 = run_pipeline(spark, pages, out, n_buckets=2,
                          syntax_mode=syntax_mode)
    assert stats2["global_phase"] == "skipped"


def test_ensure_parallelism_fans_out_narrow_input_only(spark):
    """ensure_parallelism (guide §2.4/§6): a narrow source (fewer
    partitions than the cluster) is repartitioned to 2 x cores so
    compute-heavy stages see full parallelism; an input that already
    has >= defaultParallelism partitions passes through untouched (at
    scale the helper must never introduce a shuffle). Row values are
    unchanged either way."""
    from tortank_spark.session import ensure_parallelism

    p = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    fanned = ensure_parallelism(narrow)
    assert fanned.rdd.getNumPartitions() == 2 * p
    assert sorted(r.id for r in fanned.collect()) == list(range(1000))

    wide = spark.range(1000).repartition(p)
    assert ensure_parallelism(wide) is wide
