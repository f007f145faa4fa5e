"""End-to-end KG-construction pipeline with per-partition checkpoints,
lineage and metrics (the north rule's resumable-batch contract).

Stages (all pure batch DataFrame transforms):
  pages -> extract (vectorized parse UDF) -> entity linking (broadcast
  alias join) -> sameAs connected-components canonicalization ->
  materialize partitioned triple tables + lineage + metrics.

Resumability model: the page table is split into K *buckets* by
pmod(xxhash64(url), K) — a deterministic, data-independent partitioner,
so a rerun sees the same buckets. Each bucket is processed and written
independently (idempotent overwrite of its own output directory); a
bucket directory containing a _MANIFEST.json marks completion and is
skipped on rerun. Crash between buckets -> rerun does only the missing
buckets. On a real cluster the bucket count is sized so one bucket is
one comfortable job (e.g. 1024 buckets over 10^12 docs); checkpoint
granularity and shuffle width are then independent knobs.

Canonicalization runs globally AFTER the buckets: each bucket writes a
sameAs edge sidecar; connected components + canonical rewrite run once
over the union of sidecars. At 100 TB the edge table is tiny relative
to the triples, so the global CC job is cheap, and the rewrite is two
broadcast joins over the bucketed triple files.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
import pyspark.sql.functions as F

from .canonicalize import connected_components, rewrite_canonical, sameas_edges
from .extract import doc_lineage, doc_stage, embedded_triples, triples_only
from .grammar.turtle import parse_turtle
from .linking import best_link_per_mention, detect_mentions, link_mentions, links_as_triples
from .quarantine import REASONS
from .schema import EXTRACT_SCHEMA, TRIPLE_SCHEMA

# syntax_mode -> the per-document extractor every bucket runs
_PER_DOC = {"turtle": parse_turtle, "embedded": embedded_triples}


def bucket_of(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def _write_json(path: Path, obj) -> None:
    """Write a run marker atomically: a crash leaves the old file or
    none, never a truncated one (a truncated manifest would count as a
    finished bucket)."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(obj, indent=1))
    os.replace(tmp, path)


def _manifest_key(out: Path, n_buckets: int) -> str:
    """Content hash over the full ordered set of bucket manifests —
    the resume key for the global canonicalization phase. Any bucket
    re-run in the CURRENT invocation also forces the global phase
    (checked separately); re-runs in PRIOR crashed invocations are
    caught because every manifest carries a fresh run_id nonce, so a
    rewritten bucket always changes this key even when its stats are
    byte-identical."""
    import hashlib

    h = hashlib.sha256()
    for b in range(n_buckets):
        h.update(f"bucket={b}:".encode())
        h.update((out / f"bucket={b}" / "_MANIFEST.json").read_bytes())
    return h.hexdigest()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    alias_dict: DataFrame | None = None,
    min_link_score: float = 0.2,
    syntax_mode: str = "turtle",
) -> dict:
    """Run (or resume) the pipeline; returns run metrics.

    Each bucket runs one ``extract.doc_stage`` over its pages and
    derives its triples, sameAs sidecar and lineage (the stage's one
    row per page) from those rows; the bucket manifest counts docs,
    triples, parse failures and pages per quarantine reason.
    ``syntax_mode`` picks the per-document function (``_PER_DOC``):
    'turtle' parses each page as a standalone Turtle document (a page
    that fails is a quarantine row — the reference's whole-doc
    contract); 'embedded' runs ``extract.embedded_triples``, the
    page's distinct triples over Turtle, JSON-LD islands, RDFa and
    microdata, so Common-Crawl-style HTML pages all contribute — there
    a syntax that fails or finds no markup only adds no triple, so
    lineage records n_triples with parse_ok=true (see extract.doc_stage
    for what quarantines the page itself).
    Any other value raises ValueError.
    """
    per_doc = _PER_DOC.get(syntax_mode)
    if per_doc is None:
        raise ValueError(f"syntax_mode must be one of {sorted(_PER_DOC)}, "
                         f"not {syntax_mode!r}")
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    done, ran = [], []
    # Materialize the page table ONCE, hash-partitioned by bucket
    # (partitionBy -> one directory per bucket). Each bucket job then
    # scans exactly its own files. The round-1 design filtered the full
    # source per bucket — at 1,024 buckets over 100 TB that cumulative
    # rescan is ~100 PB; this layout makes per-bucket input IO
    # O(total/n_buckets) and survives a source that is expensive or
    # non-replayable. On a real lake this step is "write the landing
    # table bucketed" (Iceberg bucket transform) and is itself resumable
    # via the _SUCCESS marker.
    pages_dir = out / "pages_bucketed"
    layout_file = out / "_LAYOUT.json"
    if layout_file.exists():
        # a resume MUST use the layout it was started with: bucket
        # assignment is a function of n_buckets, so a changed value
        # would silently skip (smaller) or fabricate-empty (larger)
        # buckets — refuse loudly instead
        layout = json.loads(layout_file.read_text())
        if layout["n_buckets"] != n_buckets:
            raise ValueError(
                f"out_dir {out} was bucketed with n_buckets="
                f"{layout['n_buckets']}; resuming with {n_buckets} would "
                "drop or invent buckets — use a fresh out_dir"
            )
    else:
        # the layout record is written BEFORE the bucketed write: a
        # crash between the parquet _SUCCESS commit and a trailing
        # layout write would leave a committed table with no layout,
        # letting a later resume with a different n_buckets slip past
        # the guard above
        _write_json(layout_file, {"n_buckets": n_buckets})
    if not (pages_dir / "_SUCCESS").exists():
        (
            pages.withColumn("_bucket", bucket_of(F.col("url"), n_buckets))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(str(pages_dir))
        )
    for b in range(n_buckets):
        bdir = out / f"bucket={b}"
        manifest = bdir / "_MANIFEST.json"
        if manifest.exists():
            done.append(b)
            continue
        bpath = pages_dir / f"_bucket={b}"
        # every manifest carries a fresh run_id nonce: bucket stats are
        # counts only, so two runs with different configs (e.g. a new
        # alias_dict) can produce byte-identical stats — the nonce makes
        # any bucket RE-RUN change the global phase's manifest_key, so a
        # crash between a bucket rewrite and the global phase can never
        # leave a stale triples_canonical behind a matching resume key
        run_id = uuid.uuid4().hex
        if not bpath.exists():  # bucket got no pages: nothing to do
            manifest.parent.mkdir(parents=True, exist_ok=True)
            _write_json(manifest, {**dict.fromkeys(
                ("docs", "triples", "parse_failures", *REASONS), 0),
                "run_id": run_id})
            ran.append(b)
            continue
        bucket_pages = spark.read.parquet(str(bpath))
        stats = _run_bucket(bucket_pages, str(bdir), alias_dict,
                            min_link_score, per_doc)
        _write_json(manifest, {**stats, "run_id": run_id})
        ran.append(b)
    # global canonicalization over the union of bucket edge sidecars.
    # Resume guard: the phase is keyed to the full set of bucket
    # manifests — on a pure resume (no bucket ran, manifest set
    # unchanged, outputs committed) the phase is SKIPPED entirely (zero
    # Spark jobs). At 100 TB re-running it would be a full
    # scan+shuffle+rewrite of the whole triple table to reproduce bytes
    # that already exist.
    cmap_dir = out / "canonical_map"
    canon_dir = out / "triples_canonical"
    global_file = out / "_GLOBAL.json"
    manifest_key = _manifest_key(out, n_buckets)
    global_skipped = False
    n_triples = None
    if not ran and global_file.exists():
        g = json.loads(global_file.read_text())
        if (
            g.get("manifest_key") == manifest_key
            and (cmap_dir / "_SUCCESS").exists()
            and (canon_dir / "_SUCCESS").exists()
        ):
            n_triples = g["n_canonical_triples"]
            global_skipped = True
    if not global_skipped:
        # explicit paths, not a bucket=* glob (Spark logs a glob's failed
        # streaming-sink probe as a FileNotFoundException trace); a
        # bucket that got no pages wrote only its manifest, and the
        # explicit schemas let an empty page table read zero paths
        def bucket_outputs(name: str, schema) -> DataFrame:
            paths = (out / f"bucket={b}" / name for b in range(n_buckets))
            return spark.read.schema(schema).parquet(
                *(str(p) for p in paths if p.exists()))

        edges = bucket_outputs("sameas_edges", "src string, dst string")
        cmap = connected_components(edges)
        cmap.write.mode("overwrite").parquet(str(cmap_dir))
        cmap = spark.read.parquet(str(cmap_dir))
        triples = bucket_outputs("triples", TRIPLE_SCHEMA)
        # the output count rides on the write job itself (Observation
        # metric) — re-reading triples_canonical just to count it is a
        # second full scan of the largest table in the pipeline
        canon_obs = Observation("canonical_count")
        canonical = rewrite_canonical(triples, cmap).observe(
            canon_obs, F.count(F.lit(1)).alias("n")
        )
        # materialize as a PARTITIONED triple table (the north rule's
        # final stage): directories keyed by pmod(xxhash64(p), 64) so
        # bound-predicate pattern scans prune to 1/64 of the data, with
        # subject-salted clustering inside each bucket so the zipf-hot
        # predicate (rdf:type is often >20% of a web KG) never funnels
        # one writer task — see storage.write_triples_pbucketed
        from .storage import write_triples_pbucketed

        write_triples_pbucketed(canonical, str(canon_dir))
        n_triples = int(canon_obs.get["n"])
        _write_json(global_file, {"manifest_key": manifest_key,
                                  "n_canonical_triples": n_triples})
    wall = time.time() - t0
    run_stats = {
        "buckets_total": n_buckets,
        "buckets_skipped": done,
        "buckets_ran": ran,
        "global_phase": "skipped" if global_skipped else "ran",
        "n_canonical_triples": n_triples,
        "wall_sec": round(wall, 3),
    }
    _write_json(out / "_RUN.json", run_stats)
    return run_stats


def _run_bucket(
    pages: DataFrame,
    bdir: str,
    alias_dict: DataFrame | None,
    min_link_score: float,
    per_doc,
) -> dict:
    pages = pages.persist()
    extracted = doc_stage(pages, per_doc, EXTRACT_SCHEMA, salt=True).persist()
    triples = triples_only(extracted)
    all_triples = triples
    if alias_dict is not None:
        mentions = detect_mentions(pages)
        links = best_link_per_mention(
            link_mentions(mentions, alias_dict, min_link_score)
        )
        all_triples = triples.unionByName(links_as_triples(links))

    all_triples.write.mode("overwrite").parquet(f"{bdir}/triples")
    sameas_edges(triples).write.mode("overwrite").parquet(
        f"{bdir}/sameas_edges"
    )
    # lineage: doc_stage's one row per page (n_triples, parse status,
    # quarantine reason). The manifest counts, one per reason included,
    # ride on the lineage write (Observation metric).
    obs = Observation("bucket_stats")
    doc_lineage(extracted).observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_triples").alias("triples"),
        F.count_if(~F.col("parse_ok")).alias("parse_failures"),
        *(F.count_if(F.col("reason") == r).alias(r) for r in REASONS),
    ).write.mode("overwrite").parquet(f"{bdir}/lineage")
    pages.unpersist()
    extracted.unpersist()
    return {k: int(v) for k, v in obs.get.items()}

