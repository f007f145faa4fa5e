"""KG-construction benchmark: web pages -> Turtle/JSON-LD/RDFa/microdata
triples -> entity links -> sameAs canonicalization -> the partitioned
canonical triple table, then a closed loop of pattern lookups over it.

Run from the repository root:

    python3 perfbench/run.py --workload turtle_crawl --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` instead
replays every layer once through its public function, each under its
own Spark job group and span, and reports the per-layer metrics;
spans and host facts go to ``.perfbench_out/``. BENCHMARK.json lists
the workloads and both metric sets; LAYERS.md says which end-to-end
metric each layer metric should move, and why only some of the
printed end-to-end figures carry a bound. Every operation's output is
checked against counts
the page generator knows by construction; a mismatch counts as a
failed operation and never aborts the run. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics.

Each run uses one local[nproc] Spark session and keeps all of its
files (Spark scratch, JVM temp, pipeline outputs) under
``.perfbench_work/``, which it deletes on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path
from time import perf_counter

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import tracing  # noqa: E402

# Page counts keep one warm run_pipeline call near 7 s on 4 cores, so
# ~21 s of measuring fit 40 lookups, a full pass and a resume, and a
# whole run, set-up included, stays under a minute. Two buckets: each
# bucket adds ~1.2 s of fixed job overhead, and resume_s reruns one.
WORKLOADS = {
    "turtle_crawl": {"syntax_mode": "turtle", "pages": 700},
    "embedded_crawl": {"syntax_mode": "embedded", "pages": 1000},
}
N_BUCKETS = 2
DRIVER_MEM = "2g"
MIN_LINK_SCORE = 0.2
MIN_LOOKUPS = 40         # p90 then has >= 4 samples beyond it
WARMUP_LOOKUPS = 3       # part of the cold pass
TRACED_LOOKUPS = 30
HARD_STOP_S = 150.0      # stop measuring past this, whatever the minimums
LOOKUP_MIX = (("p", 5), ("s", 3), ("sp", 2))   # per block of ten
ZIPF_S = 1.2


def _prepare_env(cpus: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    WORK, and let Python workers import the package from the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # the heap is fixed and touched up front, so that its RSS does not
    # depend on when the collector chose to grow it
    java_opts = (f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={WORK / 'local'}",
        "--conf", f"spark.sql.warehouse.dir={WORK / 'warehouse'}",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.sql.ui.retainedExecutions=100000",
        "--driver-java-options", java_opts,
        "pyspark-shell",
    ])
    sys.path.insert(0, str(ROOT))


def _land(corpus: gen.Corpus, path: Path, n_files: int) -> None:
    """Write the generated pages as a crawl segment of n_files parquet
    files (the program only ever sees these files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    for f in range(n_files):
        rows = corpus.pages[f::n_files]
        pq.write_table(
            pa.table({"url": [u for u, _ in rows],
                      "text": [t for _, t in rows]}),
            path / f"part-{f:05d}.parquet",
        )


def _read_files(paths, columns):
    import pyarrow.dataset as ds

    files = sorted(str(p) for p in paths)
    if not files:
        raise FileNotFoundError("no parquet files written")
    return ds.dataset(files, format="parquet").to_table(columns=columns)


def _quantile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, spark, workload: str, seed: int, corpus: gen.Corpus,
                 pages_dir: Path):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.corpus = corpus
        self.pages_dir = pages_dir
        self.mode = WORKLOADS[workload]["syntax_mode"]
        self.alias_df = spark.createDataFrame(
            corpus.aliases, "alias string, entity_iri string, prior double")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # ----------------------------------------------------------- operations

    def attempt(self, what: str, fn):
        """Run one checked operation. fn returns (value, problems)."""
        self.attempted += 1
        try:
            value, problems = fn()
        except Exception as ex:  # one failed operation never ends the run
            traceback.print_exc(file=sys.stderr)
            value, problems = None, [f"{type(ex).__name__}: {ex}"]
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(problems[:3])}")
            return None
        return value

    def pipeline(self, out: Path, span=None):
        """One run_pipeline call; ``span`` (a tracer span) wraps that call
        and nothing else."""
        from tortank_spark.pipeline import run_pipeline

        pages = self.spark.read.parquet(str(self.pages_dir))
        with span or contextlib.nullcontext():
            t0 = time.time()
            p0 = perf_counter()
            stats = run_pipeline(
                self.spark, pages, str(out), n_buckets=N_BUCKETS,
                alias_dict=self.alias_df, min_link_score=MIN_LINK_SCORE,
                syntax_mode=self.mode,
            )
            wall = perf_counter() - p0
        return wall, t0, stats

    def full_run(self, out: Path, span=None):
        shutil.rmtree(out, ignore_errors=True)
        wall, t0, stats = self.pipeline(out, span)
        problems = self.check_run(out, stats)
        if stats["buckets_ran"] != list(range(N_BUCKETS)):
            problems.append(f"buckets ran {stats['buckets_ran']}")
        return (wall, t0), problems

    def resume_run(self, out: Path, bucket: int):
        (out / f"bucket={bucket}" / "_MANIFEST.json").unlink()
        wall, _, stats = self.pipeline(out)
        problems = self.check_run(out, stats)
        if stats["buckets_ran"] != [bucket] or stats["global_phase"] != "ran":
            problems.append(f"resume ran {stats['buckets_ran']} "
                            f"global {stats['global_phase']}")
        return wall, problems

    def check_run(self, out: Path, stats: dict) -> list[str]:
        """Compare a committed run with the generator's expectations."""
        import pyarrow as pa
        import pyarrow.compute as pc

        c = self.corpus
        problems = []
        if stats["n_canonical_triples"] != c.n_canonical:
            problems.append(f"n_canonical_triples "
                            f"{stats['n_canonical_triples']} != {c.n_canonical}")
        manifests = [json.loads((out / f"bucket={b}" / "_MANIFEST.json")
                                .read_text()) for b in range(N_BUCKETS)]
        docs = sum(m["docs"] for m in manifests)
        triples = sum(m["triples"] for m in manifests)
        failures = sum(m["parse_failures"] for m in manifests)
        rejects = c.turtle_rejects if self.mode == "turtle" else set()
        if (docs, triples, failures) != (len(c.pages), c.n_extracted,
                                         len(rejects)):
            problems.append(f"manifests (docs, triples, quarantined) = "
                            f"{(docs, triples, failures)} != "
                            f"{(len(c.pages), c.n_extracted, len(rejects))}")
        lineage = _read_files(out.glob("bucket=*/lineage/*.parquet"),
                              ["url", "n_triples", "parse_ok"]).to_pylist()
        bad = [r["url"] for r in lineage
               if r["n_triples"] != c.per_url.get(r["url"])
               or r["parse_ok"] == (r["url"] in rejects)]
        if bad or len(lineage) != len(c.pages):
            problems.append(f"lineage: {len(bad)} pages off, "
                            f"{len(lineage)} rows")
        canon = _read_files(out.glob("triples_canonical/*/*.parquet"),
                            ["s", "o", "o_kind"])
        if canon.num_rows != c.n_canonical:
            problems.append(f"triples_canonical rows {canon.num_rows}")
        stale = pa.array(sorted(c.noncanonical), pa.string())
        survivors = pc.sum(pc.or_(
            pc.is_in(canon["s"], value_set=stale),
            pc.and_(pc.equal(canon["o_kind"], "iri"),
                    pc.is_in(canon["o"], value_set=stale)),
        )).as_py()
        if survivors:
            problems.append(f"{survivors} triples keep a non-canonical "
                            f"sameAs IRI")
        return problems

    # -------------------------------------------------------------- lookups

    def lookup_plan(self, table: Path, n: int) -> list[tuple]:
        """n lookups (s, p, expected count) over the canonical table.
        Expected counts come from one plain full scan of the table.

        The mix is stratified so that every seed measures the same work:
        each block of ten lookups holds exactly LOOKUP_MIX's kinds, and
        the predicates follow a golden-ratio sequence through the Zipf
        distribution, so any prefix of the plan matches it closely."""
        import bisect
        import itertools
        import random

        df = _read_files(table.glob("*/*.parquet"), ["s", "p"]).to_pandas()
        by_p = df.groupby("p").size()
        by_s = df.groupby("s").size()
        by_sp = df.groupby(["s", "p"]).size()
        preds = sorted(by_p.index, key=lambda p: (-by_p[p], p))
        cum = list(itertools.accumulate(
            1 / (r + 1) ** ZIPF_S for r in range(len(preds))))
        subjects = sorted(by_s.index)
        rng = random.Random(self.seed * 7919 + 17)
        block = [kind for kind, k in LOOKUP_MIX for _ in range(k)]
        kinds = []
        while len(kinds) < n:
            rng.shuffle(block)
            kinds += block
        u = rng.random()
        plan = []
        for kind in kinds[:n]:
            if kind == "p":
                u = (u + 0.6180339887498949) % 1.0
                p = preds[min(bisect.bisect(cum, u * cum[-1]),
                              len(preds) - 1)]
                plan.append((None, p, int(by_p[p])))
            elif kind == "s":
                s = rng.choice(subjects)
                plan.append((s, None, int(by_s[s])))
            else:
                row = df.iloc[rng.randrange(len(df))]
                plan.append((row.s, row.p, int(by_sp[(row.s, row.p)])))
        return plan

    def lookup(self, table: Path, s, p, expected: int):
        from tortank_spark.storage import scan_pattern_pbucketed

        t = perf_counter()
        n = scan_pattern_pbucketed(self.spark, str(table), s=s, p=p).count()
        dt = perf_counter() - t
        return (dt, n), ([] if n == expected else
                         [f"lookup s={s} p={p}: {n} != {expected}"])


# ------------------------------------------------------------------ modes

def measure(bench: Bench, cold: Path, seconds: float,
            t_start: float) -> dict:
    """End-to-end sequence, the same in every run so that every run warms
    up the same way: half of MIN_LOOKUPS closed-loop lookups over the
    cold pass's table, a resume of that pass after deleting its bucket
    0 manifest, one full run on a fresh directory, then more lookups
    until --seconds have passed and at least MIN_LOOKUPS ran. The
    lookups and the resume let the JVM settle from the cold pass before
    the full run is timed; splitting the lookups spreads their samples
    over the whole run."""
    t0 = perf_counter()
    lat = []
    table = cold / "triples_canonical"
    plan = iter(bench.attempt("lookup plan", lambda: (
        bench.lookup_plan(table, 2000), [])) or [])

    def lookups(enough) -> None:
        for s, p, expected in plan:
            r = bench.attempt("lookup",
                              lambda: bench.lookup(table, s, p, expected))
            if r is not None:
                lat.append(r[0])
            if enough() or perf_counter() - t_start > HARD_STOP_S:
                return

    lookups(lambda: len(lat) >= MIN_LOOKUPS // 2)
    resume = bench.attempt("resume", lambda: bench.resume_run(cold, 0))
    r = bench.attempt("run_pipeline", lambda: bench.full_run(WORK / "out"))
    lookups(lambda: len(lat) >= MIN_LOOKUPS and
            perf_counter() - t0 >= seconds)
    wall = r[0] if r is not None else 0.0
    return {
        "wall_s": (wall, "s"),
        "pages_per_s": (len(bench.corpus.pages) / wall if wall else 0.0,
                        "pages/s"),
        "resume_s": (resume or 0.0, "s"),
        "lookup_p50_ms": (statistics.median(lat) * 1e3 if lat else 0.0, "ms"),
        "lookup_p90_ms": (_quantile(lat, 90) * 1e3 if len(lat) > 1 else 0.0,
                          "ms"),
        "lookups_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
        "_samples": {"lookups": len(lat),
                     "lookup_ms": [round(x * 1e3, 1) for x in lat]},
    }


def traced(bench: Bench, tracer: tracing.Tracer) -> dict:
    """Replay each layer once through its public function, each under a
    span and a job group, and derive the per-layer metrics."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from tortank_spark.canonicalize import (
        connected_components, rewrite_canonical, sameas_edges)
    from tortank_spark.extract import extract_embedded, extract_triples
    from tortank_spark.grammar.turtle import parse_document
    from tortank_spark.jsonld import expand_jsonld, find_islands
    from tortank_spark.linking import (
        best_link_per_mention, detect_mentions, link_mentions,
        links_as_triples)
    from tortank_spark.microdata import extract_microdata_triples
    from tortank_spark.rdfa import extract_rdfa_triples
    from tortank_spark.storage import write_triples_pbucketed

    spark, c = bench.spark, bench.corpus
    n_pages = len(c.pages)
    m: dict[str, tuple] = {}
    gm: dict[str, dict] = {}

    def replay(name: str, fn):
        # a cached plan equal to the replayed one would be substituted by
        # the cache manager and the layer would time as nearly free
        spark.catalog.clearCache()
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            raise RuntimeError("cache manager still holds plans")
        with tracer.span(name):
            fn()
        gm[name] = tracing.group_metrics(spark, name)
        return tracer.wall(name)

    checked = bench.attempt

    def pages():
        return spark.read.parquet(str(bench.pages_dir))

    # pipeline: untraced, traced, untraced passes on fresh directories,
    # so that warm-up favours neither side of the overhead; the span
    # covers the run_pipeline call only, not the output checks
    out, plain = WORK / "traced", WORK / "untraced"
    untraced = [checked("run_pipeline", lambda: bench.full_run(plain))]
    r = checked("run_pipeline", lambda: bench.full_run(
        out, tracer.span("pipeline")))
    untraced.append(checked("run_pipeline", lambda: bench.full_run(plain)))
    if r is not None and None not in untraced:
        t_wall = tracer.wall("pipeline")
        g = gm["pipeline"] = tracing.group_metrics(spark, "pipeline")
        phases = tracing.phase_walls(out, r[1], N_BUCKETS)
        for k, v in phases.items():
            m[f"pipeline.{k}"] = (v, "s")
        m["pipeline.phase_coverage"] = (sum(phases.values()) / t_wall,
                                        "ratio")
        m["pipeline.traced_wall_s"] = (t_wall, "s")
        m["pipeline.jobs"] = (g["jobs"], "count")
        m["pipeline.tasks"] = (g["tasks"], "count")
        m["pipeline.gc_s"] = (g["gc_s"], "s")
        m["pipeline.driver_gap_s"] = (
            t_wall - tracing.union_seconds(g["job_intervals"]), "s")
        m["trace.overhead_s"] = (
            t_wall - statistics.mean(w for w, _ in untraced), "s")

    # extract (Turtle): Spark stage, then a driver-side parse replay
    obs = Observation("extract")

    def run_extract():
        replay("extract.triples", lambda: _noop(
            extract_triples(pages()).observe(
                obs,
                F.count(F.when(~F.col("parse_ok"), 1)).alias("quarantined"),
                F.count("s").alias("triples"))))
        got = (obs.get["quarantined"], obs.get["triples"])
        m["extract.quarantine_pages"] = (got[0], "count")
        want = (len(c.turtle_rejects), c.per_syntax["turtle"])
        return None, ([] if got == want else
                      [f"extract_triples (quarantined, triples) "
                       f"{got} != {want}"])

    checked("extract_triples", run_extract)
    g = gm.get("extract.triples", {})
    m["extract.triples_s"] = (tracer.wall("extract.triples")
                              if g else 0.0, "s")
    m["extract.task_cpu_s"] = (g.get("cpu_s", 0.0), "s")
    m["extract.task_run_s"] = (g.get("run_s", 0.0), "s")
    t = perf_counter()
    with tracer.span("grammar.replay"):
        for _, text in c.pages:
            parse_document(text, bnode_prefix="bench-")
    parse_s = perf_counter() - t
    m["grammar.parse_us_per_page"] = (parse_s / n_pages * 1e6, "us")
    m["extract.boundary_share"] = (
        1 - parse_s / g["run_s"] if g.get("run_s") else 0.0, "ratio")

    # embedded: the fused four-syntax stage, then driver-side scanners
    emb_obs = Observation("embedded")

    def run_embedded():
        replay("extract.embedded", lambda: _noop(
            extract_embedded(pages()).observe(emb_obs, *[
                F.count(F.when(F.col("syntax") == s, 1)).alias(s)
                for s in gen.SYNTAXES])))
        got = {s: emb_obs.get[s] for s in gen.SYNTAXES}
        return None, ([] if got == c.per_syntax else
                      [f"extract_embedded per syntax {got} != "
                       f"{c.per_syntax}"])

    checked("extract_embedded", run_embedded)
    m["extract.embedded_s"] = (tracer.wall("extract.embedded")
                               if "extract.embedded" in gm else 0.0, "s")
    scan_s = dict.fromkeys(("jsonld", "rdfa", "microdata"), 0.0)
    runs = useful = 0
    with tracer.span("scanners.replay"):
        for _, text in c.pages:
            low = text.lower()
            t = perf_counter()
            j = [tr for isl in find_islands(text)
                 for tr in expand_jsonld(isl, "bench-")[0]]
            t1 = perf_counter()
            r_ts, _ = extract_rdfa_triples(text, bnode_prefix="bench-")
            t2 = perf_counter()
            md, _ = extract_microdata_triples(text, bnode_prefix="bench-")
            t3 = perf_counter()
            scan_s["jsonld"] += t1 - t
            scan_s["rdfa"] += t2 - t1
            scan_s["microdata"] += t3 - t2
            # the trigger tokens extract_embedded dispatches each scanner on
            for fired, emitted in (("ld+json" in low, j),
                                   ("property" in low or "typeof" in low,
                                    r_ts),
                                   ("itemscope" in low, md)):
                runs += fired
                useful += fired and bool(emitted)
    for k, v in scan_s.items():
        m[f"{k}.us_per_page"] = (v / n_pages * 1e6, "us")
    m["extract.dispatch_useful_ratio"] = (useful / runs if runs else 0.0,
                                          "ratio")

    # linking
    m_obs, l_obs = Observation("mentions"), Observation("links")

    def run_linking():
        mentions = detect_mentions(pages()).observe(
            m_obs, F.count(F.lit(1)).alias("n"))
        links = links_as_triples(best_link_per_mention(link_mentions(
            mentions, bench.alias_df, MIN_LINK_SCORE))).observe(
            l_obs, F.count(F.lit(1)).alias("n"))
        replay("linking", lambda: _noop(links))
        n = l_obs.get["n"]
        m["linking.link_s"] = (tracer.wall("linking"), "s")
        m["linking.mention_rows"] = (m_obs.get["n"], "count")
        m["linking.links"] = (n, "count")
        m["linking.shuffle_write_mb"] = (gm["linking"]["shuffle_write_mb"],
                                         "MB")
        return None, ([] if n == c.n_links else
                      [f"links {n} != {c.n_links}"])

    checked("linking", run_linking)

    # canonicalize, over the traced pass's bucket outputs
    def run_canonicalize():
        triples = spark.read.parquet(str(out / "bucket=*" / "triples"))
        replay("canonicalize.cc", lambda: _noop(
            connected_components(sameas_edges(triples))))
        cmap = spark.read.parquet(str(out / "canonical_map"))
        replay("canonicalize.rewrite",
               lambda: _noop(rewrite_canonical(triples, cmap)))
        edges = _read_files(out.glob("bucket=*/sameas_edges/*.parquet"),
                            ["src"]).num_rows
        cm = _read_files(out.glob("canonical_map/*.parquet"),
                         ["iri", "canonical"]).to_pandas()
        sizes = cm.groupby("canonical").size()
        m["canonicalize.edges"] = (edges, "count")
        m["canonicalize.components"] = (len(sizes), "count")
        m["canonicalize.largest_component"] = (
            int(sizes.max()) if len(sizes) else 0, "count")
        got = (edges, m["canonicalize.largest_component"][0],
               set(cm.iri[cm.iri != cm.canonical]))
        want = (c.n_edges, c.largest_component, c.noncanonical)
        return None, ([] if got == want else
                      [f"canonicalize (edges, largest, non-canonical) "
                       f"{got[:2]} != {want[:2]} or member sets differ"])

    checked("canonicalize", run_canonicalize)
    for k in ("cc", "rewrite"):
        m[f"canonicalize.{k}_s"] = (tracer.wall(f"canonicalize.{k}")
                                    if f"canonicalize.{k}" in gm else 0.0,
                                    "s")

    # storage: the bucketed write, then traced lookups
    def run_write():
        dst = WORK / "write_replay"
        shutil.rmtree(dst, ignore_errors=True)
        canon = spark.read.parquet(str(out / "triples_canonical"))
        replay("storage.write", lambda: write_triples_pbucketed(
            canon.drop("p_bucket"), str(dst)))
        files = list(dst.glob("p_bucket=*/*.parquet"))
        m["storage.write_s"] = (tracer.wall("storage.write"), "s")
        m["storage.files_written"] = (len(files), "count")
        m["storage.write_shuffle_mb"] = (
            gm["storage.write"]["shuffle_write_mb"], "MB")
        rows = _read_files(files, ["s"]).num_rows
        return None, ([] if rows == c.n_canonical else
                      [f"bucketed rewrite rows {rows} != {c.n_canonical}"])

    checked("storage.write", run_write)
    table = out / "triples_canonical"
    plan = checked("lookup plan",
                   lambda: (bench.lookup_plan(table, TRACED_LOOKUPS), []))
    def traced_lookup(s, p, expected):
        before = tracing.last_execution_id(spark)
        with tracer.span("storage.lookup"):
            (dt, n), problems = bench.lookup(table, s, p, expected)
        return (dt, n, *tracing.scan_metrics(spark, before)), problems

    lat, files, rows, results = [], 0, 0, 0
    for s, p, expected in plan or []:
        r = checked("lookup", lambda: traced_lookup(s, p, expected))
        if r is None:
            continue
        lat.append(r[0])
        results += r[1]
        files += r[2]
        rows += r[3]
    if lat:
        m["storage.lookup_ms"] = (statistics.median(lat) * 1e3, "ms")
        m["storage.files_read_per_lookup"] = (files / len(lat), "count")
        m["storage.rows_read_per_result"] = (rows / max(results, 1), "ratio")
    return {"metrics": m, "groups": {k: {kk: vv for kk, vv in v.items()
                                         if kk != "job_intervals"}
                                     for k, v in gm.items()}}


# ------------------------------------------------------------------- main

def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while tracing.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in tracing.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _run(args, spec: dict, cpus: int, t_start: float) -> int:
    import pyarrow
    import pyspark

    from tortank_spark.session import get_spark

    cfg = WORKLOADS[args.workload]
    steal0, total0 = tracing.cpu_jiffies()
    with tracing.RssSampler() as rss:
        t = perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = perf_counter() - t
        try:
            pages_dir = WORK / "pages"
            t = perf_counter()
            corpus = gen.make_corpus(args.workload, args.seed, cfg["pages"])
            _land(corpus, pages_dir, 2 * cpus)
            landing_s = perf_counter() - t
            bench = Bench(spark, args.workload, args.seed, corpus, pages_dir)
            t = perf_counter()
            cold = WORK / "cold"
            bench.attempt("run_pipeline (cold)", lambda: bench.full_run(cold))
            table = cold / "triples_canonical"
            plan = bench.attempt("lookup plan", lambda: (
                bench.lookup_plan(table, WARMUP_LOOKUPS), []))
            for s, p, expected in plan or []:
                bench.attempt("lookup (cold)",
                              lambda: bench.lookup(table, s, p, expected))
            cold_s = perf_counter() - t
            metrics = {"setup_s": (session_s + landing_s + cold_s, "s")}
            t = perf_counter()
            if args.trace:
                tracer = tracing.Tracer(spark)
                metrics.update(traced(bench, tracer)["metrics"])
            else:
                metrics.update(measure(bench, cold, args.seconds, t_start))
            measure_s = perf_counter() - t
        finally:
            t = perf_counter()
            _stop(spark)
            stop_s = perf_counter() - t
    metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    metrics["peak_jvm_rss_mb"] = (rss.peak_jvm / 2**20, "MB")
    metrics["peak_worker_rss_mb"] = (rss.peak_workers / 2**20, "MB")
    samples = metrics.pop("_samples", {})
    steal1, total1 = tracing.cpu_jiffies()
    facts = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "pages": len(corpus.pages),
        "page_bytes": sum(len(t) for _, t in corpus.pages),
        "extracted_triples": corpus.n_extracted,
        "canonical_triples": corpus.n_canonical,
        "links": corpus.n_links, "sameas_edges": corpus.n_edges,
        "n_buckets": N_BUCKETS, "samples": samples,
        "session_s": session_s, "landing_s": landing_s,
        "cold_pass_s": cold_s,
        "measure_s": measure_s, "stop_s": stop_s,
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    }
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {},
    }
    for entry in wanted:
        value, _ = metrics.get(entry["name"], (0.0, None))
        if entry["name"] not in metrics:
            result["correct"] = False
            bench.problems.append(f"metric {entry['name']} not measured")
        result["metrics"][entry["name"]] = {"value": value,
                                            "unit": entry["unit"]}
    if args.trace:
        OUT.mkdir(exist_ok=True)
        trace_file = OUT / f"trace_{args.workload}_seed{args.seed}.json"
        trace_file.write_text(json.dumps({
            "host": facts, "spans": tracer.spans,
            "metrics": result["metrics"]}, indent=1))
        print(f"# spans -> {trace_file.relative_to(ROOT)}")
    print("# host " + json.dumps(facts))
    for name, (value, unit) in metrics.items():
        print(f"# {name:34s} {value:14.6g} {unit}")
    print(f"# {'failed_ratio':34s} "
          f"{bench.failed / max(bench.attempted, 1):14.6g} "
          f"({bench.failed}/{bench.attempted})")
    for p in bench.problems:
        print(f"# FAILED {p}")
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="KG-construction benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = perf_counter()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cpus = len(os.sched_getaffinity(0))
    _prepare_env(cpus)
    try:
        return _run(args, spec, cpus, t_start)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
