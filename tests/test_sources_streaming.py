"""Sources (RDF/JSON, N-Triples) and Structured-Streaming ingest."""

import json
from collections import Counter

import pyspark.sql.functions as F


def test_rdf_json_roundtrip(spark, tmp_path):
    """Write triples as RDF/JSON, read them back through the source —
    values and kinds must survive (the reference round-trips fixture
    0027 the same way)."""
    from tortank_spark.extract import extract_triples, triples_only
    from tortank_spark.serialize import to_rdf_json
    from tortank_spark.sources import rdf_json_to_triples
    from tortank_spark.sources.rdfjson import RDF_JSON_SCHEMA

    pages = spark.createDataFrame(
        [("u1",
          '@prefix foaf: <http://foaf.com/>.\n'
          '[ foaf:name "Alice" ] foaf:knows [ foaf:name "Bob" ; '
          'foaf:age 34 ] .')],
        "url string, text string",
    )
    t = triples_only(extract_triples(pages, fixture_mode=True))
    js = [r["value"] for r in to_rdf_json(t).collect()]
    raw = spark.read.json(
        spark.sparkContext.parallelize(js), schema=RDF_JSON_SCHEMA
    )
    back = rdf_json_to_triples(raw)
    want = {tuple(r) for r in t.drop("url").collect()}
    got = {tuple(r) for r in back.drop("url").collect()}
    assert got == want
    assert len(got) == 4


def test_ntriples_source(spark, tmp_path):
    from tortank_spark.sources import read_ntriples_lines

    p = tmp_path / "data.nt"
    p.write_text(
        '<http://a> <http://p> "x"@en .\n'
        "_:b1 <http://q> <http://c> .\n"
        "this line is garbage\n"
        "# a comment-only line\n"
        "\n"
        '<http://a> a <http://T> .\n'
    )
    out = read_ntriples_lines(spark, str(p))
    good = out.filter(F.col("parse_ok") & F.col("s").isNotNull())
    bad = out.filter(~F.col("parse_ok"))
    assert good.count() == 3
    assert bad.count() == 1
    # the blank line is dropped; the comment line is one status row
    assert out.count() == 5


def test_stream_ntriples_directory(spark, tmp_path):
    from tortank_spark.schema import EXTRACT_SCHEMA
    from tortank_spark.sources import read_ntriples_lines
    from tortank_spark.streaming import stream_ntriples_directory

    ind = tmp_path / "in"
    ind.mkdir()
    (ind / "a.nt").write_text('<http://a> <http://p> "1" .\n' * 3)
    (ind / "b.nt").write_text("<http://b> <http://q> <http://c> .\n")
    # the line shapes where a raw-line parse differs from the batch
    # reader: a trailing comment, a blank line, an unsalted bnode label
    (ind / "d.nt").write_text(
        "<http://d> <http://q> <http://e> . # trailing comment\n"
        "\n"
        "_:b1 <http://q> <http://f> .\n"
    )
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_ntriples_directory(spark, str(ind), outp, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(outp)
    assert got.filter(F.col("parse_ok")).count() >= 2
    cols = EXTRACT_SCHEMA.fieldNames()
    assert Counter(map(tuple, got.select(cols).collect())) == Counter(
        map(tuple, read_ntriples_lines(spark, str(ind)).select(cols).collect())
    )
    # restart with no new files: checkpoint prevents reprocessing
    q2 = stream_ntriples_directory(spark, str(ind), outp, ckpt)
    q2.awaitTermination(120)
    n1 = spark.read.parquet(outp).count()
    (ind / "c.nt").write_text("<http://d> <http://q> <http://e> .\n")
    q3 = stream_ntriples_directory(spark, str(ind), outp, ckpt)
    q3.awaitTermination(120)
    n2 = spark.read.parquet(outp).count()
    assert n2 == n1 + 1


def test_sessionize_batch_matches_manual(spark):
    """session_window semantics: merge at <= gap, break at > gap."""
    from tortank_spark.events import sessionize_stats

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:30:00", 2.0),   # exactly gap -> merges
        (1, "2024-01-01 01:00:01", 4.0),   # > gap from prev -> break
        (2, "2024-01-01 00:00:00", 8.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_s string, value double") \
        .selectExpr("user_id", "CAST(ts_s AS timestamp) AS ts", "value")
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in sessionize_stats(ev).collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00", 2, 3.0),
        (1, "2024-01-01 01:00:01", 1, 4.0),
        (2, "2024-01-01 00:00:00", 1, 8.0),
    }


import pytest


@pytest.mark.parametrize(
    "gap_s,gap_str",
    [
        (30 * 60, "30 minutes"),   # default gap
        (150 * 60, "150 minutes"),  # non-default: merges 00:00..02:00
    ],
)
def test_sessionize_stateful_stream(spark, tmp_path, gap_s, gap_str):
    """applyInPandasWithState sessionization: gap breaks close sessions
    mid-stream; the event-time timeout (driven by the watermark from
    later batches) flushes the remaining open session. Closed+flushed
    sessions must equal the batch operator's output for users whose
    sessions all ended. Parameterized over a NON-default gap so the
    stateful operator provably threads the gap through (with 150 min
    the first three events merge into ONE session, so the two gaps
    yield different session structures)."""
    import pyspark.sql.functions as F

    from tortank_spark.events import sessionize_stats, sessionize_stateful

    ind = tmp_path / "ev"
    ind.mkdir()
    schema = "user_id long, ts timestamp, value double"

    def write_file(name, rows):
        spark.createDataFrame(rows, "user_id long, ts_s string, value double") \
            .selectExpr("user_id", "CAST(ts_s AS timestamp) AS ts", "value") \
            .coalesce(1).write.mode("overwrite").parquet(str(ind / name))

    batch_a = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),
        (1, "2024-01-01 02:00:00", 4.0),   # closes session 1
    ]
    batch_b = [
        (1, "2024-01-01 05:00:00", 8.0),   # closes session 2
    ]
    batch_c = [
        (2, "2024-01-02 00:00:00", 16.0),  # advances watermark -> flushes
    ]
    write_file("a", batch_a)
    write_file("b", batch_b)
    write_file("c", batch_c)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ind) + "/*")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sessionize_stateful(stream, gap_s=gap_s)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch truth for user 1 (all of whose sessions have ended)
    all_events = spark.createDataFrame(
        batch_a + batch_b + batch_c, "user_id long, ts_s string, value double"
    ).selectExpr("user_id", "CAST(ts_s AS timestamp) AS ts", "value")
    want = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in sessionize_stats(all_events, gap=gap_str)
        .filter(F.col("user_id") == 1).collect()
    }
    assert want <= got  # user 1's sessions all emitted
    # user 2's session may or may not have flushed (stream ended) — but
    # nothing invented: every emitted session is a real batch session
    all_batch = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in sessionize_stats(all_events, gap=gap_str).collect()
    }
    assert got <= all_batch


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """§2.4: the batch windowed aggregation run as a real stream —
    readStream + withWatermark + tumbling window, availableNow drain;
    the result must equal the batch F.window aggregation (late data
    beyond the watermark would be dropped; here all data is in order
    so the two agree exactly)."""
    import pyspark.sql.functions as F

    ind = tmp_path / "ev"
    ind.mkdir()
    rows = [
        (1, "click", "2024-01-01 00:05:00", 1.0),
        (2, "view", "2024-01-01 00:25:00", 2.0),
        (1, "click", "2024-01-01 01:05:00", 4.0),
        (3, "view", "2024-01-01 01:45:00", 8.0),
        (1, "click", "2024-01-01 03:05:00", 16.0),  # advances watermark
    ]
    schema = "user_id long, event_type string, ts timestamp, value double"
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_s string, value double"
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS timestamp) AS ts",
                 "value")
    df.coalesce(1).write.mode("overwrite").parquet(str(ind / "a"))

    def windowed(d):
        w = F.window(F.col("ts"), "1 hour")
        return d.groupBy(w, F.col("event_type")).agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).select(
            F.col("window.start").alias("win_start"), "event_type",
            "n_events", "sum_value",
        )

    stream = (
        spark.readStream.schema(schema)
        .parquet(str(ind) + "/*")
        .withWatermark("ts", "10 minutes")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        windowed(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (str(r["win_start"]), r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (str(r["win_start"]), r["event_type"], r["n_events"], r["sum_value"])
        for r in windowed(df).collect()
    }
    # append mode only emits windows the watermark has closed: every
    # emitted window matches batch, and all closed windows are present
    assert got <= want
    closed = {w for w in want if w[0] < "2024-01-01 02:55:00"}
    assert closed <= got


def test_sessionize_random_vs_python_reference(spark):
    """Property check on seeded random events: session_window output ==
    a pure-Python gap sessionizer (break iff gap > 30 min)."""
    import random
    from datetime import datetime, timedelta

    from tortank_spark.events import sessionize_stats

    rng = random.Random(7)
    base = datetime(2024, 1, 1)
    rows = []
    for uid in range(6):
        t = base
        for _ in range(rng.randint(1, 40)):
            t = t + timedelta(minutes=rng.choice([1, 5, 29, 30, 31, 120]))
            rows.append((uid, t, float(rng.randint(1, 9))))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    want = set()
    by_user = {}
    for uid, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
        by_user.setdefault(uid, []).append((t, v))
    for uid, evs in by_user.items():
        cur = [evs[0]]
        for e in evs[1:]:
            if (e[0] - cur[-1][0]).total_seconds() > 30 * 60:
                want.add((uid, str(cur[0][0]), str(cur[-1][0]), len(cur),
                          round(sum(x[1] for x in cur), 4)))
                cur = []
            cur.append(e)
        want.add((uid, str(cur[0][0]), str(cur[-1][0]), len(cur),
                  round(sum(x[1] for x in cur), 4)))

    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], r["sum_value"])
        for r in sessionize_stats(ev).collect()
    }
    assert got == want


def test_stream_exact_dedup_folds_state_across_drains(spark, tmp_path):
    """The streaming dedup must be INCREMENTAL: drain once, land more
    files (including new copies of already-seen texts), drain again
    from the same checkpoint — counts fold into the existing state
    and min-ids tighten; the snapshot sink holds exactly the merged
    state. A per-batch rinse would reset n_copies."""
    from tortank_spark.streaming import stream_exact_dedup

    land = str(tmp_path / "in"); out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        q = stream_exact_dedup(stream, out, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame(
        [(10, "aaa"), (11, "bbb"), (12, "aaa")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(land)
    drain()
    first = {r["fingerprint"]: (r["doc_id"], r["n_copies"])
             for r in spark.read.parquet(out).collect()}
    assert sorted(v for v in first.values()) == [(10, 2), (11, 1)]

    spark.createDataFrame(
        [(5, "aaa"), (13, "ccc")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(land)
    drain()
    got = sorted(
        (r["doc_id"], r["n_copies"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(5, 3), (11, 1), (13, 1)]


# ---- pagetable resolution ladder ------------------------------------


def _mini_pages(spark):
    from tortank_spark import fixtures

    return fixtures.make_pages(spark, n_pages=8, n_partitions=2)


def test_read_pages_parquet_and_table(spark, tmp_path):
    """Ladder rungs testable in this runtime: parquet directory and
    catalog-table (spark.table) both resolve and validate."""
    from tortank_spark.sources.pagetable import read_pages

    src = _mini_pages(spark)
    n = src.count()
    p = str(tmp_path / "pages")
    src.write.parquet(p)
    got = read_pages(spark, p)
    assert got.count() == n > 0
    assert [f.name for f in got.schema.fields][:5] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    spark.read.parquet(p).createOrReplaceTempView("pages_v")
    assert read_pages(spark, "table:pages_v").count() == n


def test_read_pages_contract_violation(spark, tmp_path):
    """A mis-declared upstream table fails HERE at plan time with the
    offending columns named, not three stages later inside a UDF."""
    import pytest

    from tortank_spark.sources.pagetable import read_pages

    p = str(tmp_path / "bad")
    spark.createDataFrame(
        [("u", "not-a-timestamp")], "url string, warc_ts string"
    ).write.parquet(p)
    with pytest.raises(TypeError) as ei:
        read_pages(spark, p)
    msg = str(ei.value)
    assert "warc_ts" in msg and "html" in msg  # wrong + missing named


def test_read_pages_iceberg_missing_runtime(spark, tmp_path):
    """iceberg:<path> must raise the typed, actionable error in a
    jar-less runtime — NEVER silently fall back to another format."""
    import pytest

    from tortank_spark.sources.pagetable import (
        IcebergRuntimeMissing, read_pages,
    )

    with pytest.raises(IcebergRuntimeMissing, match="iceberg-spark-runtime"):
        read_pages(spark, f"iceberg:{tmp_path}/warehouse/pages")


def test_stream_extract_embedded_over_page_stream(spark, tmp_path):
    """A streaming crawl drop of MIXED embedded syntaxes flows through
    the fused extractor unchanged: stream_extract(extractor=
    extract_embedded) drains a landing dir of pages, each micro-batch
    writing an idempotent batch_id partition; a second drain from the
    same checkpoint picks up ONLY newly landed pages (incremental, no
    reprocessing)."""
    import os

    from tortank_spark.extract import extract_embedded
    from tortank_spark.streaming import stream_extract

    land = str(tmp_path / "in"); out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [
        ("u:t", '@prefix ex: <http://e/> . ex:a ex:name "T" .'),
        ("u:j", '<script type="application/ld+json">'
                '{"@context":{"@vocab":"http://v/"},'
                '"@id":"http://j/1","k":"v"}</script>'),
    ]
    spark.createDataFrame(rows1, ["url", "text"]).write.parquet(
        land, mode="append")

    def drain():
        stream = (
            spark.readStream.schema("url string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        q = stream_extract(
            stream, out, ckpt, extractor=lambda pages: extract_embedded(
                pages, fixture_mode=True))
        q.awaitTermination(120)

    drain()
    got = spark.read.option("basePath", out).parquet(out)
    first = {(r["syntax"], r["url"]) for r in got.collect()}
    assert ("turtle", "u:t") in first and ("jsonld", "u:j") in first

    rows2 = [("u:r", '<div vocab="http://s/" about="http://r/1">'
                     '<span property="name">R</span></div>')]
    spark.createDataFrame(rows2, ["url", "text"]).write.parquet(
        land, mode="append")
    drain()
    got2 = spark.read.option("basePath", out).parquet(out)
    assert {(r["syntax"], r["url"]) for r in got2.collect()} == first | {
        ("rdfa", "u:r")}
    # incremental: the second drain added new batch dirs, it did not
    # rewrite the first drain's batches
    batches = {d for d in os.listdir(out) if d.startswith("batch_id=")}
    assert len(batches) >= 2
