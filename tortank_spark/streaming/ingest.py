"""Structured-Streaming ingest wrappers (SURVEY.md §2.4).

The reference's nearest construct is a pull-based incremental
N-Triples statement parser (turtle_doc.rs:338-361) — i.e. resumable
consumption of an append-only source. The Spark-native equivalents:

* ``stream_ntriples_directory`` — readStream.text over a landing
  directory; each micro-batch runs the SAME line transform as the batch
  reader (``sources.ntriples.parse_ntriples_lines``: every pipeline
  stage is a pure DataFrame transform, so ``foreachBatch`` reuses them
  verbatim). Checkpointing/exactly-once is Spark's streaming
  checkpoint; this composes with (rather than replaces) the
  bucket-manifest resume model of pipeline.py.
* ``stream_extract`` — the generic page-stream variant for a streaming
  page source (e.g. Kafka value -> url/text columns upstream).

Delivery semantics: ``foreachBatch`` is at-least-once — a micro-batch
retried after a crash between the sink write and the checkpoint commit
re-runs the handler. The sink is therefore made idempotent by keying
each batch to its own ``batch_id=N`` subdirectory and OVERWRITING it:
a replayed batch rewrites identical data in place instead of appending
duplicates, giving effective exactly-once output for deterministic
transforms (the standard Spark idempotent-foreachBatch pattern).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..extract import extract_triples
from ..sources.ntriples import parse_ntriples_lines


def stream_extract(
    pages_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
    extractor=extract_triples,
) -> StreamingQuery:
    """pages stream (url, text, ...) -> parquet triple sink with
    streaming checkpoints. ``trigger_once`` drains available data and
    stops — the incremental-batch pattern. ``extractor`` is any
    page->triples DataFrame transform (extract.extract_triples,
    jsonld.extract_jsonld, rdfa.extract_rdfa, or the fused
    extract.extract_embedded) — every extraction stage is a pure
    transform, so the streaming path reuses them verbatim."""

    def handle(batch_df: DataFrame, batch_id: int):
        out = extractor(batch_df)
        # idempotent on foreachBatch retry: a replayed batch_id
        # overwrites its own directory rather than appending dups
        out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    writer = (
        pages_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ntriples_directory(
    spark: SparkSession,
    in_dir: str,
    out_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Watch a directory of N-Triples files; parse each line-batch with
    ``parse_ntriples_lines`` (url = ``in_dir``), so the sink holds the
    rows ``read_ntriples_lines`` gives for the same directory."""
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(in_dir)
        .select(F.lit(in_dir).alias("url"), F.col("value").alias("text"))
    )
    return stream_extract(lines, out_path, checkpoint_path, trigger_once,
                          extractor=parse_ntriples_lines)


def stream_exact_dedup(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming exact deduplication: a running per-fingerprint
    aggregate -> (fingerprint, min id seen, copies seen), maintained
    across micro-batches in the streaming state store — new files
    landing in the source directory fold into the same state on the
    next trigger, which is what makes this dedup INCREMENTAL rather
    than a per-batch rinse (the batch ``dedup.exact_dedup`` semantics,
    lifted to an unbounded source).

    min/count are order-insensitive, so the result is deterministic
    whatever the micro-batch cut — unlike streaming ``dropDuplicates``
    which keeps the arbitrary first arrival. Complete output mode +
    an overwrite ``foreachBatch`` sink: every trigger rewrites the
    full state snapshot, so a retried batch is idempotent and the
    sink always holds exactly the state as of the last commit.

    Scale note: complete mode re-emits the whole state each trigger —
    right for a bounded drain (availableNow) or a dimension-sized
    fingerprint table; for an unbounded 100-TB stream, partition the
    state by landing bucket and compact periodically, or bound state
    with ``dropDuplicatesWithinWatermark`` when only in-window dedup
    is needed (the standard Spark trade-off)."""
    agg = (
        docs_stream.withColumn("fingerprint", F.md5(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )

    def handle(batch_df: DataFrame, batch_id: int):
        # complete mode: batch_df IS the full updated state; the
        # overwrite makes retries idempotent
        batch_df.write.mode("overwrite").parquet(out_path)

    writer = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
