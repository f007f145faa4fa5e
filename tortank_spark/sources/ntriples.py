"""Line-oriented N-Triples source (SURVEY.md S3).

The reference exposes a pull-based incremental statement parser
(turtle_doc.rs:338-361). In Spark, N-Triples' line-orientation makes
this a text scan + the same per-document parse stage: spark.read.text
splits on lines for free (and splits *files* across tasks — the
streaming-ingest story is readStream.text + the same function)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..extract import doc_stage
from ..grammar.turtle import parse_document
from ..schema import EXTRACT_SCHEMA


def _parse_line(line: str, bnode_prefix: str):
    # spark.read.text strips the line terminator; restore it, since a
    # comment runs to the end of its line (grammar: '#' .. '\n')
    return parse_document(line + "\n", bnode_prefix)


def parse_ntriples_lines(lines: DataFrame) -> DataFrame:
    """(url, text) rows, one N-Triples line each -> extraction rows; the
    one line transform of the batch reader and the streaming ingest.

    Blank lines are dropped before the stage; a comment-only line
    yields a parse_ok status row, the contract of an empty document.
    Blank-node labels stay unsalted on purpose: a directory written by
    ``write_ntriples(partitions=k)`` is ONE document, so ``_:b1`` names
    the same node in every part file and every line."""
    return doc_stage(lines.filter(F.col("text").rlike(r"\S")), _parse_line,
                     EXTRACT_SCHEMA, salt=False)


def read_ntriples_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read an N-Triples file (or directory) into extraction rows with
    url = ``path``; each line is an independent statement so ordinary
    text splits parallelize it."""
    return parse_ntriples_lines(spark.read.text(path).select(
        F.lit(path).alias("url"), F.col("value").alias("text")))
