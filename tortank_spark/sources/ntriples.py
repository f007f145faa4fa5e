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


def read_ntriples_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read an N-Triples file into extraction rows; each line is an
    independent statement so ordinary text splits parallelize it.

    Blank-node labels stay unsalted on purpose: every line carries the
    same url (``path``), and a directory written by
    ``write_ntriples(partitions=k)`` is ONE document, so ``_:b1`` names
    the same node in every part file. Blank lines are dropped before
    the stage; a comment-only line yields a parse_ok status row, the
    contract of an empty document."""
    lines = spark.read.text(path).filter(F.col("value").rlike(r"\S"))
    return doc_stage(
        lines.select(F.lit(path).alias("url"), F.col("value").alias("text")),
        _parse_line, EXTRACT_SCHEMA, salt=False,
    )
