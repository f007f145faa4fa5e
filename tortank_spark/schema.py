"""Central schemas.

The triple schema is the flat, context-free wire form — exactly the
reference's own interchange struct RdfJsonNode/RdfJsonTriple
(/root/reference/src/turtle/turtle_doc.rs:136-159) widened with
provenance (url) and kinds. Prefix/base state is parse-time-only
(SURVEY.md §1.3) so the post-parse table needs no document context.

The page schema follows BASELINE.json input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string).
"""

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), True),
    ]
)

TRIPLE_FIELDS = [
    StructField("url", StringType(), False),
    StructField("s", StringType(), True),
    StructField("s_kind", StringType(), True),
    StructField("p", StringType(), True),
    StructField("o", StringType(), True),
    StructField("o_kind", StringType(), True),
    StructField("o_datatype", StringType(), True),
    StructField("o_lang", StringType(), True),
]

TRIPLE_SCHEMA = StructType(TRIPLE_FIELDS)

# extract.doc_stage output: a bad page is a quarantine row, not a job
# failure (the reference fails the whole doc: turtle_doc.rs:888-905).
# parse_ok is on every row; n_triples, reason (quarantine.REASONS, null
# on a parsed page) and detail sit on ONE row per page: its first
# triple row, or a status row with null triple columns
EXTRACT_SCHEMA = StructType(
    TRIPLE_FIELDS
    + [
        StructField("n_triples", LongType(), True),
        StructField("parse_ok", BooleanType(), False),
        StructField("reason", StringType(), True),
        StructField("detail", StringType(), True),
    ]
)

# the fused embedded extraction stage (extract.extract_embedded): each
# triple tagged with the syntax it came from; a page without triples is
# one status row with a null syntax, which the operator drops
EMBEDDED_SCHEMA = StructType(
    TRIPLE_FIELDS[:1]
    + [StructField("syntax", StringType(), True)]
    + EXTRACT_SCHEMA.fields[1:]
)

TRIPLE_COLS = ["s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]
