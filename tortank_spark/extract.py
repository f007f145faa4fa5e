"""Per-document extraction stage — the engine's "scan".

Every page extractor is a plain per-document function
``(text, bnode_prefix) -> (rows, error)``: the Turtle grammar (rules
P1-P24, SURVEY.md §2.2), the JSON-LD island expander and the RDFa-Lite
and microdata scanners. ``doc_stage`` runs any of them as ONE
Arrow-batched ``mapInArrow`` stage over the page table: state is
document-scoped (prefix redefinition mid-doc, turtle_doc.rs:489-540) so
a document is the natural unit of work, and documents are rows. That
stage is ``row_stage``, which every per-row Python kernel of the engine
runs in (out-links, MinHash/SimHash signatures and the media stages
too). ``row_stage`` is one form of ``batch_stage``, the engine's only
Python map stage: the numpy stages (winnow fingerprints, LSH and IVF
buckets, embedding bands) hand it whole-batch columns instead. Arrow
moves batches JVM<->Python; the per-doc parse is pure Python but
amortized across whole batches — there is no per-row Python UDF
dispatch and no pandas conversion.

Scale design (100 TB / 10^12 docs):
* embarrassingly parallel — no shuffle; parallelism = input splits.
  Column pruning reaches the parquet scan (only url+text are read).
* blank-node labels are salted with sha1(url) so they are globally
  unique with zero coordination (partition-salted counters,
  SURVEY.md §4) while preserving the reference's per-doc allocation
  order.
* parse failures become quarantine rows (parse_ok=false, error) —
  never job failures.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Sequence
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .grammar.turtle import parse_document
from .schema import EMBEDDED_SCHEMA, EXTRACT_SCHEMA, TRIPLE_SCHEMA


def _salt(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8", "surrogatepass")).hexdigest()[:12] + "-"


def batch_stage(
    df: DataFrame,
    cols: list[str],
    per_batch: Callable[..., Sequence],
    schema: StructType,
) -> DataFrame:
    """Run ``per_batch(*arrays)`` over every Arrow batch of
    ``df.select(*cols)`` as one ``mapInArrow`` stage: it gets the
    batch's pyarrow columns and returns one column per ``schema``
    field. A pyarrow ``Array`` passes through as is; anything else
    (a list, a numpy array) becomes ``pa.array(c, type=t)``, typed
    from the schema. A batch with no rows yields nothing, so
    ``per_batch`` never sees one; nothing is held across batches."""
    names = schema.fieldNames()
    types = [f.type for f in to_arrow_schema(schema)]

    def run(batches):
        for rb in batches:
            if rb.num_rows:
                yield pa.RecordBatch.from_arrays(
                    [c if isinstance(c, pa.Array) else pa.array(c, type=t)
                     for c, t in zip(per_batch(*rb.columns), types)], names)

    return df.select(*cols).mapInArrow(run, schema=schema)


def repeat_each(values: pa.Array, counts: int | Sequence[int]) -> pa.Array:
    """``values[i]`` repeated ``counts[i]`` times (or ``counts`` times
    when it is one int), keeping its Arrow type: a batch key fanned
    out to its output rows."""
    return values.take(np.repeat(np.arange(len(values)), counts))


def row_stage(
    df: DataFrame,
    cols: list[str],
    per_row: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """Run ``per_row(*values)`` over every row of ``df.select(*cols)``
    as one ``batch_stage``; the call returns the row's output tuples in
    ``schema`` order, and a row may return none.

    Each batch keeps one Python list per output column (a list of row
    tuples costs ~2x on array construction — this is the per-triple
    hot path), and ``batch_stage`` turns each list into one
    ``pa.array``."""
    names = schema.fieldNames()

    def per_batch(*arrays):
        out = [[] for _ in names]
        for values in zip(*(c.to_pylist() for c in arrays)):
            for col, vals in zip(out, zip(*per_row(*values))):
                col.extend(vals)
        return out

    return batch_stage(df, cols, per_batch, schema)


def doc_stage(
    pages: DataFrame,
    per_doc: Callable[[str, str], tuple[list[tuple], str | None]],
    schema: StructType,
    *,
    salt: bool,
) -> DataFrame:
    """Run ``per_doc(text, bnode_prefix) -> (rows, error)`` over every
    (url, text) page as one ``row_stage``.

    ``schema`` is the stage output: ``url``, then one field per
    element of a row tuple, then ``parse_ok`` and ``error``. A page
    whose call returns an error or no rows yields exactly one
    quarantine row ``(url, nulls..., parse_ok = error is None,
    error)``. ``salt`` prefixes blank-node labels with sha1(url)[:12]
    so they are unique across documents; unsalted labels are the
    reference's per-doc counter ``_:1, _:2, ...``."""
    blank = (None,) * (len(schema.fieldNames()) - 3)

    def per_page(url, text):
        rows, err = per_doc(text or "", _salt(url) if salt else "")
        ok = err is None
        if not ok or not rows:
            return ((url, *blank, ok, err),)
        return [(url, *r, ok, err) for r in rows]

    return row_stage(pages, ["url", "text"], per_page, schema)


def extract_triples(
    pages: DataFrame,
    fixture_mode: bool = False,
    seed_prefixes: dict | None = None,
    well_known_prefix: str | None = None,
) -> DataFrame:
    """pages(url, text, ...) -> raw extraction rows incl. quarantine rows.

    ``fixture_mode`` disables url-salting of blank-node labels so labels
    are the reference's deterministic per-doc counter ``_:1, _:2, ...``
    (turtle_doc.rs:33-51) — used by the fixture P/R harness.
    ``seed_prefixes`` (R10, turtle_doc.rs:264-283) and
    ``well_known_prefix`` (skolemization, turtle_doc.rs:733-747) are
    bound into every parser call as plain closure constants — tiny
    dicts ride the task closure; a huge external prefix table would use
    ``spark.sparkContext.broadcast`` instead.
    """
    parse = partial(parse_document, seed_prefixes=seed_prefixes,
                    well_known_prefix=well_known_prefix)
    return doc_stage(pages, parse, EXTRACT_SCHEMA, salt=not fixture_mode)


def triples_only(extracted: DataFrame) -> DataFrame:
    """Keep good triple rows with the canonical triple schema."""
    return extracted.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        *[f.name for f in TRIPLE_SCHEMA.fields]
    )


def doc_lineage(extracted: DataFrame) -> DataFrame:
    """Extraction rows -> one lineage row per url: (url, n_triples,
    parse_ok, error). A quarantine row counts no triple."""
    return extracted.groupBy("url").agg(
        F.count("s").alias("n_triples"),
        F.min(F.col("parse_ok").cast("int")).cast("boolean").alias("parse_ok"),
        F.first("error", ignorenulls=True).alias("error"),
    )


def embedded_document(
    text: str, bnode_prefix: str = ""
) -> tuple[list[tuple], None]:
    """Run all four per-document extractors over one page -> (rows,
    None), each row a triple tagged with its syntax: ``('turtle' |
    'jsonld' | 'rdfa' | 'microdata', s, s_kind, p, o, o_kind,
    o_datatype, o_lang)``. A syntax that fails on the page contributes
    no row; the page itself never fails."""
    # these modules import doc_stage from here, so they load lazily
    from .jsonld import jsonld_document
    from .microdata import extract_microdata_triples
    from .rdfa import extract_rdfa_triples

    rows = []
    ts, err = parse_document(text, bnode_prefix)
    if err is None:
        rows.extend(("turtle", *t) for t in ts)
    # conservative per-syntax dispatch (guide §1.2 "per-task
    # work"): each scanner can only ever emit when its trigger
    # token occurs somewhere in the page — JSON-LD islands need a
    # (case-insensitive) 'application/ld+json' script type, every
    # RDFa emission requires a property= or typeof= attribute,
    # every microdata emission an itemscope. A substring test over
    # the lowered page is exactly conservative (false positives
    # just run the scanner and emit nothing, false negatives are
    # impossible), and skips 2-3 full HTML scans on the typical
    # single-syntax page.
    low = text.lower()
    if "ld+json" in low:
        ts, err = jsonld_document(text, bnode_prefix)
        if err is None:
            rows.extend(("jsonld", *t) for t in ts)
    if "property" in low or "typeof" in low:
        ts, _ = extract_rdfa_triples(text, bnode_prefix)
        rows.extend(("rdfa", *t) for t in ts)
    if "itemscope" in low:
        ts, _ = extract_microdata_triples(text, bnode_prefix)
        rows.extend(("microdata", *t) for t in ts)
    return rows, None


def embedded_triples(
    text: str, bnode_prefix: str = ""
) -> tuple[list[tuple], None]:
    """The page's distinct triples over all four syntaxes, untagged:
    a triple asserted in two syntaxes counts once, as the canonical
    table is a set (the reference's statement dedup)."""
    rows, _ = embedded_document(text, bnode_prefix)
    return list(dict.fromkeys(r[1:] for r in rows)), None


def extract_embedded(pages: DataFrame, fixture_mode: bool = False) -> DataFrame:
    """Unified embedded-KG extraction — the north star's 'embedded
    RDFa/JSON-LD/Turtle in page text' as ONE operator. Every page is
    scanned once and run through ``embedded_document``; the output
    ``(syntax, url, s, ...)`` is the union of each syntax's good
    triples tagged with ``syntax in ('turtle','jsonld','rdfa',
    'microdata')``.

    Single-pass by construction: one ``doc_stage``, so the page table
    is read ONCE (a DataFrame-level union of the four standalone
    extractors would scan 100 TB four times). A page may legitimately
    contribute triples in several syntaxes. Per-syntax quarantine
    semantics differ by design — a JSON-LD page is not a Turtle parse
    failure — so this operator emits good triples only; per-page parse
    auditing stays with the standalone extractors (extract_triples /
    jsonld.extract_jsonld / rdfa.extract_rdfa /
    microdata.extract_microdata)."""
    return (
        doc_stage(pages, embedded_document, EMBEDDED_SCHEMA,
                  salt=not fixture_mode)
        .filter(F.col("s").isNotNull())
        .select("syntax", *TRIPLE_SCHEMA.fieldNames())
    )
