"""TurtleDocFrame — a 1:1 facade over the reference's ``TurtleDoc`` API
(/root/reference/src/turtle/turtle_doc.rs), backed by the canonical
triple DataFrame and the package's DataFrame operators.

A user of the reference drives a document object: parse it, query it
with triple patterns, combine documents with set algebra, serialize it.
This class maps every reachable public method of the reference onto its
Spark-native implementation so that switch-over is literal:

| reference (turtle_doc.rs)              | here                         |
|----------------------------------------|------------------------------|
| ``TryFrom<(&str, Option<String>)>`` :888| ``TurtleDocFrame.from_string``|
| ``from_file`` :243                     | ``TurtleDocFrame.from_file``  |
| ``from_rdf_json_file`` :228            | ``from_rdf_json_file``        |
| ``add_prefixes`` :264                  | ``add_prefixes``              |
| ``add_statement`` :284                 | ``add_statement``             |
| ``len`` / ``is_empty`` :294            | ``__len__`` / ``is_empty``    |
| ``difference`` :301                    | ``difference``                |
| ``intersection`` :314                  | ``intersection``              |
| ``all_subjects`` :327                  | ``all_subjects``              |
| ``parse_and_list_statements`` :363     | ``parse_and_list_statements`` |
| ``list_statements`` :405               | ``list_statements``           |
| ``to_file`` (ntriples/json) :425       | ``to_file``                   |
| ``Display`` (canonical N-Triples) :1188| ``to_ntriples_string``        |
| ``as_turtle`` :1330                    | ``as_turtle``                 |
| ``to_json_string`` :222                | ``to_json_string``            |
| ``Add`` (union + dedup) :1165          | ``__add__``                   |

Error semantics follow the reference at this API boundary: a parse
failure (trailing garbage, bad typed literal, unknown prefix) raises
``ValueError`` exactly where ``TryFrom`` returns ``Err`` — unlike the
web-scale pipeline path (extract.py), which quarantines bad documents
into lineage rows instead of failing the job. Single documents are
parsed driver-side (they are single strings in the reference too); the
distributed path for corpora remains ``extract.extract_triples`` over a
page table.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from . import algebra, serialize
from .grammar.turtle import TurtleParser
from .quarantine import attempt
from .schema import TRIPLE_COLS, TRIPLE_SCHEMA


class TurtleDocFrame:
    """A parsed document: canonical triple DataFrame + the document's
    own prefix/base context (needed by ``parse_and_list_statements``,
    whose bound terms resolve against the DOC's prefixes —
    turtle_doc.rs:363-401)."""

    def __init__(
        self,
        df: DataFrame,
        prefixes: Optional[dict] = None,
        base: Optional[str] = None,
    ):
        # the facade is document-scoped: the canonical 7 triple columns
        # only (corpus-level url provenance lives in the pipeline path)
        self.df = df.select(*TRIPLE_COLS)
        self.prefixes = dict(prefixes or {})
        self.base = base

    # ---------------------------------------------------- constructors

    @classmethod
    def from_string(
        cls,
        spark: SparkSession,
        text: str,
        well_known_prefix: Optional[str] = None,
        prefixes: Optional[dict] = None,
        url: str = "doc",
    ) -> "TurtleDocFrame":
        """``TurtleDoc::try_from((text, well_known_prefix))``
        (turtle_doc.rs:888-905): parse one Turtle/N-Triples document,
        raising ValueError on any unparsed trailing input or bad typed
        literal. ``prefixes`` seeds the external R10 prefix map."""
        parser = TurtleParser(
            text, seed_prefixes=prefixes, well_known_prefix=well_known_prefix
        )
        triples, q = attempt(parser.parse)
        if q is not None:
            raise ValueError(q.detail)
        df = spark.createDataFrame(
            [(url, *t) for t in triples], TRIPLE_SCHEMA
        )
        return cls(df, prefixes=parser.prefixes, base=parser.base)

    @classmethod
    def from_file(
        cls,
        spark: SparkSession,
        path: str,
        well_known_prefix: Optional[str] = None,
    ) -> "TurtleDocFrame":
        """``TurtleDoc::from_file`` (turtle_doc.rs:243-263): single
        ``.ttl``/``.n3`` document, extension-checked like the
        reference; other extensions are rejected."""
        if not (path.endswith(".ttl") or path.endswith(".n3")):
            raise ValueError(f"unsupported file extension: {path}")
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        return cls.from_string(
            spark, text, well_known_prefix=well_known_prefix, url=path
        )

    @classmethod
    def from_rdf_json_file(
        cls, spark: SparkSession, path: str, array: bool = True
    ) -> "TurtleDocFrame":
        """``RdfJsonTriple::from_json_file`` + ``from_rdf_json_triples``
        (turtle_doc.rs:212-240): load the RDF/JSON interchange format."""
        from .sources.rdfjson import read_rdf_json

        return cls(read_rdf_json(spark, path, array=array))

    # ------------------------------------------------------- mutation

    def add_prefixes(self, prefixes: dict) -> "TurtleDocFrame":
        """``add_prefixes`` (turtle_doc.rs:264-283): merge an external
        prefix map (relative IRI values resolve against the doc base,
        as in the reference). Returns a new doc (DataFrames are
        immutable; the reference mutates in place)."""
        merged = dict(self.prefixes)
        for k, v in prefixes.items():
            from .grammar.lexical import has_scheme

            if self.base is not None and not has_scheme(v):
                v = self.base + v
            merged[k] = v
        return TurtleDocFrame(self.df, prefixes=merged, base=self.base)

    def add_statement(self, row: tuple) -> "TurtleDocFrame":
        """``add_statement`` (turtle_doc.rs:284-293): insert one triple
        if absent. ``row`` is the canonical 7-tuple."""
        return self._like(algebra.add_statement(self.df, row))

    # -------------------------------------------------------- queries

    def list_statements(
        self,
        s: Optional[str] = None,
        p: Optional[str] = None,
        o: Optional[str] = None,
    ) -> DataFrame:
        """R1 ``list_statements`` (turtle_doc.rs:405-423): bound
        positions are exact canonical-value equality predicates."""
        return algebra.pattern_filter(self.df, s=s, p=p, o=o)

    def parse_and_list_statements(
        self,
        s: Optional[str] = None,
        p: Optional[str] = None,
        o: Optional[str] = None,
    ) -> DataFrame:
        """R2 ``parse_and_list_statements`` (turtle_doc.rs:363-401):
        bound terms are Turtle syntax ('ex:Alice', '"42"^^xsd:integer',
        '<http://…>', '_:b1') resolved against THIS doc's prefixes and
        base before filtering."""
        return algebra.parse_pattern_filter(
            self.df, s=s, p=p, o=o, prefixes=self.prefixes, base=self.base
        )

    def all_subjects(self) -> DataFrame:
        """R7 (turtle_doc.rs:327-336)."""
        return algebra.all_subjects(self.df)

    def __len__(self) -> int:
        """R8 ``len`` (turtle_doc.rs:294-299)."""
        return self.df.count()

    def is_empty(self) -> bool:
        return len(self) == 0

    # ---------------------------------------------------- set algebra

    def _like(self, df: DataFrame) -> "TurtleDocFrame":
        return TurtleDocFrame(df, prefixes=self.prefixes, base=self.base)

    def difference(self, other: "TurtleDocFrame") -> "TurtleDocFrame":
        """R3 (turtle_doc.rs:301-312) — null-safe left-anti join."""
        return self._like(algebra.tt_difference(self.df, other.df))

    def intersection(self, other: "TurtleDocFrame") -> "TurtleDocFrame":
        """R4 (turtle_doc.rs:314-325) — null-safe left-semi join."""
        return self._like(algebra.tt_intersection(self.df, other.df))

    def __add__(self, other: "TurtleDocFrame") -> "TurtleDocFrame":
        """R5 ``Add`` (turtle_doc.rs:1165-1186): union + full dedup +
        prefix-map merge (later-doc bindings win, as in the
        reference's BTreeMap extend)."""
        merged = TurtleDocFrame(
            algebra.tt_union(self.df, other.df),
            prefixes={**self.prefixes, **other.prefixes},
            base=self.base,
        )
        return merged

    # -------------------------------------------------- serialization

    def to_ntriples_string(self) -> str:
        """``Display`` (turtle_doc.rs:1188-1270): canonical N-Triples,
        one statement per line, driver-side assembly (the scale sink is
        ``to_file``/``serialize.write_ntriples``)."""
        return "\n".join(
            r["value"]
            for r in serialize.to_ntriples(self.df).collect()
        )

    def as_turtle(self) -> str:
        """``as_turtle`` (turtle_doc.rs:1330-1381): pretty Turtle with
        the built-in prefix table, sorted subject blocks."""
        return serialize.turtle_document(self.df)

    def to_json_string(self) -> str:
        """``to_json_string`` (turtle_doc.rs:222-227): RDF/JSON array
        with output dedup."""
        rows = [
            json.loads(r["value"])
            for r in serialize.to_rdf_json(self.df.dropDuplicates(TRIPLE_COLS)).collect()
        ]
        return json.dumps(rows)

    def to_file(self, path: str, as_json: bool = False) -> None:
        """``to_file`` (turtle_doc.rs:425-487): N-Triples text or one
        RDF/JSON array file. Distributed writers; for the reference's
        exact single-file layout use buf_size like its chunked
        writer."""
        if as_json:
            serialize.write_rdf_json_array(self.df, path)
        else:
            serialize.write_ntriples(self.df, path)
