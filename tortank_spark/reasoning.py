"""RDFS entailment materialization over a triple table — the
reasoning step a KG-construction pipeline runs after extraction and
canonicalization so downstream type/ancestor queries become single
lookups instead of runtime inference.

The reference engine exposes the raw triple model and pattern
filtering (``list_statements``, /root/reference/src/lib.rs, SURVEY
§2.3 R1); RDFS semantics there would be repeated pair-at-a-time
closure walks. A batch engine materializes the deductive closure
once. Implemented rule subset is the ρdf core (Muñoz, Pérez &
Gutierrez, "Minimal deductive systems for RDF", ESWC'07) — the rules
with actual deductive power over instance data:

* rdfs5  subPropertyOf transitivity (schema closure)
* rdfs11 subClassOf transitivity (schema closure)
* rdfs7  (p ⊑ q) ∧ (x p y) → (x q y)
* rdfs2  (p domain c) ∧ (x p y) → (x type c)
* rdfs3  (p range c) ∧ (x p y) → (y type c)   [y a resource]
* rdfs9  (c ⊑ d) ∧ (x type c) → (x type d)

Scale design (the WebPIE insight — Urbani et al., "Scalable
Distributed Reasoning using MapReduce", ISWC'09): schema triples are
ontology-sized (KBs-to-MBs even for web-scale vocabularies) while
instance triples are the 100-TB side. So: (1) close the schema
relations first with the semi-naive frontier BFS (frontier-sized
rounds) of :func:`tortank_spark.graph.transitive_closure` — touching
ONLY the tiny schema set; (2) stratify the instance rules 7 → 2/3 → 9
with the *closed* schema broadcast into every join, which makes
instance entailment a SINGLE shuffle-free pass over the big table (no
fixpoint: with p ⊑* q closed, one rdfs7 join derives every property
superform; with c ⊑* d closed, one rdfs9 join derives every supertype
of the type triples produced by the strata before it). Every join
below is a broadcast-hash equi-join with the schema closure on the
build side; the big table is never shuffled and never iterated.

Deliberately out of scope (as in WebPIE and every production RDFS
materializer): entailments through a subPropertyOf chain ON
``rdf:type``/``rdfs:subClassOf`` themselves (metamodeling of the
reserved vocabulary), and the axiomatic container-membership triples —
both are pathological ontology shapes, not web-data shapes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .graph import transitive_closure

RDF_TYPE = "rdf:type"
RDFS_SUBCLASS = "rdfs:subClassOf"
RDFS_SUBPROP = "rdfs:subPropertyOf"
RDFS_DOMAIN = "rdfs:domain"
RDFS_RANGE = "rdfs:range"


def rdfs_entailment(
    triples: DataFrame,
    s: str = "s",
    p: str = "p",
    o: str = "o",
    literal_col: Optional[str] = None,
    rdf_type: str = RDF_TYPE,
    subclass: str = RDFS_SUBCLASS,
    subprop: str = RDFS_SUBPROP,
    domain: str = RDFS_DOMAIN,
    rng: str = RDFS_RANGE,
    max_schema_rounds: int = 64,
) -> DataFrame:
    """Materialize the RDFS (ρdf) closure of a triple table.

    Returns the DISTINCT union of the input triples and every triple
    entailed by rdfs2/3/5/7/9/11 under the vocabulary IRIs given (the
    defaults are CURIE-style; pass full IRIs when the table stores
    them expanded). Output schema: (s, p, o) under the input column
    names.

    ``literal_col``: optional boolean column marking literal objects.
    When given, rdfs3 (range) skips literal objects — a literal
    cannot be typed as a class instance — and rdfs9 never fires on
    them (type triples always carry resource objects). Entailed
    triples carry ``literal_col = false``; rdfs7-derived triples
    inherit the source triple's flag (a superproperty of a
    literal-valued property is still literal-valued).
    """
    cols = [F.col(s).alias("s"), F.col(p).alias("p"), F.col(o).alias("o")]
    lit = (
        F.coalesce(F.col(literal_col).cast("boolean"), F.lit(False))
        if literal_col
        else F.lit(False)
    )
    t = triples.select(*cols, lit.alias("_lit"))

    # ---- stratum 0: schema closures (tiny side; semi-naive loop) ----
    def _closed(pred: str) -> DataFrame:
        sch = t.filter((F.col("p") == pred) & ~F.col("_lit")).select(
            F.col("s").alias("src"), F.col("o").alias("dst")
        )
        return transitive_closure(sch, max_rounds=max_schema_rounds)

    spo = _closed(subprop)   # (sub, super) — includes multi-hop (rdfs5)
    sco = _closed(subclass)  # (sub, super) — includes multi-hop (rdfs11)
    dom = t.filter((F.col("p") == domain) & ~F.col("_lit")).select(
        F.col("s").alias("dprop"), F.col("o").alias("dcls")
    )
    ran = t.filter((F.col("p") == rng) & ~F.col("_lit")).select(
        F.col("s").alias("rprop"), F.col("o").alias("rcls")
    )
    # domain/range inherited through the property hierarchy: if
    # p ⊑* q and q has domain c, then p effectively has domain c —
    # folding this into the schema side keeps rdfs7→rdfs2 complete in
    # one instance pass even when the superproperty triple is pruned
    # downstream. (Equivalent to running rdfs7 then rdfs2 on its
    # output, which the union below also does; both paths derive the
    # same rows and the final DISTINCT collapses them.)
    dom = dom.unionByName(
        spo.join(dom, spo["dst"] == dom["dprop"]).select(
            spo["src"].alias("dprop"), dom["dcls"]
        )
    ).distinct()
    ran = ran.unionByName(
        spo.join(ran, spo["dst"] == ran["rprop"]).select(
            spo["src"].alias("rprop"), ran["rcls"]
        )
    ).distinct()

    # ---- stratum 1: rdfs7 — property hierarchy over instances ----
    inst = t  # every triple participates (schema triples are inert here)
    d7 = inst.join(
        F.broadcast(spo), inst["p"] == spo["src"]
    ).select(
        inst["s"], spo["dst"].alias("p"), inst["o"], inst["_lit"]
    )
    prop_ext = inst.unionByName(d7)

    # ---- stratum 2: rdfs2/rdfs3 — domain/range typing ----
    d2 = prop_ext.join(
        F.broadcast(dom), prop_ext["p"] == dom["dprop"]
    ).select(
        prop_ext["s"],
        F.lit(rdf_type).alias("p"),
        dom["dcls"].alias("o"),
        F.lit(False).alias("_lit"),
    )
    d3 = (
        prop_ext.filter(~F.col("_lit"))
        .join(F.broadcast(ran), prop_ext["p"] == ran["rprop"])
        .select(
            prop_ext["o"].alias("s"),
            F.lit(rdf_type).alias("p"),
            ran["rcls"].alias("o"),
            F.lit(False).alias("_lit"),
        )
    )

    # ---- stratum 3: rdfs9 — class hierarchy over all type triples ----
    types = (
        t.filter((F.col("p") == rdf_type) & ~F.col("_lit"))
        .unionByName(d2)
        .unionByName(d3)
    )
    d9 = types.join(
        F.broadcast(sco), types["o"] == sco["src"]
    ).select(
        types["s"],
        F.lit(rdf_type).alias("p"),
        sco["dst"].alias("o"),
        F.lit(False).alias("_lit"),
    )

    # ---- assemble: input ∪ rdfs5 ∪ rdfs11 ∪ rdfs7 ∪ rdfs2/3 ∪ rdfs9 ----
    closure_triples = spo.select(
        F.col("src").alias("s"),
        F.lit(subprop).alias("p"),
        F.col("dst").alias("o"),
        F.lit(False).alias("_lit"),
    ).unionByName(
        sco.select(
            F.col("src").alias("s"),
            F.lit(subclass).alias("p"),
            F.col("dst").alias("o"),
            F.lit(False).alias("_lit"),
        )
    )
    out = (
        t.unionByName(d7)
        .unionByName(d2)
        .unionByName(d3)
        .unionByName(d9)
        .unionByName(closure_triples)
    )
    # literal flags never disagree for the same (s,p,o): entailed rows
    # are resource-flagged by construction and rdfs7 inherits, so a
    # plain distinct is safe — but collapse on (s,p,o) with bool_or
    # would mask a vocabulary misuse; keep distinct and let tests pin.
    out = out.distinct()
    sel = [
        F.col("s").alias(s), F.col("p").alias(p), F.col("o").alias(o)
    ]
    if literal_col:
        sel.append(F.col("_lit").alias(literal_col))
    return out.select(*sel)


def shacl_validate(
    triples: DataFrame,
    shapes: DataFrame,
    rdf_type: str = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
) -> DataFrame:
    """SHACL-lite shape validation — the data-quality gate a KG runs
    before publishing extracted triples (W3C SHACL core, the subset
    real publish gates use: sh:minCount / sh:maxCount / sh:datatype /
    sh:nodeKind per (targetClass, path)). tortank has no analogue
    (single-document model, no schema layer); at 10^12 documents the
    violations table IS the extraction-quality feedback loop.

    ``shapes``: (shape_id, target_class, path, min_count, max_count,
    datatype, node_kind) — min/max/datatype/node_kind individually
    nullable (null = constraint not asserted). Violations -> one row
    per (s, shape_id, code) with code in ('minCount', 'maxCount',
    'datatype', 'nodeKind'), plus expected/got strings for the
    report. A focus node with a MISSING required property violates
    minCount (the left join below keeps it), which is why targeting
    starts from rdf:type and not from the property table.

    Scale shape: shapes are vocabulary-sized — BROADCAST into both
    joins. One shuffle: the per-(s, shape_id) constraint aggregate
    (count + bad-datatype + bad-kind ride one grouping with map-side
    combine); focus-node targeting is a broadcast join of the type
    triples against the shape list, then one more broadcast-key join
    onto the aggregate (left, so absent properties surface). No
    self-joins of the big table."""
    sh = shapes.select(
        "shape_id", "target_class", "path",
        F.col("min_count").cast("long").alias("min_count"),
        F.col("max_count").cast("long").alias("max_count"),
        "datatype", "node_kind",
    )
    focus = (
        triples.filter(
            (F.col("p") == rdf_type) & (F.col("o_kind") == "iri"))
        .select(F.col("s").alias("fs"), F.col("s_kind").alias("fs_kind"),
                F.col("o").alias("target_class"))
        .distinct()
        .join(F.broadcast(sh), "target_class")
    )
    stats = (
        triples.join(F.broadcast(sh), triples["p"] == sh["path"])
        .groupBy(F.col("s").alias("fs"), "shape_id")
        .agg(
            F.count("*").alias("n"),
            # a value violates sh:datatype when it is not a literal OR
            # its datatype differs (null-safe: a lang-tagged literal
            # has o_datatype null and must count as a mismatch)
            F.sum(F.when(
                F.col("datatype").isNotNull()
                & ((F.col("o_kind") != "literal")
                   | ~F.col("o_datatype").eqNullSafe(F.col("datatype"))),
                1).otherwise(0)).alias("n_bad_dt"),
            F.sum(F.when(
                F.col("node_kind").isNotNull()
                & (F.col("o_kind") != F.col("node_kind")),
                1).otherwise(0)).alias("n_bad_kind"),
            F.array_join(
                F.array_sort(F.collect_set(
                    F.coalesce(F.col("o_datatype"), F.col("o_kind")))),
                ",").alias("got_vals"),
        )
    )
    j = focus.join(stats, ["fs", "shape_id"], "left").select(
        "fs", "shape_id", "min_count", "max_count", "datatype",
        "node_kind",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.coalesce(F.col("n_bad_dt"), F.lit(0)).alias("n_bad_dt"),
        F.coalesce(F.col("n_bad_kind"), F.lit(0)).alias("n_bad_kind"),
        F.coalesce(F.col("got_vals"), F.lit("")).alias("got_vals"),
    )
    v_min = j.filter(
        F.col("min_count").isNotNull() & (F.col("n") < F.col("min_count"))
    ).select(
        F.col("fs").alias("s"), "shape_id",
        F.lit("minCount").alias("code"),
        F.col("min_count").cast("string").alias("expected"),
        F.col("n").cast("string").alias("got"),
    )
    v_max = j.filter(
        F.col("max_count").isNotNull() & (F.col("n") > F.col("max_count"))
    ).select(
        F.col("fs").alias("s"), "shape_id",
        F.lit("maxCount").alias("code"),
        F.col("max_count").cast("string").alias("expected"),
        F.col("n").cast("string").alias("got"),
    )
    v_dt = j.filter(F.col("n_bad_dt") > 0).select(
        F.col("fs").alias("s"), "shape_id",
        F.lit("datatype").alias("code"),
        F.col("datatype").alias("expected"),
        F.col("got_vals").alias("got"),
    )
    v_kind = j.filter(F.col("n_bad_kind") > 0).select(
        F.col("fs").alias("s"), "shape_id",
        F.lit("nodeKind").alias("code"),
        F.col("node_kind").alias("expected"),
        F.col("got_vals").alias("got"),
    )
    return v_min.unionByName(v_max).unionByName(v_dt).unionByName(v_kind)
