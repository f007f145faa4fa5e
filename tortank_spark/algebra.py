"""Triple-set relational algebra as pure DataFrame operators (SURVEY.md
§2.3, R1-R10).

Each operator maps a reference method on TurtleDoc (an O(n·m) Vec scan
— /root/reference/src/turtle/turtle_doc.rs:301-423) onto the
Catalyst-optimized equivalent: filters push down to the scan, set ops
become hash anti/semi joins, dedup becomes a shuffle-free aggregate
where possible. All operators are shape-preserving on the canonical
triple schema so they compose.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .schema import TRIPLE_COLS


def pattern_filter(
    df: DataFrame,
    s: Optional[str] = None,
    p: Optional[str] = None,
    o: Optional[str] = None,
) -> DataFrame:
    """R1 list_statements(s?,p?,o?): each bound position is an equality
    predicate (turtle_doc.rs:405-423). Expressed declaratively so
    Catalyst pushes the predicates into the source scan."""
    out = df
    if s is not None:
        out = out.filter(F.col("s") == s)
    if p is not None:
        out = out.filter(F.col("p") == p)
    if o is not None:
        out = out.filter(F.col("o") == o)
    return out


def tt_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """R5 doc1 + doc2: union with full dedup (turtle_doc.rs:1165-1186,
    O(n^2) contains-loop there; one shuffle here)."""
    return a.unionByName(b, allowMissingColumns=True).dropDuplicates(TRIPLE_COLS)


def _row_cond(a: DataFrame, b: DataFrame):
    """Null-safe full-row equality (o_datatype/o_lang are nullable; SQL
    '=' would silently drop NULL keys from semi/anti joins)."""
    cond = None
    for c in TRIPLE_COLS:
        e = a[c].eqNullSafe(b[c])
        cond = e if cond is None else (cond & e)
    return cond


def tt_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """R3 difference: statements in a and not in b
    (turtle_doc.rs:301-312) as a null-safe left-anti join."""
    bb = b.select(*TRIPLE_COLS).alias("_b")
    aa = a.alias("_a")
    return aa.join(bb, _row_cond(aa, bb), "left_anti")


def tt_intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """R4 intersection (turtle_doc.rs:314-325) as a null-safe left-semi
    join."""
    bb = b.select(*TRIPLE_COLS).alias("_b")
    aa = a.alias("_a")
    return aa.join(bb, _row_cond(aa, bb), "left_semi")


def add_statement(df: DataFrame, row: tuple) -> DataFrame:
    """R6 add_statement: insert one triple if absent
    (turtle_doc.rs:284-293)."""
    spark = df.sparkSession
    one = spark.createDataFrame([row], df.select(*TRIPLE_COLS).schema)
    return tt_union(df.select(*TRIPLE_COLS), one)


def all_subjects(df: DataFrame) -> DataFrame:
    """R7 all_subjects: distinct subject terms (turtle_doc.rs:327-336;
    the reference's Vec::dedup relies on doc ordering — distinct is the
    set-equal strengthening, SURVEY.md R7)."""
    return df.select("s", "s_kind").distinct()


def count_statements(df: DataFrame) -> DataFrame:
    """R8 len() as a 1-row DataFrame (map-side partial agg, no wide
    shuffle)."""
    return df.agg(F.count("*").alias("n_statements"))


def subject_group_counts(df: DataFrame) -> DataFrame:
    """R9 subject grouping (the pretty-printer's groupBy,
    turtle_doc.rs:1330-1381) reduced to its aggregation core."""
    return df.groupBy("s", "s_kind").agg(F.count("*").alias("n")).orderBy(
        F.desc("n"), "s"
    )


def parse_pattern_filter(
    df: DataFrame,
    s: Optional[str] = None,
    p: Optional[str] = None,
    o: Optional[str] = None,
    prefixes: Optional[dict] = None,
    base: Optional[str] = None,
) -> DataFrame:
    """R2 parse_and_list_statements (turtle_doc.rs:363-401): bound terms
    are given in Turtle syntax ('ex:Alice', '"42"^^xsd:integer',
    '<http://...>', '_:b1') and parsed with the same grammar before
    becoming equality predicates. Literal bindings match on
    (o, o_datatype, o_lang) with null-safe comparison."""
    from .grammar.turtle import BNODE_K, LIT_K, parse_term

    out = df
    if s is not None:
        node = parse_term(s, prefixes, base, "subject")
        val = ("_:" + node.value) if node.kind == BNODE_K else node.value
        out = out.filter(F.col("s") == val)
    if p is not None:
        node = parse_term(p, prefixes, base, "predicate")
        out = out.filter(F.col("p") == node.value)
    if o is not None:
        node = parse_term(o, prefixes, base, "object")
        if node.kind == LIT_K:
            out = out.filter(
                (F.col("o") == node.value)
                & F.col("o_datatype").eqNullSafe(F.lit(node.datatype))
                & F.col("o_lang").eqNullSafe(F.lit(node.lang))
            )
        else:
            val = ("_:" + node.value) if node.kind == BNODE_K else node.value
            out = out.filter((F.col("o") == val) & (F.col("o_kind") != "literal"))
    return out


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?") and len(term) > 1


def bgp_join(
    df: DataFrame,
    patterns: list,
    prefixes: Optional[dict] = None,
    base: Optional[str] = None,
) -> DataFrame:
    """Conjunctive basic graph pattern over a triple set — the
    multi-pattern composition of R1/R2. The reference stops at
    single-pattern ``list_statements`` (turtle_doc.rs:405-423); a KG
    engine needs the join of several patterns sharing variables, so
    this is a deliberate Spark-first extension, not reference parity.

    ``patterns`` is a list of ``(s, p, o)``. Each term is either a
    variable ``"?name"`` or a bound term in Turtle syntax parsed with
    the SAME grammar as R2 (``'ex:Alice'``, ``'<urn:x>'``,
    ``'"42"^^xsd:integer'``, ``'_:b1'``). Output: one string column
    per distinct variable (term value), BAG semantics (no implicit
    dedup), column order = first appearance.

    Join semantics: variables bind RDF TERMS, not lexical strings —
    the join key is the composite (kind, value, datatype, lang), so a
    ``"42"^^xsd:integer`` object never matches an ``<urn:42>`` IRI or
    a ``"42"^^xsd:string`` literal even when the lexical forms agree.

    Scale strategy: every pattern is a filter over the SAME triple
    scan (bound positions push down), then patterns join pairwise on
    shared-variable keys — plain equi-joins that AQE can re-plan or
    skew-split. Join ORDER is greedy most-bound-first: the most
    selective pattern seeds the accumulator and each step picks the
    remaining pattern that (a) shares a variable with the accumulated
    set and (b) has the most bound positions (tie: input order). A
    pattern set whose variable graph is disconnected raises
    ValueError instead of silently emitting a cartesian product — at
    web scale a cross join is never the intended query.
    """
    from .grammar.turtle import BNODE_K, LIT_K, parse_term

    if not patterns:
        raise ValueError("bgp_join: empty pattern list")

    def _build(pat):
        """One pattern -> (DataFrame, ordered var list). Columns: for
        each variable v, value column ``v`` and join-key column
        ``__k_v`` (composite term key)."""
        s, p, o = pat
        out = df
        # bound-term filters (same parse + predicate semantics as R2)
        if not _is_var(s):
            node = parse_term(s, prefixes, base, "subject")
            val = ("_:" + node.value) if node.kind == BNODE_K else node.value
            out = out.filter(F.col("s") == val)
        if not _is_var(p):
            node = parse_term(p, prefixes, base, "predicate")
            out = out.filter(F.col("p") == node.value)
        if not _is_var(o):
            node = parse_term(o, prefixes, base, "object")
            if node.kind == LIT_K:
                out = out.filter(
                    (F.col("o") == node.value)
                    & F.col("o_datatype").eqNullSafe(F.lit(node.datatype))
                    & F.col("o_lang").eqNullSafe(F.lit(node.lang))
                )
            else:
                val = ("_:" + node.value) if node.kind == BNODE_K else node.value
                out = out.filter(
                    (F.col("o") == val) & (F.col("o_kind") != "literal")
                )
        # composite term keys per position (kind, value, datatype, lang)
        pos_key = {
            "s": F.concat_ws(
                "\x01", F.col("s_kind"), F.col("s"), F.lit(""), F.lit("")
            ),
            "p": F.concat_ws("\x01", F.lit("iri"), F.col("p"),
                             F.lit(""), F.lit("")),
            "o": F.concat_ws(
                "\x01", F.col("o_kind"), F.col("o"),
                F.coalesce(F.col("o_datatype"), F.lit("")),
                F.coalesce(F.col("o_lang"), F.lit("")),
            ),
        }
        pos_val = {"s": F.col("s"), "p": F.col("p"), "o": F.col("o")}
        vars_here, proj, seen = [], [], {}
        for pos, term in zip(("s", "p", "o"), (s, p, o)):
            if not _is_var(term):
                continue
            v = term[1:]
            if v in seen:
                # repeated variable WITHIN a pattern: intra-row equality
                out = out.filter(pos_key[seen[v]] == pos_key[pos])
                continue
            seen[v] = pos
            vars_here.append(v)
            proj.append(pos_val[pos].alias(v))
            proj.append(pos_key[pos].alias(f"__k_{v}"))
        if not proj:
            # fully bound pattern: an existence filter — keep a 1-col
            # marker so the join below degenerates gracefully
            raise ValueError(
                "bgp_join: fully bound pattern %r — use pattern_filter "
                "/ parse_pattern_filter for existence checks" % (pat,)
            )
        return out.select(*proj), vars_here

    built = [_build(p) for p in patterns]
    n_bound = [sum(0 if _is_var(t) else 1 for t in p) for p in patterns]
    remaining = sorted(
        range(len(built)), key=lambda i: (-n_bound[i], i)
    )
    first = remaining.pop(0)
    acc, acc_vars = built[first]
    acc_vars = list(acc_vars)
    order = [v for v in acc_vars]
    while remaining:
        nxt = None
        for i in remaining:  # already sorted most-bound-first
            if set(built[i][1]) & set(acc_vars):
                nxt = i
                break
        if nxt is None:
            raise ValueError(
                "bgp_join: disconnected pattern group (no shared "
                "variable with the accumulated set) — refusing to emit "
                "a cartesian product"
            )
        remaining.remove(nxt)
        pdf, pvars = built[nxt]
        shared = [v for v in pvars if v in acc_vars]
        new = [v for v in pvars if v not in acc_vars]
        # alias the incoming side so shared columns don't collide
        ren = pdf
        for v in shared:
            ren = ren.withColumnRenamed(v, f"__r_{v}").withColumnRenamed(
                f"__k_{v}", f"__rk_{v}"
            )
        cond = None
        for v in shared:
            e = F.col(f"__k_{v}") == F.col(f"__rk_{v}")
            cond = e if cond is None else (cond & e)
        acc = acc.join(ren, cond).drop(
            *[f"__r_{v}" for v in shared], *[f"__rk_{v}" for v in shared]
        )
        acc_vars.extend(new)
        order.extend(new)
    return acc.select(*order)
