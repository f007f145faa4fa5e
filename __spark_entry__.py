"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-extraction query; ``queries()``
exposes one entry per implemented operator family (SURVEY.md §2 plus
the training-data operators); ``oracle_sql()`` gives each a DuckDB
twin over the same parquet tables. Column names are aliased
identically on both sides (the driver's value-hash sorts columns by
name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from tortank_spark.session import ensure_parallelism as _fan
from tortank_spark.linking import MENTION_SPLIT
from tortank_spark.textops import WS

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

XSD = "http://www.w3.org/2001/XMLSchema#"
EX = "http://example.org/"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _sql_tokens(text: str) -> str:
    """DuckDB twin of textops.tokens over the SQL expression ``text``
    (callers lowercase it first). Every tokenizing oracle takes its
    token list from here; RE2 reads textops.WS exactly as Java regex
    and Python re do."""
    return (f"list_filter(regexp_split_to_array({text}, '{WS}'),"
            " x -> x <> '')")


def _sql_token_text(text: str) -> str:
    """The tokens of ``text`` joined by one space, '' when there are
    none: Spark's concat_ws/array_join give '' for an empty array,
    DuckDB's array_to_string gives NULL."""
    return f"coalesce(array_to_string({_sql_tokens(text)}, ' '), '')"


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize Turtle docs from the nation table, run the
    vectorized extraction stage, return the triples — source -> parse
    UDF -> DataFrame, end to end, on sf0.001."""
    return _q_extract_turtle(spark, "/root/testdata/sf0.001")


# ------------------------------------------------------------- queries

def _nation_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Turtle page per nation row (no external data)."""
    nation = _t(spark, sf_dir, "nation")
    text = F.concat(
        F.lit(f"@prefix ex: <{EX}ns#> .\n"),
        F.lit(f"<{EX}nation/"), F.col("n_nationkey"), F.lit("> "),
        F.lit("ex:name "), F.lit('"'), F.col("n_name"), F.lit('" ; '),
        F.lit("ex:regionkey "), F.col("n_regionkey"), F.lit(" .\n"),
    )
    return nation.select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey")).alias("url"),
        text.alias("text"),
    )


def _q_extract_turtle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tortank_spark.extract import extract_triples, triples_only

    pages = _nation_pages(spark, sf_dir)
    t = triples_only(extract_triples(pages, fixture_mode=True))
    return t.select(
        F.col("s"), F.col("p"), F.col("o"), F.col("o_datatype").alias("o_dt")
    )


_ORACLE_EXTRACT = f"""
SELECT '{EX}nation/' || n_nationkey AS s,
       '{EX}ns#name' AS p,
       n_name AS o,
       '{XSD}string' AS o_dt
FROM nation
UNION ALL
SELECT '{EX}nation/' || n_nationkey AS s,
       '{EX}ns#regionkey' AS p,
       CAST(n_regionkey AS VARCHAR) AS o,
       '{XSD}integer' AS o_dt
FROM nation
"""


def _events_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational rows lifted to triple shape with pure column exprs —
    the substrate for exercising the set-algebra operators."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("urn:user:"), F.col("user_id")).alias("s"),
        F.lit("iri").alias("s_kind"),
        F.concat(F.lit("urn:event:"), F.col("event_type")).alias("p"),
        F.concat(F.lit("urn:ev:"), F.col("event_id")).alias("o"),
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )


_EVENTS_TRIPLES_SQL = """
SELECT 'urn:user:' || user_id AS s,
       'urn:event:' || event_type AS p,
       'urn:ev:' || event_id AS o
FROM events
"""


def _q_pattern_filter(spark, sf_dir):
    from tortank_spark.algebra import pattern_filter

    t = _events_triples(spark, sf_dir)
    return pattern_filter(t, p="urn:event:click").select("s", "p", "o")


def _q_parse_pattern(spark, sf_dir):
    """R2 parse_and_list_statements: the bound term arrives in Turtle
    syntax and is parsed by the grammar before filtering."""
    from tortank_spark.algebra import parse_pattern_filter

    t = _events_triples(spark, sf_dir)
    return parse_pattern_filter(t, p="<urn:event:purchase>").select(
        "s", "p", "o"
    )


def _q_bgp_join(spark, sf_dir):
    """R11 (Spark-first extension): conjunctive basic-graph-pattern
    join — the multi-pattern composition of R1/R2 that the reference's
    single-pattern list_statements (turtle_doc.rs:405-423) stops short
    of. Two patterns share ?u: every (click, purchase) event pair per
    user, bag semantics."""
    from tortank_spark.algebra import bgp_join

    t = _events_triples(spark, sf_dir)
    return bgp_join(
        t,
        [
            ("?u", "<urn:event:click>", "?click"),
            ("?u", "<urn:event:purchase>", "?purchase"),
        ],
    )


_BGP_JOIN_SQL = """
WITH t AS (
    SELECT 'urn:user:' || user_id AS s,
           'urn:event:' || event_type AS p,
           'urn:ev:' || event_id AS o
    FROM events
)
SELECT a.s AS u, a.o AS click, b.o AS purchase
FROM t a JOIN t b ON a.s = b.s
WHERE a.p = 'urn:event:click' AND b.p = 'urn:event:purchase'
"""


def _did_triples(spark, sf_dir, types):
    """Distinct (user, urn:did, <event_type literal>) triple bag on the
    FULL 7-column schema: o is a plain literal with NULL datatype/lang,
    so the set operators' null-safe full-row equality (algebra._row_cond)
    is genuinely exercised."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin(*types))
        .select(
            F.concat(F.lit("urn:user:"), F.col("user_id")).alias("s"),
            F.lit("iri").alias("s_kind"),
            F.lit("urn:did").alias("p"),
            F.col("event_type").alias("o"),
            F.lit("literal").alias("o_kind"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        )
        .distinct()
    )


def _q_difference(spark, sf_dir):
    """R3 through tt_difference (turtle_doc.rs:301-312) on two
    overlapping triple bags: {click,view} minus {view,purchase} leaves
    exactly the click rows — a non-empty, operator-shaped difference."""
    from tortank_spark.algebra import tt_difference

    a = _did_triples(spark, sf_dir, ["click", "view"])
    b = _did_triples(spark, sf_dir, ["view", "purchase"])
    return tt_difference(a, b).select("s", "p", "o")


def _q_intersection(spark, sf_dir):
    """R4 through tt_intersection (turtle_doc.rs:314-325): the shared
    view rows of the two bags."""
    from tortank_spark.algebra import tt_intersection

    a = _did_triples(spark, sf_dir, ["click", "view"])
    b = _did_triples(spark, sf_dir, ["view", "purchase"])
    return tt_intersection(a, b).select("s", "p", "o")


def _q_union_dedup(spark, sf_dir):
    from tortank_spark.algebra import tt_union

    t = _events_triples(spark, sf_dir)
    a = t.filter(F.col("p") == "urn:event:click")
    b = t.filter(F.col("p").isin("urn:event:click", "urn:event:view"))
    return tt_union(a, b).select("s", "p", "o")


def _q_all_subjects(spark, sf_dir):
    from tortank_spark.algebra import all_subjects

    return all_subjects(_events_triples(spark, sf_dir)).select("s")


def _q_count(spark, sf_dir):
    from tortank_spark.algebra import count_statements

    return count_statements(_events_triples(spark, sf_dir))


def _q_subject_group(spark, sf_dir):
    """R9 through the shipped operator (algebra.subject_group_counts),
    projected to the oracle's (s, n) shape."""
    from tortank_spark.algebra import subject_group_counts

    t = _events_triples(spark, sf_dir)
    return subject_group_counts(t).select("s", "n")


def _q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregate — the bench's scan/agg workhorse."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "count_order",
        )
    )


def _q_top_revenue(spark, sf_dir):
    """Join-heavy query: customer x orders x lineitem, top 20 orders by
    revenue — exercises broadcast/shuffle join planning."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )
    return (
        o.join(rev, o.o_orderkey == rev.l_orderkey)
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == F.col("c_custkey"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(20)
    )


def _q_exact_dedup(spark, sf_dir):
    from tortank_spark.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id").select("fingerprint", "doc_id", "n_dups")


def _q_token_count(spark, sf_dir):
    from tortank_spark.textops import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def _q_doc_fingerprint(spark, sf_dir):
    from tortank_spark.textops import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


def _q_redact_pii(spark, sf_dir):
    """PII scrub over deterministic PII-bearing text synthesized from
    the customer table (name -> email local part, custkey -> phone
    digits and IPv4 octets — both engines build byte-identical
    inputs): emails, IPv4s, then phone-like digit runs redacted and
    counted in sequence (textops.redact_pii — JVM regexp exprs only,
    patterns in the Java-regex/RE2 common subset). The customer-name
    digit block is itself phone-shaped and gets redacted too — the
    classic regex-PII false positive, identical in both engines.
    FULL value oracle: same pattern bytes, same stage order."""
    from tortank_spark.textops import redact_pii

    c = _t(spark, sf_dir, "customer")
    docs = c.select(
        F.col("c_custkey").alias("doc_id"),
        F.concat(
            F.lit("Reach "), F.col("c_name"),
            F.lit(" <"),
            F.lower(F.regexp_replace("c_name", "#", ".")),
            F.lit("@example.com> or +1 555 0"),
            F.col("c_custkey").cast("string"),
            F.lit(" at 10.0."),
            (F.col("c_custkey") % 200).cast("string"),
            F.lit("."),
            (F.col("c_custkey") % 250).cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    return redact_pii(docs)


def _pii_oracle_sql() -> str:
    from tortank_spark.textops import PII_EMAIL, PII_IPV4, PII_PHONE

    return """
WITH d AS (
  SELECT c_custkey AS doc_id,
         'Reach ' || c_name || ' <' || lower(replace(c_name, '#', '.'))
         || '@example.com> or +1 555 0' || c_custkey || ' at 10.0.'
         || (c_custkey % 200) || '.' || (c_custkey % 250) || ' now'
         AS text
  FROM customer
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '@EMAIL@')) AS n_emails,
         regexp_replace(text, '@EMAIL@', '[EMAIL]', 'g') AS t1
  FROM d
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '@IPV4@')) AS n_ips,
         regexp_replace(t1, '@IPV4@', '[IP]', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_ips,
         len(regexp_extract_all(t2, '@PHONE@')) AS n_phones,
         regexp_replace(t2, '@PHONE@', '[PHONE]', 'g') AS t3
  FROM s2
)
SELECT doc_id, t3 AS text_redacted, n_emails, n_ips, n_phones FROM s3
""".replace("@EMAIL@", PII_EMAIL).replace(
        "@IPV4@", PII_IPV4
    ).replace("@PHONE@", PII_PHONE)


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (duplicate-line fraction, top
    token / top bigram mass) over the documents table, with a
    deterministic boilerplate tail (two identical copyright lines)
    appended to even doc_ids so the line machinery is exercised
    (textops.repetition_signals). FULL value oracle."""
    from tortank_spark.textops import repetition_signals

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nCopyright Example Corp\nCopyright Example Corp"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return repetition_signals(docs)


_ORACLE_REPETITION = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || chr(10) || 'Copyright Example Corp'
                        || chr(10) || 'Copyright Example Corp'
              ELSE text END AS text
  FROM documents
),
base AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
         {_sql_tokens("lower(text)")} AS tk
  FROM d
),
tok AS (
  SELECT b.doc_id, t.tok, count(*) AS n
  FROM base b, unnest(b.tk) AS t(tok) GROUP BY 1, 2
),
tok_stats AS (
  SELECT doc_id, max(n) AS top_tok, sum(n) AS n_toks
  FROM tok GROUP BY 1
),
bg AS (
  SELECT b.doc_id, g.bg, count(*) AS n
  FROM base b,
       unnest(list_transform(range(1, len(b.tk)),
                             i -> b.tk[i] || ' ' || b.tk[i+1])) AS g(bg)
  GROUP BY 1, 2
),
bg_stats AS (
  SELECT doc_id, max(n) AS top_bg, sum(n) AS n_bgs FROM bg GROUP BY 1
)
SELECT b.doc_id,
       len(b.ls) AS n_lines,
       (len(b.ls) - len(list_distinct(b.ls)))::DOUBLE
         / greatest(len(b.ls), 1) AS dup_line_frac,
       COALESCE(t.top_tok, 0)::DOUBLE
         / greatest(COALESCE(t.n_toks, 0), 1) AS top_token_frac,
       COALESCE(g.top_bg, 0)::DOUBLE
         / greatest(COALESCE(g.n_bgs, 0), 1) AS top_bigram_frac
FROM base b
LEFT JOIN tok_stats t ON b.doc_id = t.doc_id
LEFT JOIN bg_stats g ON b.doc_id = g.doc_id
"""


def _synth_urls(spark, sf_dir):
    """Deterministic messy-URL table from orders (both engines build
    byte-identical strings): scheme/host case noise, default and
    non-default ports, empty and trailing-slash paths, tracking and
    unsorted query params, fragments — every normalize branch hit."""
    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    return o.select(
        k.alias("doc_id"),
        F.concat(
            F.when(k % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(k % 2 == 0, F.lit("WWW.")).otherwise(F.lit("m.")),
            F.lit("Shop-"),
            (c % 97).cast("string"),
            F.when(k % 3 == 0, F.lit(".COM"))
            .when(k % 3 == 1, F.lit(".co.UK"))
            .otherwise(F.lit(".De")),
            F.when(k % 5 == 0, F.lit(":80"))
            .when(k % 5 == 1, F.lit(":8080"))
            .otherwise(F.lit("")),
            F.when(k % 7 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("/Item/"),
                    k.cast("string"),
                    F.when(k % 7 == 1, F.lit("/view/")).otherwise(
                        F.lit("")
                    ),
                )
            ),
            F.when(k % 4 == 0, F.lit("?utm_source=mail&b=2&a=1"))
            .when(k % 4 == 1, F.lit("?fbclid=xyz"))
            .when(k % 4 == 2, F.lit("?q=Mixed%20Case&utm_campaign=x"))
            .otherwise(F.lit("")),
            F.when(
                k % 6 == 0, F.concat(F.lit("#Frag"), k.cast("string"))
            ).otherwise(F.lit("")),
        ).alias("url"),
    )


def _q_url_normalize(spark, sf_dir):
    """URL canonicalization (weburl.normalize_urls) over the synthetic
    messy-URL table: lowercased scheme/host, default ports stripped,
    fragments dropped, tracking params removed, surviving params
    sorted, heuristic registrable domain. Per-row expressions, zero
    shuffle. FULL value oracle (DuckDB replays the identical regex
    bytes and list ops)."""
    from tortank_spark.weburl import normalize_urls

    return normalize_urls(_synth_urls(spark, sf_dir))


def _q_domain_rollup(spark, sf_dir):
    """Per-registrable-domain crawl stats (weburl.domain_rollup):
    page count, distinct hosts, distinct canonical URLs, max path
    depth — ONE algebraic-aggregate exchange keyed by domain. FULL
    value oracle."""
    from tortank_spark.weburl import domain_rollup

    return domain_rollup(_synth_urls(spark, sf_dir))


# Shared DuckDB replay of weburl's canonical form (RE2 == Java regex
# on these lookaround-free patterns; list_sort/array_sort both binary
# order on ASCII params). %s slot = the synthesized-input CTE body.
_ORACLE_URL_NORM = r"""
WITH d AS (%s),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS authority,
         regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
         COALESCE(array_to_string(list_sort(list_filter(
           string_split(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^#]*\?([^#]*)', 1), '&'),
           p -> p <> '' AND NOT starts_with(p, 'utm_')
                AND string_split(p, '=')[1] NOT IN ('fbclid', 'gclid')
         )), '&'), '') AS query
  FROM d
),
p2 AS (
  SELECT doc_id, scheme, query,
         lower(regexp_replace(authority, ':[0-9]+$', '')) AS host,
         regexp_extract(authority, ':([0-9]+)$', 1) AS port,
         CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path
  FROM parts
),
p3 AS (
  SELECT *,
         CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
              THEN '' ELSE ':' || port END AS port_sfx,
         string_split(host, '.') AS labels
  FROM p2
),
p4 AS (
  SELECT *, len(labels) AS n,
         CASE WHEN len(labels) >= 3
                   AND length(labels[len(labels)]) = 2
                   AND labels[len(labels) - 1] IN
                       ('co','com','ac','gov','org','net','edu')
              THEN 3 ELSE 2 END AS k
  FROM p3
),
norm AS (
  SELECT doc_id,
         scheme || '://' || host || port_sfx || path ||
           CASE WHEN query = '' THEN '' ELSE '?' || query END AS url_norm,
         scheme, host,
         CASE WHEN n < 2 THEN host
              ELSE array_to_string(
                     list_slice(labels, n - k + 1, n), '.') END AS domain,
         len(list_filter(string_split(path, '/'), x -> x <> ''))
           AS path_depth
  FROM p4
)
"""

_SYNTH_URLS_SQL = r"""
  SELECT o_orderkey AS doc_id,
         (CASE WHEN o_orderkey % 2 = 0 THEN 'HTTP' ELSE 'https' END)
         || '://'
         || (CASE WHEN o_orderkey % 2 = 0 THEN 'WWW.' ELSE 'm.' END)
         || 'Shop-' || (o_custkey % 97)
         || (CASE WHEN o_orderkey % 3 = 0 THEN '.COM'
                  WHEN o_orderkey % 3 = 1 THEN '.co.UK'
                  ELSE '.De' END)
         || (CASE WHEN o_orderkey % 5 = 0 THEN ':80'
                  WHEN o_orderkey % 5 = 1 THEN ':8080'
                  ELSE '' END)
         || (CASE WHEN o_orderkey % 7 = 0 THEN ''
                  ELSE '/Item/' || o_orderkey ||
                       (CASE WHEN o_orderkey % 7 = 1
                             THEN '/view/' ELSE '' END) END)
         || (CASE WHEN o_orderkey % 4 = 0 THEN '?utm_source=mail&b=2&a=1'
                  WHEN o_orderkey % 4 = 1 THEN '?fbclid=xyz'
                  WHEN o_orderkey % 4 = 2
                       THEN '?q=Mixed%20Case&utm_campaign=x'
                  ELSE '' END)
         || (CASE WHEN o_orderkey % 6 = 0
                  THEN '#Frag' || o_orderkey ELSE '' END)
         AS url
  FROM orders
"""


def _q_salient_terms(spark, sf_dir):
    """Per-doc top-5 distinguishing terms by (tf DESC, df ASC, term)
    — tf-idf's ranking expressed in pure integers so the value hash
    is engine-exact (textops.salient_terms). FULL value oracle."""
    from tortank_spark.textops import salient_terms

    return salient_terms(_t(spark, sf_dir, "documents"))


_TFIDF_TERMS = ("spark", "vector", "merge")


def _q_tfidf_topk(spark, sf_dir):
    """Ranked retrieval: top-50 documents for a fixed bag-of-terms
    query by scaled-integer tf-idf (textops.tfidf_topk — idf_scaled =
    (1e6 * N) DIV df in BIGINT, so the ranking is engine-exact where
    libm ln() tails are not). Only query-term tokens are ever exploded
    (higher-order filter inside the split array) and the global top-k
    is a distributed TakeOrderedAndProject, never a corpus-wide
    window. FULL value oracle."""
    from tortank_spark.textops import tfidf_topk

    return tfidf_topk(
        _t(spark, sf_dir, "documents"), list(_TFIDF_TERMS), k=50
    )


def _oracle_tfidf_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in _TFIDF_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, t.term AS term
  FROM documents,
       unnest(list_filter({_sql_tokens("lower(text)")},
                          t -> t IN ({terms}))) AS t(term)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id,
         SUM(tf.tf * ((1000000 * n.n_docs) // dfq.df)) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
  GROUP BY tf.doc_id
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 50
"""


def _q_filter_decision(spark, sf_dir):
    """The corpus-cleaning gate: keep/drop + first-failing-rule reason
    (too_short -> low_stopword -> lang_und) per document
    (textops.filter_decision over quality_features + the column-
    expression language ID). FULL value oracle replays the ladder with
    unrounded ratios."""
    from tortank_spark.textops import filter_decision

    return filter_decision(_t(spark, sf_dir, "documents"))


def _q_quality(spark, sf_dir):
    from tortank_spark.textops import quality_features

    docs = _fan(_t(spark, sf_dir, "documents"))
    q = quality_features(docs)
    return q.select(
        "doc_id",
        "q_n_chars",
        "q_n_tokens",
        F.round("q_stopword_ratio", 6).alias("q_stop"),
    )


def _text_oracles() -> dict[str, str]:
    """DuckDB twins for the text operators, generated from the SAME
    stopword profiles and token expression (``_sql_tokens``) the Spark
    column expressions use (tortank_spark.textops) so the two sides
    cannot drift. Semantics pinned:
    * quality: Spark array_intersect and DuckDB list_intersect both
      return DISTINCT common elements; \\p{Punct} (Java) and [[:punct:]]
      (RE2) are the same ASCII set.
    * lang-id: best profile by distinct-stopword hits over the tokens
      of the lowercased text (a NULL text reads as ''), with
      insertion-order tie-break (en,fr,de,es,nl) — the CASE ladder
      below reproduces it exactly (an earlier language that ties the
      max satisfies its >= row first).
    """
    from tortank_spark.textops import _LANG_PROFILES

    def lst(lang):
        return "[" + ", ".join(f"'{w}'" for w in sorted(_LANG_PROFILES[lang])) + "]"

    toks = _sql_tokens("lower(text)")
    n_tokens = f"len({_sql_tokens('text')})"
    quality = f"""
        WITH q AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 {n_tokens} AS n_tokens,
                 len(list_intersect(list_distinct({toks}), {lst("en")}))
                     AS n_stop
          FROM documents
        )
        SELECT doc_id, n_chars AS q_n_chars, n_tokens AS q_n_tokens,
               round(n_stop::DOUBLE / greatest(n_tokens, 1), 6) AS q_stop
        FROM q
    """
    counts = ",\n".join(
        f"len(list_intersect(tk, {lst(lang)})) AS {lang}"
        for lang in _LANG_PROFILES
    )
    langs = list(_LANG_PROFILES)  # insertion order = tie-break order
    ladder = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"{lang} >= {o}" for o in langs[i + 1:])
        ladder.append(f"WHEN {conds} THEN '{lang}'")
    lang_id = f"""
        WITH tk AS (
          SELECT doc_id,
                 list_distinct({_sql_tokens("lower(coalesce(text, ''))")})
                   AS tk
          FROM documents
        ),
        n AS (SELECT doc_id, {counts} FROM tk)
        SELECT doc_id,
               CASE WHEN greatest({", ".join(langs)}) = 0 THEN 'und'
                    {" ".join(ladder)}
                    ELSE '{langs[-1]}' END AS lang_pred
        FROM n
    """
    salient = f"""
        WITH toks AS (
          SELECT doc_id, t.term AS term
          FROM documents,
               unnest({toks}) AS t(term)
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        r AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                 row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC
                 ) AS rank
          FROM tf JOIN dfq USING (term)
        )
        SELECT doc_id, term, tf, df, rank FROM r WHERE rank <= 5
    """
    # decision thresholds compare the UNROUNDED ratio (the rounded
    # q_stop of the quality query would flip boundary docs)
    decision = f"""
        WITH q AS (
          SELECT doc_id,
                 {n_tokens} AS n_tokens,
                 len(list_intersect(list_distinct({toks}), {lst("en")}))
                     AS n_stop
          FROM documents
        ),
        l AS ({lang_id}),
        d AS (
          SELECT q.doc_id,
                 CASE WHEN q.n_tokens < 12 THEN 'too_short'
                      WHEN q.n_stop::DOUBLE / greatest(q.n_tokens, 1) < 0.005
                           THEN 'low_stopword'
                      WHEN l.lang_pred = 'und' THEN 'lang_und'
                 END AS reason
          FROM q JOIN l ON q.doc_id = l.doc_id
        )
        SELECT doc_id, reason IS NULL AS keep, reason FROM d
    """
    return {
        "text_quality": quality,
        "text_lang_id": lang_id,
        "text_salient_terms": salient,
        "text_tfidf_topk": _oracle_tfidf_topk(),
        "text_filter_decision": decision,
    }


def _q_entity_link(spark, sf_dir):
    """Entity linking against a literal broadcast alias dictionary."""
    from tortank_spark.linking import detect_mentions, link_mentions

    docs = _fan(_t(spark, sf_dir, "documents").select(
        F.concat(F.lit("urn:doc:"), F.col("doc_id")).alias("url"), "text"
    ))
    alias = spark.createDataFrame(
        _ALIAS_ROWS, "alias string, entity_iri string, prior double"
    )
    mentions = detect_mentions(docs)
    links = link_mentions(mentions, alias)
    return links.select(
        "url", "mention", "entity_iri", F.round("score", 6).alias("score")
    )


def _q_entity_cooccur(spark, sf_dir):
    """Entity co-occurrence edges (e1, e2, n_docs): document-level
    co-mention counts over the linked-entity table — the relation-
    induction candidate graph (linking.entity_cooccurrence: distinct
    (url, entity) -> url self-join bounded by the alias dictionary
    size -> one aggregate). FULL value oracle: same join in SQL."""
    from tortank_spark.linking import (
        detect_mentions, entity_cooccurrence, link_mentions,
    )

    docs = _fan(_t(spark, sf_dir, "documents").select(
        F.concat(F.lit("urn:doc:"), F.col("doc_id")).alias("url"), "text"
    ))
    alias = spark.createDataFrame(
        _ALIAS_ROWS, "alias string, entity_iri string, prior double"
    )
    links = link_mentions(detect_mentions(docs), alias)
    return entity_cooccurrence(links)


_ALIAS_ROWS = [
    ("spark", "urn:ent:spark", 1.0),
    ("customer", "urn:ent:customer", 0.5),
    ("table", "urn:ent:table", 0.25),
    ("query", "urn:ent:query", 0.125),
]
_ALIAS_VALUES = ", ".join(
    f"('{a}', '{e}', {p})" for a, e, p in _ALIAS_ROWS
)


def _q_topk_cosine(spark, sf_dir):
    from tortank_spark.similarity import topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return topk_cosine(_fan(emb.filter(F.col("vec_id") != 0)), "embedding",
                       [float(x) for x in q], k=10)


def _q_connected_components(spark, sf_dir):
    """CC over a deterministic chain graph derived from customer keys
    (runs of 10); exercises large-star/small-star end to end."""
    from tortank_spark.canonicalize import connected_components

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    mx = c.agg(F.max("c_custkey")).collect()[0][0]
    edges = (
        c.filter((F.col("c_custkey") % 10 != 9) & (F.col("c_custkey") + 1 <= mx))
        .select(
            F.concat(F.lit("c"), F.lpad(F.col("c_custkey").cast("string"), 8, "0"))
            .alias("src"),
            F.concat(
                F.lit("c"), F.lpad((F.col("c_custkey") + 1).cast("string"), 8, "0")
            ).alias("dst"),
        )
    )
    return connected_components(edges).select("iri", "canonical")


_ORACLE_CC = """
WITH RECURSIVE e AS (
  SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
  WHERE c_custkey % 10 <> 9
    AND c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
),
und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT und.dst, reach.r FROM und JOIN reach ON und.src = reach.node
)
SELECT 'c' || lpad(CAST(node AS VARCHAR), 8, '0') AS iri,
       'c' || lpad(CAST(min(r) AS VARCHAR), 8, '0') AS canonical
FROM reach GROUP BY node
"""


def _q_ntriples_render(spark, sf_dir):
    """Serializer S7: canonical N-Triples lines for the nation triples."""
    from tortank_spark.serialize import to_ntriples

    from tortank_spark.extract import extract_triples, triples_only

    pages = _nation_pages(spark, sf_dir)
    t = triples_only(extract_triples(pages, fixture_mode=True))
    return to_ntriples(t).select(F.col("value").alias("line"))


# string literals render with the reference Display's default LONG
# double-quote separator (turtle_doc.rs:1198-1205); native-typed
# integers keep a plain quote pair (turtle_doc.rs:1212-1214)
_ORACLE_NTRIPLES = f"""
SELECT '<{EX}nation/' || n_nationkey || '> <{EX}ns#name> \"\"\"' || n_name ||
       '\"\"\"^^<{XSD}string>.' AS line
FROM nation
UNION ALL
SELECT '<{EX}nation/' || n_nationkey || '> <{EX}ns#regionkey> "' ||
       n_regionkey || '"^^<{XSD}integer>.' AS line
FROM nation
"""


def _q_minhash_neardup(spark, sf_dir):
    """Full MinHash-LSH dedup ladder at threshold 0.5: signatures ->
    banded LSH candidates -> EXACT 3-gram Jaccard verification on
    candidates only (minhash_dedup_pairs' estimate tier is pinned by
    pytest; the driver row runs the production shape, estimate ->
    verify). Oracle: exact Jaccard over ALL pairs at >= 0.5. A green
    row certifies banding recall 1.0 on every true pair of this corpus:
    all true pairs sit at J >= 0.8 (verified against the exact oracle —
    none fall in [0.5, 0.8) where 16x4 banding recall would be
    probabilistic). Per-pair miss probability (1 - J^4)^16: ~2e-4 at
    the J=0.8 boundary (the corpus's single boundary pair is verified
    to collide under the shipped seed — deterministic, not a gamble),
    falling to ~4e-8 by J~0.9 and ~2e-12 at J=0.95."""
    from tortank_spark.dedup import (
        lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs,
    )

    docs = _fan(_t(spark, sf_dir, "documents"))
    # persist: the signature stage feeds both sides of the band
    # self-join; the candidate pairs feed the verify join plus both
    # semi-join sides of the shingle narrowing. The verify stage
    # materializes its small output, so both caches are released
    # before the threshold runs (no leaked storage)
    sigs = minhash_signatures(docs, "doc_id").persist()
    cand = lsh_candidate_pairs(sigs, "doc_id").persist()
    try:
        verified = ngram_jaccard_pairs(docs, cand, "doc_id")
    finally:
        cand.unpersist()
        sigs.unpersist()
    return verified.filter(F.col("jaccard") >= 0.5).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard"))


def _q_minhash_verified(spark, sf_dir):
    """MinHash-LSH candidates verified with EXACT 3-gram Jaccard and
    thresholded at 0.8 — the full dedup ladder. The DuckDB oracle
    computes exact Jaccard over ALL pairs, so a pass certifies LSH
    recall = 1.0 on every true near-dup pair of the corpus (per-pair
    miss probability (1 - J^4)^16 with 16 bands x 4 rows: ~2e-4 at the
    J=0.8 boundary — the corpus's boundary pair collides under the
    shipped seed, deterministically — and ~4e-8 by J~0.9)."""
    from tortank_spark.dedup import (
        lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs,
    )

    docs = _fan(_t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "doc_id").persist()
    cand = lsh_candidate_pairs(sigs, "doc_id").persist()
    try:
        verified = ngram_jaccard_pairs(docs, cand, "doc_id")
    finally:
        cand.unpersist()
        sigs.unpersist()
    return verified.filter(F.col("jaccard") >= 0.8).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard"))


def _q_zorder_key(spark, sf_dir):
    """Morton/Z-order interleave key over (user_id, event_id) low 16
    bits (storage.zorder_key — the multi-column data-skipping layout
    key; write_zordered materializes with it, file-bbox-audited in
    test_plans). FULL value oracle: DuckDB replays the bit interleave
    term by term."""
    from tortank_spark.storage import zorder_key

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return ev.select(
        "event_id",
        zorder_key(
            F.pmod(F.col("user_id"), F.lit(1 << 16)),
            F.pmod(F.col("event_id"), F.lit(1 << 16)),
            bits=16,
        ).alias("zkey"),
    )


def _zorder_oracle_sql(bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((((user_id % 65536) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((event_id % 65536) >> {i}) & 1) << {2 * i + 1})")
    return (
        "SELECT event_id, CAST(" + " + ".join(terms)
        + " AS BIGINT) AS zkey FROM events"
    )


_ORACLE_ZORDER = _zorder_oracle_sql(16)


def _q_scd2_history(spark, sf_dir):
    """SCD2 dimension build over the event stream: per-user
    event_type validity intervals, consecutive duplicates compressed,
    (ts, event_id) total order (events.scd2_history). FULL value
    oracle: DuckDB replays lag/lead/row_number over the same order."""
    from tortank_spark.events import scd2_history

    return scd2_history(_t(spark, sf_dir, "events"))


_ORACLE_SCD2 = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev
  FROM events
),
changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev IS NULL OR event_type <> prev
)
SELECT user_id, event_type AS attr, ts AS valid_from,
       lead(ts) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) AS valid_to,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) AS INT) AS version
FROM changes
"""


def _q_events_asof(spark, sf_dir):
    """Point-in-time feature backfill: every non-purchase event gets
    the user's most recent STRICTLY-prior purchase (id + value), or
    nulls — the as-of join a training pipeline uses to attach
    label-time state without leakage (events.asof_join: union +
    running-last window, ONE shuffle, no per-key range explosion).
    Ties on (user, ts) in the right side are pre-aggregated to the
    max-event_id purchase, so the result is deterministic. FULL value
    oracle: DuckDB's native ASOF LEFT JOIN."""
    from tortank_spark.events import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            F.max_by("value", "event_id").alias("purchase_value"),
        )
    )
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return asof_join(left, purchases, "user_id").select(
        "event_id", "user_id", "ts", "event_type",
        F.col("ts_asof").alias("purchase_ts"),
        "purchase_id_asof", "purchase_value_asof",
    )


_ORACLE_EVENTS_ASOF = """
WITH p AS (
  SELECT user_id, ts, max(event_id) AS purchase_id,
         arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
l AS (
  SELECT event_id, user_id, ts, event_type
  FROM events WHERE event_type <> 'purchase'
)
SELECT l.event_id, l.user_id, l.ts, l.event_type,
       p.ts AS purchase_ts, p.purchase_id AS purchase_id_asof,
       p.purchase_value AS purchase_value_asof
FROM l ASOF LEFT JOIN p
  ON l.user_id = p.user_id AND l.ts > p.ts
"""


def _q_dedup_clusters(spark, sf_dir):
    """The dedup DECISION stage: verified near-dup pairs (the
    dedup_minhash_verified ladder at J>=0.8) -> connected-component
    clusters -> one kept representative (min doc_id) per cluster,
    with cluster sizes and keep flags for every document
    (dedup.dedup_clusters — composition of the LSH ladder and
    star-contraction CC). FULL value oracle: exact all-pairs Jaccard
    truth, recursive-CTE components, same min-id rule."""
    from tortank_spark.dedup import (
        dedup_clusters, lsh_candidate_pairs, minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _fan(_t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "doc_id").persist()
    cand = lsh_candidate_pairs(sigs, "doc_id").persist()
    try:
        pairs = ngram_jaccard_pairs(docs, cand, "doc_id")
    finally:
        cand.unpersist()
        sigs.unpersist()
    return dedup_clusters(pairs.filter(F.col("jaccard") >= 0.8), docs,
                          "doc_id")


# the distinct 3-gram shingle set per document (dedup._shingles_expr),
# shared by every n-gram Jaccard oracle; a doc of under 3 tokens is one
# shingle, '' for a blank doc as on Spark (see _sql_token_text)
_SQL_SHINGLES = f"""toks AS (
  SELECT doc_id, {_sql_tokens("lower(text)")} AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) < 3
              THEN [coalesce(array_to_string(tk, ' '), '')]
              ELSE list_distinct(list_transform(
                     range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         END AS sh
  FROM toks
)"""

_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_SHINGLES},
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
),
und AS (SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT und.dst, reach.r FROM und JOIN reach ON und.src = reach.node
),
comp AS (SELECT node, min(r) AS rep FROM reach GROUP BY node),
m AS (
  SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
sz AS (SELECT canonical_id AS ck, count(*) AS cluster_size
       FROM m GROUP BY canonical_id)
SELECT m.doc_id, m.canonical_id, sz.cluster_size,
       m.doc_id = m.canonical_id AS keep
FROM m JOIN sz ON m.canonical_id = sz.ck
"""


def _minhash_truth_sql(threshold: float) -> str:
    """Exact all-pairs 3-gram Jaccard at ``threshold`` — the ground
    truth the LSH ladder rows are compared against (O(n^2), oracle
    side only)."""
    return f"""
WITH {_SQL_SHINGLES}
SELECT a.doc_id AS a, b.doc_id AS b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      / len(list_distinct(list_concat(a.sh, b.sh))) >= {threshold!r}
"""


_ORACLE_MINHASH_VERIFIED = _minhash_truth_sql(0.8)


def _q_ngram_jaccard(spark, sf_dir):
    """Rare-n-gram blocked exact-Jaccard dedup — the deterministic,
    hash-free member of the dedup family (no seeds, no banding
    probability): candidates are pairs sharing a 3-gram with document
    frequency in [2, 20], verified with exact shingle Jaccard >= 0.5.
    FULL ladder oracle: DuckDB replays blocking (df count + cap) and
    verify value-for-value — and test_operators pins blocked output ==
    exact all-pairs truth on this corpus (blocking recall 1.0 here:
    every true pair shares at least one sub-boilerplate shingle)."""
    from tortank_spark.dedup import ngram_jaccard_dedup_pairs

    docs = _fan(_t(spark, sf_dir, "documents"))
    return ngram_jaccard_dedup_pairs(
        docs, "doc_id", n=3, max_df=20, threshold=0.5
    )


# Replays the FULL ladder: same shingle definition as
# _minhash_truth_sql, then df-capped rare-gram blocking, then exact
# Jaccard on the blocked candidates only.
_ORACLE_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
posts AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
rare AS (SELECT gram FROM posts GROUP BY gram
         HAVING count(*) BETWEEN 2 AND 20),
rp AS (SELECT p.doc_id, p.gram FROM posts p JOIN rare USING (gram)),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM rp x JOIN rp y
           ON x.gram = y.gram AND x.doc_id < y.doc_id)
SELECT c.a, c.b,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.a
JOIN sh sb ON sb.doc_id = c.b
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
"""


def _q_simhash(spark, sf_dir):
    """SimHash signatures over the documents table. FULL value oracle:
    the md5-low-64 token hash (dedup._md5_64) is reproducible in
    DuckDB, so the oracle recomputes every 64-bit signature bit-exactly
    from scratch (tokenize -> per-token hash -> weighted ±1 bit sums ->
    sign -> bit pack)."""
    from tortank_spark.dedup import simhash_signatures

    docs = _fan(_t(spark, sf_dir, "documents"))
    return simhash_signatures(docs, "doc_id")


# bit b of a signature is set iff sum over tokens of
# (bit b of md5_64(token) ? +count : -count) is strictly positive;
# the final CASE converts the unsigned bit-pack to the signed long the
# Spark side emits. Empty-token docs get signature 0 via the LEFT JOIN.
_ORACLE_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok, count(*) AS w
  FROM documents, unnest({_sql_tokens("lower(text)")}) AS t(tok)
  GROUP BY 1, 2
),
th AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 16)) AS UBIGINT) AS h, w
  FROM toks
),
bitsum AS (
  SELECT doc_id, b.range AS bit,
         sum(CASE WHEN (h >> CAST(b.range AS UBIGINT)) & CAST(1 AS UBIGINT)
                       = CAST(1 AS UBIGINT)
                  THEN w ELSE -w END) AS s
  FROM th, range(64) b
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0
                  THEN CAST(1 AS UBIGINT) << CAST(bit AS INTEGER)
                  ELSE CAST(0 AS UBIGINT) END) AS u
  FROM bitsum GROUP BY 1
)
SELECT d.doc_id,
       CAST(CASE WHEN coalesce(sig.u, 0) >= 9223372036854775808
                 THEN coalesce(sig.u, 0) - 18446744073709551616
                 ELSE coalesce(sig.u, 0) END AS BIGINT) AS simhash
FROM documents d LEFT JOIN sig USING (doc_id)
"""


def _q_lang_id(spark, sf_dir):
    from tortank_spark.textops import detect_language

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return detect_language(docs).select("doc_id", "lang_pred")


def _q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup (exact tier) — the synthetic vectors
    carry no true near-dups (max pairwise cosine 0.513 at sf0.01), so
    the driver row uses threshold 0.4 to produce a non-empty,
    non-trivial pair set; the DuckDB oracle is exact."""
    from tortank_spark.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, "vec_id", "embedding",
                                   threshold=0.4)


_ORACLE_EMB_NEARDUP = """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6)
           AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


def _q_embedding_neardup_lsh(spark, sf_dir):
    """Scale tier: multi-table hyperplane-LSH candidates + exact verify
    on candidates only. FULL value oracle: the seeded plane matrices
    are constants (parameters-as-data, like the entity-linking alias
    dict), so the DuckDB oracle recomputes every bucket, the candidate
    join, and the exact cosine verify from scratch — pinning both the
    candidate set and the verification."""
    from tortank_spark.dedup import embedding_neardup_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_lsh(emb, "vec_id", "embedding",
                                 threshold=0.4)


def _planes_values_sql(n_bits: int, n_tables: int, dim: int = 64) -> str:
    """(tbl, bit, plane DOUBLE[]) VALUES literal of the seeded
    hyperplane matrices — byte-identical to the constants the Spark
    operators use (similarity._table_planes; repr() round-trips float64
    exactly). The planes are PARAMETERS of the algorithm, not data: the
    oracle still independently recomputes signs, buckets, the candidate
    join and the exact re-rank."""
    from tortank_spark.similarity import _table_planes

    rows = []
    for t in range(n_tables):
        planes = _table_planes(dim, n_bits, t)
        for b in range(n_bits):
            vec = ", ".join(repr(float(x)) for x in planes[b])
            rows.append(f"({t}, {b}, [{vec}])")
    return ",\n".join(rows)


def _emb_lsh_oracle_sql() -> str:
    """DuckDB twin of dedup.embedding_neardup_lsh(threshold=0.4,
    n_bits=8, n_tables=12): bucket = bit-packed hyperplane signs per
    table; candidates share (table, bucket); exact cosine >= 0.4 on
    candidates only."""
    return f"""
WITH planes(tbl, bit, plane) AS (VALUES {_planes_values_sql(8, 12)}),
sides AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
buckets AS (
  SELECT s.vec_id, p.tbl,
         sum(CASE WHEN list_dot_product(s.v, p.plane) > 0
                  THEN CAST(1 AS BIGINT) << p.bit ELSE 0 END) AS bucket
  FROM sides s, planes p
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.a, c.b, round(list_cosine_similarity(sa.v, sb.v), 6) AS cosine
FROM cand c
JOIN sides sa ON sa.vec_id = c.a
JOIN sides sb ON sb.vec_id = c.b
WHERE list_cosine_similarity(sa.v, sb.v) >= 0.4
"""


def _lsh_ann_oracle_sql() -> str:
    """DuckDB twin of similarity.lsh_multitable_topk(k=10, n_bits=4,
    n_tables=12) with the query = vec_id 0 over the rest of the
    corpus: a vector is a candidate iff it shares the query's bucket
    in ANY table; candidates re-ranked by exact cosine."""
    return f"""
WITH planes(tbl, bit, plane) AS (VALUES {_planes_values_sql(4, 12)}),
sides AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM sides WHERE vec_id = 0),
buckets AS (
  SELECT s.vec_id, p.tbl,
         sum(CASE WHEN list_dot_product(s.v, p.plane) > 0
                  THEN CAST(1 AS BIGINT) << p.bit ELSE 0 END) AS bucket
  FROM sides s, planes p
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT b.vec_id
  FROM buckets b
  JOIN (SELECT tbl, bucket FROM buckets WHERE vec_id = 0) qb
    ON b.tbl = qb.tbl AND b.bucket = qb.bucket
  WHERE b.vec_id <> 0
)
SELECT s.vec_id, round(list_cosine_similarity(s.v, q.qv), 6) AS cosine
FROM cand c JOIN sides s ON s.vec_id = c.vec_id, q
ORDER BY cosine DESC, s.vec_id ASC
LIMIT 10
"""


def _q_lsh_ann(spark, sf_dir):
    """Multi-table hyperplane-LSH ANN top-k. FULL value oracle: the
    DuckDB twin recomputes buckets from the same seeded plane constants
    and re-ranks candidates exactly (sim_lsh_recall additionally pins
    recall vs the exact path)."""
    from tortank_spark.similarity import lsh_multitable_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return lsh_multitable_topk(
        emb.filter(F.col("vec_id") != 0), "embedding",
        [float(x) for x in q], k=10
    )


def _q_lsh_recall(spark, sf_dir):
    """Recall@10 of the ANN path vs the exact scorer, materialized as a
    deterministic assertion row (seeded planes + fixed corpus). The
    synthetic embeddings are near-uniform — LSH's adversarial case — so
    the pinned floor is 0.7 (measured 0.8 at sf0.01) with the scan
    certified pruned below 90% of the table."""
    from tortank_spark.similarity import ann_recall_report

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_recall_report(
        emb.filter(F.col("vec_id") != 0), "embedding",
        [float(x) for x in q], k=10
    )


def _q_kmeans(spark, sf_dir):
    """Distributed integer-exact Lloyd k-means over embeddings
    (similarity.kmeans_lloyd, k=8, 2 rounds): full-corpus clustering
    for curation/mixture balancing. FULL value oracle: DuckDB replays
    quantization, every distance, tie-break, and integer-mean update
    under MATERIALIZED CTEs."""
    from tortank_spark.similarity import kmeans_lloyd

    return kmeans_lloyd(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64,
                       scale: int = 10 ** 6) -> str:
    parts = []
    dist = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    )
    for t in range(1, iters + 1):
        parts.append(f"""
a{t} AS MATERIALIZED (
  SELECT vid, cid, d FROM (
    SELECT vid, cid, d,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM (
      SELECT q.vid, c.cid, {dist} AS d
      FROM q CROSS JOIN c{t - 1} c
    )
  ) WHERE rn = 1
),
c{t} AS MATERIALIZED (
  SELECT c.cid, COALESCE(m.cv, c.cv) AS cv
  FROM c{t - 1} c LEFT JOIN (
    SELECT cid, list(val ORDER BY pos) AS cv FROM (
      SELECT a.cid, p.i AS pos,
             CAST(SUM(q.qv[p.i]) // COUNT(*) AS BIGINT) AS val
      FROM a{t} a JOIN q USING (vid), unnest(range(1, {dim + 1})) AS p(i)
      GROUP BY a.cid, p.i
    ) GROUP BY cid
  ) m ON c.cid = m.cid
)""")
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS vid,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS BIGINT) AS cid,
         qv AS cv
  FROM (SELECT vid, qv FROM q ORDER BY vid LIMIT {k})
),
{','.join(parts)}
SELECT vid, cid, CAST(d AS BIGINT) AS d FROM (
  SELECT vid, cid, d,
         ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
  FROM (
    SELECT q.vid, c.cid, {dist} AS d
    FROM q CROSS JOIN c{iters} c
  )
) WHERE rn = 1
"""


_ORACLE_KMEANS = _kmeans_oracle_sql(8, 2)


def _q_ivf_ann(spark, sf_dir):
    """IVF ANN through the BUILD-ONCE index path (ivf_build persists
    the table partitioned by list_id; ivf_topk_indexed reads only the
    probed list directories), materialized as a deterministic
    assertion row: recall@10 vs the exact scorer over the pinned floor
    AND the probe's scan certified partition-pruned (the executed
    scan's input_file_name audit restricted to probed lists). Semantics
    additionally pinned by test_ivf_ann_planted_clusters (exact
    recovery on clustered data; full-probe == exact)."""
    import shutil
    import tempfile

    from tortank_spark.similarity import ivf_recall_report

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    index_dir = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        # the report row is fully materialized (locally-built 1-row DF),
        # so the on-disk index can be dropped before returning — without
        # this, repeated driver/warmup invocations accumulate a full
        # embeddings copy in /tmp per call
        return ivf_recall_report(
            spark, emb.filter(F.col("vec_id") != 0), "embedding",
            [float(x) for x in q], index_dir,
            k=10, n_centroids=16, n_probes=8, recall_floor=0.5,
        )
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)


def _q_events_windowed(spark, sf_dir):
    """Event-time tumbling-window aggregation (the batch shape of the
    Structured-Streaming windowed pipeline; F.window is identical in
    readStream mode with a watermark)."""
    ev = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(w.start.alias("win_start"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("win_start", "event_type", "n_events", "sum_value")
    )


def _q_sessionize(spark, sf_dir):
    """Event sessionization (30-min gap) via the built-in
    session_window — identical semantics to the oracle's lag/cumsum
    construction (break strictly greater than the gap)."""
    from tortank_spark.events import sessionize_stats

    ev = _t(spark, sf_dir, "events")
    return sessionize_stats(ev.select("user_id", "ts", "value"))


_ORACLE_SESSIONS = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, sess
"""


def _q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03) over the
    documents table — char-5-gram rolling hashes, window-4 rightmost
    minima. FULL value oracle: the k-gram hash is a polynomial fold
    over codepoints (FNV-64 prime) plus one xorshift-multiply
    finalizer round, all mod 2^64 — vectorized numpy uint64 wraparound
    on the Spark side, the identical fold spelled out in
    HUGEINT-mod-2^64 arithmetic on the DuckDB side (_winnow_hash_sql
    below), so DuckDB regenerates every k-gram hash, replays the
    rightmost-min window selection with a window-function rank, and
    matches every (doc_id, pos, fp) row. (Round 4 used md5-low-64 —
    SQL-reproducible but one interpreter hashlib call per CHARACTER in
    the production path; the polynomial keeps full value parity at
    ~5 numpy vector ops per document.) Both engines hash the same
    normalized text: the lowercase tokens (textops.split_tokens, and
    _sql_tokens here) joined by one space."""
    from tortank_spark.textops import winnow_fingerprints

    docs = _fan(_t(spark, sf_dir, "documents"))
    return winnow_fingerprints(docs, "doc_id")


def _winnow_poly_sql(chars: list) -> str:
    """HUGEINT fold h -> h*B + unicode(c) mod 2^64 over character
    expressions — the exact arithmetic of textops._winnow_gram_hashes
    (B = textops._WINNOW_B; constants inlined so oracle_sql() stays a
    self-contained string)."""
    acc = f"CAST(unicode({chars[0]}) AS HUGEINT)"
    for c in chars[1:]:
        acc = (f"(({acc}) * 1099511628211 + unicode({c}))"
               " % 18446744073709551616")
    return acc


# one k=5 gram per position i (0-based char positions, matching the
# numpy side's codepoint-array indexing; DuckDB substr is 1-based and
# character-indexed, so substr(t, i+1+j, 1) is codepoint i+j)
_WINNOW_GRAM_POLY = _winnow_poly_sql(
    [f"substr(t, CAST(i AS INTEGER) + 1 + {j}, 1)" for j in range(5)]
)
# texts shorter than k hash their whole codepoint sequence (len 0-4)
_WINNOW_SHORT_POLY = "CASE length(t) WHEN 0 THEN 0 " + " ".join(
    f"WHEN {n} THEN "
    + _winnow_poly_sql([f"substr(t, {j + 1}, 1)" for j in range(n)])
    for n in range(1, 5)
) + " END"
# xorshift-multiply finalizer staged over two CTE hops: u ^= u >> 33;
# u = u * C mod 2^64 (C = textops._WINNOW_C < 2^62 so the HUGEINT
# product never overflows 128-bit); u ^= u >> 29
_WINNOW_FIN_MUL = ("CAST((CAST(xor(hp, hp >> 33) AS HUGEINT)"
                   " * 2685821657736338717) % 18446744073709551616"
                   " AS UBIGINT)")

# windowed rightmost-min replay: grams joins each window start to its
# w member hashes; rank orders (hash ASC, pos DESC) so rn=1 is the
# paper's rightmost minimum; uint64 comparisons on both engines, fp
# emitted as the two's-complement int64 (same conversion as simhash).
# Normalization: the lowercase tokens joined by one space, the Python
# side's textops._normalize_ws.
_ORACLE_WINNOW = r"""
WITH norm AS (
  SELECT doc_id,
         __TOKEN_TEXT__ AS t
  FROM documents
),
short0 AS (
  SELECT doc_id, CAST(__SHORT_POLY__ AS UBIGINT) AS hp
  FROM norm WHERE length(t) < 5
),
short1 AS (
  SELECT doc_id, __FIN_MUL__ AS hm FROM short0
),
short AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS pos, xor(hm, hm >> 29) AS u
  FROM short1
),
grams0 AS (
  SELECT doc_id, t,
         unnest(range(greatest(length(t) - 4, 0))) AS i
  FROM norm WHERE length(t) >= 5
),
grams1 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST(__GRAM_POLY__ AS UBIGINT) AS hp,
         length(t) - 4 AS n_grams
  FROM grams0
),
grams2 AS (
  SELECT doc_id, pos, n_grams, __FIN_MUL__ AS hm FROM grams1
),
grams AS (
  SELECT doc_id, pos, xor(hm, hm >> 29) AS h, n_grams FROM grams2
),
starts AS (
  SELECT doc_id, pos AS wstart FROM grams
  WHERE pos <= greatest(n_grams - 4, 0)
),
wins AS (
  SELECT s.doc_id, s.wstart, g.pos, g.h,
         row_number() OVER (PARTITION BY s.doc_id, s.wstart
                            ORDER BY g.h ASC, g.pos DESC) AS rn
  FROM starts s JOIN grams g
    ON g.doc_id = s.doc_id AND g.pos BETWEEN s.wstart AND s.wstart + 3
),
sel AS (
  SELECT DISTINCT doc_id, pos, h AS u FROM wins WHERE rn = 1
  UNION ALL
  SELECT doc_id, pos, u FROM short
)
SELECT doc_id, pos,
       CAST(CASE WHEN u >= 9223372036854775808
                 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS fp
FROM sel
"""
# inline the generated hash expressions (kept as placeholders above so
# the CTE skeleton stays readable; .replace, not %-format — the SQL is
# full of literal '%' mod operators)
_ORACLE_WINNOW = (
    _ORACLE_WINNOW
    .replace("__TOKEN_TEXT__", _sql_token_text("lower(text)"))
    .replace("__SHORT_POLY__", _WINNOW_SHORT_POLY)
    .replace("__GRAM_POLY__", _WINNOW_GRAM_POLY)
    .replace("__FIN_MUL__", _WINNOW_FIN_MUL)
)


def _q_winnow_neardup(spark, sf_dir):
    """Winnow-fingerprint near-dup pairs (MOSS construction): docs
    sharing >= 12 rare fingerprints (document frequency <= 50 — the
    boilerplate cap that also hard-bounds join-bucket skew). FULL
    value oracle: DuckDB replays the whole ladder — fingerprint
    selection, df cap, self-join, overlap count."""
    from tortank_spark.textops import winnow_dedup_pairs

    docs = _fan(_t(spark, sf_dir, "documents"))
    return winnow_dedup_pairs(docs, "doc_id")


_ORACLE_WINNOW_PAIRS = r"""
WITH sel AS (SELECT DISTINCT doc_id, fp FROM (%s)),
rare AS (
  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50
),
nar AS (SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp))
SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_shared
FROM nar l JOIN nar r ON l.fp = r.fp AND l.doc_id < r.doc_id
GROUP BY 1, 2 HAVING count(*) >= 12
"""


def _q_winnow_spans(spark, sf_dir):
    """MOSS-style overlap localization (winnow_match_spans): maximal
    shared-fingerprint position islands per doc pair — WHERE the
    shared material sits in doc a, the decontamination span report.
    FULL value oracle: DuckDB replays fingerprints, the row-count df
    cap, the a-positions x b-docs join, and the identical
    gaps-and-islands window arithmetic (lag + running sum)."""
    from tortank_spark.textops import winnow_match_spans

    docs = _fan(_t(spark, sf_dir, "documents"))
    return winnow_match_spans(docs, "doc_id")


def _q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sample: 20 docs per language, chosen
    as the k smallest md5(doc_id) — reproducible across reruns,
    engines, and partitionings (sampling.stratified_sample runs a
    salted two-level tournament so no single task ever sorts a whole
    web-scale stratum; the salt provably never changes the result, so
    the oracle replays a plain per-stratum row_number)."""
    from tortank_spark.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", k=20).select(
        "doc_id", "lang"
    )


_ORACLE_STRATIFIED = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) WHERE rn <= 20
"""


def _q_transitive_closure(spark, sf_dir):
    """Materialized property-path closure (``rdfs:subClassOf+`` /
    ``skos:broaderTransitive`` entailment) over a deterministic
    taxonomy tree derived from part keys (child p_partkey -> parent
    p_partkey DIV 2 — a binary tree ~11 levels deep at sf0.01, so the
    semi-naive loop genuinely iterates). tortank answers reachability
    only pair-at-a-time via repeated list_statements; materializing
    the closure once (graph.transitive_closure, Datalog semi-naive
    as a labeled frontier BFS: per-round work is frontier-sized, one
    driver-side count per round) turns every downstream ancestor
    query into a single equi-join. FULL
    value oracle: DuckDB replays the closure with a recursive CTE."""
    from tortank_spark.graph import transitive_closure

    edges = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") >= 2)
        .select(
            F.col("p_partkey").alias("src"),
            F.expr("p_partkey DIV 2").alias("dst"),
        )
    )
    return transitive_closure(edges)


_ORACLE_TRANSITIVE_CLOSURE = """
WITH RECURSIVE e AS (
  SELECT p_partkey AS src, p_partkey // 2 AS dst
  FROM part WHERE p_partkey >= 2
),
tc AS (
  SELECT src, dst FROM e
  UNION
  SELECT tc.src, e.dst FROM tc JOIN e ON tc.dst = e.src
)
SELECT src, dst FROM tc
"""


def _q_sameas_canonicalize(spark, sf_dir):
    """North-rule canonicalization stage as one verifiable query:
    owl:sameAs co-reference edges -> connected components -> canonical
    rewrite of the WHOLE triple table (canonicalize.sameas_edges /
    connected_components / rewrite_canonical — the same operators
    pipeline.py runs between extraction and materialization). Alias
    graph: e:k sameAs e:(k DIV 3) over customer keys (ternary trees,
    multi-hop chains, so CC genuinely iterates past direct links).
    Facts carry an IRI object (rewritten), a literal object, and a
    URL-SHAPED literal whose text spells an alias IRI — the oracle
    proves literals are never rewritten (the o_kind gate). FULL value
    oracle: recursive-CTE reachability + min-per-component + the same
    coalesce/CASE rewrite in DuckDB."""
    from tortank_spark.canonicalize import (
        connected_components,
        rewrite_canonical,
        sameas_edges,
    )
    from tortank_spark.schema import TRIPLE_SCHEMA

    OWL = "http://www.w3.org/2002/07/owl#sameAs"
    cust = _t(spark, sf_dir, "customer")
    eid = F.concat(F.lit("e:"), F.lpad(F.col("c_custkey").cast("string"), 6, "0"))
    par = F.concat(
        F.lit("e:"),
        F.lpad(F.expr("c_custkey DIV 3").cast("string"), 6, "0"),
    )

    def _row(s, p, o, o_kind):
        return [
            F.lit("synth").alias("url"), s.alias("s"),
            F.lit("iri").alias("s_kind"), p.alias("p"), o.alias("o"),
            F.lit(o_kind).alias("o_kind"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        ]

    sa = cust.filter(F.expr("c_custkey % 3 <> 0")).select(
        *_row(eid, F.lit(OWL), par, "iri")
    )
    located = cust.select(
        *_row(eid, F.lit("p:located"),
              F.concat(F.lit("n:"), "c_nationkey"), "iri")
    )
    name = cust.select(*_row(eid, F.lit("p:name"), F.col("c_name"), "literal"))
    urltext = cust.select(*_row(eid, F.lit("p:url_text"), par, "literal"))
    triples = spark.createDataFrame([], TRIPLE_SCHEMA).unionByName(
        sa.unionByName(located).unionByName(name).unionByName(urltext)
    )
    cmap = connected_components(sameas_edges(triples))
    return (
        rewrite_canonical(triples, cmap)
        .select("s", "p", "o", "o_kind")
        .distinct()
    )


_ORACLE_SAMEAS_CANON = """
WITH RECURSIVE
base AS (
  SELECT 'e:' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS me,
         'e:' || lpad(CAST(c_custkey // 3 AS VARCHAR), 6, '0') AS parent,
         c_custkey % 3 <> 0 AS haslink, c_nationkey, c_name
  FROM customer
),
sa AS (SELECT me AS src, parent AS dst FROM base WHERE haslink),
und AS (SELECT src, dst FROM sa UNION SELECT dst, src FROM sa),
reach(node, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT und.dst, reach.r FROM und JOIN reach ON und.src = reach.node
),
cmap AS (SELECT node AS iri, min(r) AS canonical FROM reach GROUP BY node),
t AS (
  SELECT me AS s, 'http://www.w3.org/2002/07/owl#sameAs' AS p,
         parent AS o, 'iri' AS o_kind FROM base WHERE haslink
  UNION ALL
  SELECT me, 'p:located', 'n:' || c_nationkey, 'iri' FROM base
  UNION ALL
  SELECT me, 'p:name', c_name, 'literal' FROM base
  UNION ALL
  SELECT me, 'p:url_text', parent, 'literal' FROM base
)
SELECT DISTINCT
  COALESCE(ms.canonical, t.s) AS s, t.p,
  CASE WHEN t.o_kind = 'iri' THEN COALESCE(mo.canonical, t.o)
       ELSE t.o END AS o,
  t.o_kind
FROM t
LEFT JOIN cmap ms ON t.s = ms.iri
LEFT JOIN cmap mo ON t.o_kind = 'iri' AND t.o = mo.iri
"""


_RDFS_FIXED_SCHEMA = [
    # property hierarchy (two hops so rdfs5 genuinely closes)
    ("p:buys", "rdfs:subPropertyOf", "p:related"),
    ("p:ships", "rdfs:subPropertyOf", "p:related"),
    ("p:related", "rdfs:subPropertyOf", "p:linked"),
    ("p:located", "rdfs:subPropertyOf", "p:in"),
    # domain/range — p:in's range reaches p:located only through the
    # property closure (pins the schema-side domain/range folding)
    ("p:buys", "rdfs:domain", "c:Customer"),
    ("p:buys", "rdfs:range", "c:Part"),
    ("p:ships", "rdfs:domain", "c:Supplier"),
    ("p:ships", "rdfs:range", "c:Part"),
    ("p:located", "rdfs:domain", "c:Agent"),
    ("p:in", "rdfs:range", "c:Place"),
    # class hierarchy (two hops so rdfs9/11 chain)
    ("c:Customer", "rdfs:subClassOf", "c:Agent"),
    ("c:Supplier", "rdfs:subClassOf", "c:Agent"),
    ("c:Agent", "rdfs:subClassOf", "c:Entity"),
    ("c:Part", "rdfs:subClassOf", "c:Artifact"),
    ("c:Artifact", "rdfs:subClassOf", "c:Entity"),
]


def _q_rdfs_entail(spark, sf_dir):
    """RDFS (ρdf) entailment materialization over a deterministic
    supply-chain ontology + instance KG: fixed property/class
    hierarchies, nation ⊑ region ⊑ c:Place taxonomy, and instance
    edges cust─buys→part, supp─ships→part, cust/supp─located→nation.
    reasoning.rdfs_entailment closes the ontology on the tiny side
    (semi-naive, schema-only iteration) then derives every instance
    entailment in ONE broadcast-join pass over the big table — the
    WebPIE/ISWC'09 stratification; tortank's triple model (SURVEY
    §2.3) would answer these only pair-at-a-time. FULL value oracle:
    DuckDB replays both schema closures (recursive CTEs) and all four
    instance strata."""
    from tortank_spark.reasoning import rdfs_entailment

    return rdfs_entailment(_rdfs_input_triples(spark, sf_dir))


def _rdfs_input_triples(spark, sf_dir):
    fixed = spark.createDataFrame(
        _RDFS_FIXED_SCHEMA, "s string, p string, o string"
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("n:"), "n_nationkey").alias("s"),
        F.lit("rdfs:subClassOf").alias("p"),
        F.concat(F.lit("r:"), "n_regionkey").alias("o"),
    )
    region = _t(spark, sf_dir, "region").select(
        F.concat(F.lit("r:"), "r_regionkey").alias("s"),
        F.lit("rdfs:subClassOf").alias("p"),
        F.lit("c:Place").alias("o"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("cust:"), "c_custkey").alias("s"),
        F.lit("p:located").alias("p"),
        F.concat(F.lit("n:"), "c_nationkey").alias("o"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("supp:"), "s_suppkey").alias("s"),
        F.lit("p:located").alias("p"),
        F.concat(F.lit("n:"), "s_nationkey").alias("o"),
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr("l_orderkey % 8 = 0")
    )
    ships = li.select(
        F.concat(F.lit("supp:"), "l_suppkey").alias("s"),
        F.lit("p:ships").alias("p"),
        F.concat(F.lit("part:"), "l_partkey").alias("o"),
    )
    buys = (
        _t(spark, sf_dir, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("cust:"), "o_custkey").alias("s"),
            F.lit("p:buys").alias("p"),
            F.concat(F.lit("part:"), "l_partkey").alias("o"),
        )
    )
    return (
        fixed.unionByName(nation).unionByName(region)
        .unionByName(cust).unionByName(supp)
        .unionByName(ships).unionByName(buys)
        .distinct()
    )


_RDFS_VOCAB = (
    "rdf:type", "rdfs:subClassOf", "rdfs:subPropertyOf",
    "rdfs:domain", "rdfs:range",
)


def _q_schema_summary(spark, sf_dir):
    """Quotient/summary graph of the ENTAILED KG: one row per
    (subject-class, property, object-class) with its triple count —
    the schema-profiling pass (Campinas et al.'s "graph summary" /
    LODStats-style structure induction) a KG pipeline materializes so
    query planners and curators see the shape of a 10^12-triple graph
    without scanning it. Composes two verified stages: rdfs_entailment
    (so every instance carries its full supertype set) then an
    inner-join rollup of fact triples against the type table on both
    endpoints. All joins are equi-joins on instance ids; the GROUP BY
    output is vocabulary-sized. FULL value oracle: DuckDB re-derives
    the entailment (nested WITH RECURSIVE) and replays the rollup."""
    from tortank_spark.reasoning import rdfs_entailment

    ent = rdfs_entailment(_rdfs_input_triples(spark, sf_dir))
    types = ent.filter(F.col("p") == "rdf:type").select(
        F.col("s").alias("node"), F.col("o").alias("cls")
    )
    facts = ent.filter(~F.col("p").isin(*_RDFS_VOCAB))
    st = types.withColumnRenamed("cls", "s_cls")
    ot = types.withColumnRenamed("cls", "o_cls")
    return (
        facts.join(st, facts["s"] == st["node"]).drop("node")
        .join(ot, facts["o"] == ot["node"]).drop("node")
        .groupBy("s_cls", "p", "o_cls")
        .agg(F.count("*").alias("n_triples"))
    )


def _oracle_schema_summary() -> str:
    vocab = ", ".join(f"'{v}'" for v in _RDFS_VOCAB)
    return f"""
WITH ent AS ({_ORACLE_RDFS_ENTAIL}),
typ AS (SELECT s AS node, o AS cls FROM ent WHERE p = 'rdf:type'),
facts AS (SELECT s, p, o FROM ent WHERE p NOT IN ({vocab}))
SELECT st.cls AS s_cls, facts.p, ot.cls AS o_cls,
       count(*) AS n_triples
FROM facts
JOIN typ st ON facts.s = st.node
JOIN typ ot ON facts.o = ot.node
GROUP BY st.cls, facts.p, ot.cls
"""


_ORACLE_RDFS_VALUES = ",\n    ".join(
    f"('{s}', '{p}', '{o}')" for s, p, o in _RDFS_FIXED_SCHEMA
)

_ORACLE_RDFS_ENTAIL = f"""
WITH RECURSIVE
fixedschema (s, p, o) AS (
  SELECT * FROM (VALUES
    {_ORACLE_RDFS_VALUES}) v(s, p, o)
),
t AS (
  SELECT s, p, o FROM fixedschema
  UNION
  SELECT 'n:' || n_nationkey, 'rdfs:subClassOf', 'r:' || n_regionkey
  FROM nation
  UNION
  SELECT 'r:' || r_regionkey, 'rdfs:subClassOf', 'c:Place' FROM region
  UNION
  SELECT 'cust:' || c_custkey, 'p:located', 'n:' || c_nationkey
  FROM customer
  UNION
  SELECT 'supp:' || s_suppkey, 'p:located', 'n:' || s_nationkey
  FROM supplier
  UNION
  SELECT 'supp:' || l_suppkey, 'p:ships', 'part:' || l_partkey
  FROM lineitem WHERE l_orderkey % 8 = 0
  UNION
  SELECT 'cust:' || o_custkey, 'p:buys', 'part:' || l_partkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_orderkey % 8 = 0
),
spo AS (
  SELECT s AS src, o AS dst FROM t WHERE p = 'rdfs:subPropertyOf'
  UNION
  SELECT spo.src, e.o FROM spo
  JOIN t e ON e.p = 'rdfs:subPropertyOf' AND spo.dst = e.s
),
sco AS (
  SELECT s AS src, o AS dst FROM t WHERE p = 'rdfs:subClassOf'
  UNION
  SELECT sco.src, e.o FROM sco
  JOIN t e ON e.p = 'rdfs:subClassOf' AND sco.dst = e.s
),
dom AS (
  SELECT s AS prop, o AS cls FROM t WHERE p = 'rdfs:domain'
  UNION
  SELECT spo.src, d.o FROM spo
  JOIN t d ON d.p = 'rdfs:domain' AND spo.dst = d.s
),
ran AS (
  SELECT s AS prop, o AS cls FROM t WHERE p = 'rdfs:range'
  UNION
  SELECT spo.src, r.o FROM spo
  JOIN t r ON r.p = 'rdfs:range' AND spo.dst = r.s
),
d7 AS (
  SELECT t.s AS s, spo.dst AS p, t.o AS o FROM t
  JOIN spo ON t.p = spo.src
),
pext AS (SELECT s, p, o FROM t UNION ALL SELECT s, p, o FROM d7),
d2 AS (
  SELECT pext.s AS s, 'rdf:type' AS p, dom.cls AS o FROM pext
  JOIN dom ON pext.p = dom.prop
),
d3 AS (
  SELECT pext.o AS s, 'rdf:type' AS p, ran.cls AS o FROM pext
  JOIN ran ON pext.p = ran.prop
),
types AS (
  SELECT s, p, o FROM t WHERE p = 'rdf:type'
  UNION ALL SELECT s, p, o FROM d2
  UNION ALL SELECT s, p, o FROM d3
),
d9 AS (
  SELECT types.s AS s, 'rdf:type' AS p, sco.dst AS o FROM types
  JOIN sco ON types.o = sco.src
)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM t
  UNION ALL SELECT s, p, o FROM d7
  UNION ALL SELECT s, p, o FROM d2
  UNION ALL SELECT s, p, o FROM d3
  UNION ALL SELECT s, p, o FROM d9
  UNION ALL SELECT src, 'rdfs:subPropertyOf', dst FROM spo
  UNION ALL SELECT src, 'rdfs:subClassOf', dst FROM sco
)
"""


def _q_negative_sample(spark, sf_dir):
    """KG-embedding training pairs over the customer-buys-part fact
    set: positives (label 1) + 2 corrupted-object negatives per fact
    (label 0), corruption = multiplicative hash of (s,p,o,j) mod
    |entities| — NO RNG state, so the draw is a pure function of the
    data and the DuckDB oracle replays every sample (sampling.
    negative_samples, Bordes et al. 2013 'filtered' setting: generated
    negatives that are true facts are anti-joined away). FULL value
    oracle."""
    from tortank_spark.sampling import negative_samples

    n_parts = _t(spark, sf_dir, "part").count()
    li = _t(spark, sf_dir, "lineitem").filter(F.expr("l_orderkey % 16 = 0"))
    facts = (
        _t(spark, sf_dir, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("s_id"),
            F.lit(0).cast("bigint").alias("p_id"),
            F.col("l_partkey").alias("o_id"),
        )
    )
    return negative_samples(facts, n_entities=n_parts, k=2)


_ORACLE_NEGATIVE_SAMPLE = """
WITH n AS (SELECT count(*) AS ne FROM part),
pos AS (
  SELECT DISTINCT o_custkey AS s_id, CAST(0 AS BIGINT) AS p_id,
         l_partkey AS o_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_orderkey % 16 = 0
),
js AS (SELECT CAST(1 AS BIGINT) AS j UNION ALL SELECT 2),
raw AS (
  SELECT s_id, p_id, o_id,
         ((s_id % 2147483647) * 1103515245
          + (p_id % 2147483647) * 747796405
          + j * 62089911
          + (o_id % 2147483647) * 104729) % n.ne AS i0
  FROM pos CROSS JOIN js CROSS JOIN n
),
neg AS (
  SELECT DISTINCT s_id, p_id,
         CASE WHEN i0 = o_id THEN (i0 + 1) % (SELECT ne FROM n)
              ELSE i0 END AS o_id
  FROM raw
),
negf AS (
  SELECT s_id, p_id, o_id FROM neg
  ANTI JOIN pos USING (s_id, p_id, o_id)
)
SELECT s_id, p_id, o_id, 1 AS label FROM pos
UNION ALL
SELECT s_id, p_id, o_id, 0 AS label FROM negf
"""


def _q_bfs_dist(spark, sf_dir):
    """Minimum hop distance (<= 6) from a seed entity set over the
    UNDIRECTED part co-purchase graph (parts sharing an order are
    adjacent — cycles, hubs, and varied eccentricities, so min-dist
    genuinely differs from first-path-found). graph.bfs_distances:
    frontier-sized rounds, one job each, anti-join against visited.
    FULL value oracle: DuckDB recursive CTE explores (node, d <= 6)
    pairs and takes min(d) per node — identical semantics."""
    from tortank_spark.graph import bfs_distances

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = li.distinct()
    l1 = pairs.select("l_orderkey", F.col("l_partkey").alias("src"))
    l2 = pairs.select("l_orderkey", F.col("l_partkey").alias("dst"))
    e = l1.join(l2, "l_orderkey").filter(
        F.col("src") != F.col("dst")
    ).select("src", "dst")
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 10)
        .select(F.col("p_partkey").alias("node"))
    )
    return bfs_distances(e, seeds, max_depth=6)


_ORACLE_BFS_DIST = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM pairs a JOIN pairs b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
walk(node, d) AS (
  SELECT p_partkey, 0 FROM part WHERE p_partkey < 10
  UNION
  SELECT e.dst, walk.d + 1 FROM e JOIN walk ON e.src = walk.node
  WHERE walk.d < 6
)
SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node
"""


def _q_pagerank(spark, sf_dir):
    """Entity importance over the directed supply KG: customer ->
    part edges (from co-occurrence in an order) and part -> supplier
    edges, node ids prefixed into disjoint IRI-like spaces. 10
    fixed rounds of integer-exact PageRank (graph.pagerank: scaled
    BIGINT arithmetic, so the result is bit-reproducible and the
    oracle below replays every round — float PageRank could never be
    value-hashed). FULL value oracle: 10 unrolled CTE stages."""
    from tortank_spark.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    ps = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    return pagerank(cp.unionByName(ps))


def _q_hits(spark, sf_dir):
    """HITS hubs/authorities over the directed supply KG (same edge
    set as kg_pagerank) — 5 rounds, all arithmetic in integer-L1-
    normalized scaled BIGINT/DECIMAL (graph.hits), so the DuckDB
    oracle replays every half-round bit-for-bit in HUGEINT. FULL
    value oracle: 5 unrolled auth+hub CTE pairs."""
    from tortank_spark.graph import hits

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    ps = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    return hits(cp.unionByName(ps), iterations=5)


def _hits_oracle_sql(iterations: int = 5, scale: int = 10 ** 9) -> str:
    """Unrolled integer HITS (recursive CTEs cannot aggregate over the
    recursive relation; the round count is fixed, the unrolling is
    mechanical — the pagerank-oracle precedent). Sums and the
    raw*scale product run in HUGEINT, matching graph.hits's
    DECIMAL(38,0) step exactly.

    The L1 total is taken with ``SUM(raw) OVER ()`` rather than a
    scalar subquery so every CTE in the chain is referenced exactly
    once: DuckDB inlines non-materialized CTEs, and a double
    reference per half-round would expand the 10-deep chain 2^10
    times (observed as "Too many open files" from thousands of
    duplicated parquet scans)."""
    rounds = []
    prev = "h0"
    for r in range(1, iterations + 1):
        for tag, ekey, nkey, src_scores in (
            ("a", "src", "dst", prev),
            ("h", "dst", "src", f"a{r}"),
        ):
            rounds.append(f"""
{tag}{r} AS (
  SELECT node,
         CAST(raw * {scale} // greatest(SUM(raw) OVER (), 1)
              AS BIGINT) AS v
  FROM (
    SELECT n.node, CAST(COALESCE(s.s, 0) AS HUGEINT) AS raw
    FROM nodes n LEFT JOIN (
      SELECT e.{nkey} AS k, SUM(p.v) AS s
      FROM e JOIN {src_scores} p ON e.{ekey} = p.node GROUP BY e.{nkey}
    ) s ON n.node = s.k
  )
)""")
        prev = f"h{r}"
    return f"""
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
  )
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST({scale} AS BIGINT) AS v FROM nodes),
{','.join(rounds)}
SELECT n.node, a.v AS auth, h.v AS hub
FROM nodes n
JOIN a{iterations} a ON n.node = a.node
JOIN h{iterations} h ON n.node = h.node
"""


_ORACLE_HITS = _hits_oracle_sql(5)


def _q_random_walks(spark, sf_dir):
    """DeepWalk corpus over the undirected part co-purchase graph
    (same edge derivation as kg_bfs_dist): 2 deterministic walks of
    up to 4 steps from every part, adjacency degree-capped at 16 by
    md5 rank (graph.random_walks — hash-chosen steps, NO RNG). FULL
    value oracle: DuckDB replays the capped adjacency and every
    unrolled step; MATERIALIZED CTEs keep the chain single-eval."""
    from tortank_spark.graph import random_walks

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = li.distinct()
    l1 = pairs.select("l_orderkey", F.col("l_partkey").alias("src"))
    l2 = pairs.select("l_orderkey", F.col("l_partkey").alias("dst"))
    e = l1.join(l2, "l_orderkey").filter(
        F.col("src") != F.col("dst")
    ).select("src", "dst")
    return random_walks(e, walk_length=4, walks_per_node=2,
                        max_degree=16)


def _walks_oracle_sql(walk_length: int = 4, walks_per_node: int = 2,
                      max_degree: int = 16) -> str:
    """Unrolled deterministic-walk replay. Every CTE is MATERIALIZED:
    step t is referenced both by step t+1 and by the final union, and
    DuckDB's default CTE inlining would re-expand the whole prefix
    chain at each reference (the kg_hits lesson — exponential scans)."""
    M, A, B, C, D = 2147483647, 1103515245, 747796405, 62089911, 104729
    steps, names = [], ["w0"]
    for t in range(1, walk_length + 1):
        steps.append(f"""
w{t} AS MATERIALIZED (
  SELECT s.start, s.walk, CAST({t} AS BIGINT) AS step, a.dst AS cur
  FROM w{t - 1} s
  JOIN deg d ON s.cur = d.src
  JOIN adj a ON a.src = s.cur
   AND a.idx = ((s.start % {M}) * {A} + s.walk * {B}
                + {t} * {C} + (s.cur % {M}) * {D}) % d.cdeg
)""")
        names.append(f"w{t}")
    union = "\nUNION ALL\n".join(f"SELECT * FROM {n}" for n in names)
    walks = " UNION ALL ".join(
        f"SELECT CAST({w} AS BIGINT) AS walk"
        for w in range(1, walks_per_node + 1)
    )
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
ed AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM pairs a JOIN pairs b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
adj AS MATERIALIZED (
  SELECT src, dst,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY src ORDER BY md5(src || ':' || dst), dst
         ) - 1 AS BIGINT) AS idx
  FROM ed
  QUALIFY idx < {max_degree}
),
deg AS MATERIALIZED (SELECT src, count(*) AS cdeg FROM adj GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
w0 AS MATERIALIZED (
  SELECT CAST(node AS BIGINT) AS start, walk,
         CAST(0 AS BIGINT) AS step, CAST(node AS BIGINT) AS cur
  FROM nodes CROSS JOIN ({walks}) ws
),
{','.join(steps)}
SELECT start, walk, step, cur AS node FROM ({union})
"""


_ORACLE_RANDOM_WALKS = _walks_oracle_sql(4, 2, 16)


def _q_split_assign(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test carve of the documents
    table (sampling.split_assign, salt 7) — one narrow projection,
    engine-replayable Lehmer-hash buckets. FULL value oracle: DuckDB
    recomputes every bucket with the same BIGINT arithmetic."""
    from tortank_spark.sampling import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_assign(
        docs, "doc_id",
        (("train", 90), ("val", 5), ("test", 5)), salt=7,
    )


_ORACLE_SPLIT_ASSIGN = """
SELECT doc_id, lang,
       CASE WHEN b < 90 THEN 'train'
            WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         ((doc_id % 2147483647) * 1103515245 + 8 * 62089911)
           % 2147483647 % 100 AS b
  FROM documents
)
"""


def _q_kcore(spark, sf_dir):
    """35-core of the undirected supply KG (graph.kcore): at sf0.01
    the peel cascades for 5 rounds before the 2,889-node fixpoint —
    a real core/periphery separation, not a one-shot filter. FULL
    value oracle: 16 unrolled MATERIALIZED rounds (idempotent after
    convergence, so any budget >= the true round count is exact)."""
    from tortank_spark.graph import kcore

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    ps = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    return kcore(cp.unionByName(ps), k=35)


def _kcore_oracle_sql(k: int = 35, rounds: int = 16) -> str:
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""
r{i} AS MATERIALIZED (
  SELECT e.a AS node, count(*) AS deg
  FROM e
  JOIN r{i - 1} c1 ON e.a = c1.node
  JOIN r{i - 1} c2 ON e.b = c2.node
  GROUP BY e.a HAVING count(*) >= {k}
)""")
    return f"""
WITH d AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
  )
),
e AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM d WHERE src <> dst
  UNION
  SELECT dst, src FROM d WHERE src <> dst
),
r0 AS MATERIALIZED (
  SELECT a AS node, count(*) AS deg FROM e
  GROUP BY a HAVING count(*) >= {k}
),
{','.join(parts)}
SELECT node, deg FROM r{rounds}
"""


_ORACLE_KCORE = _kcore_oracle_sql(35, 16)


def _q_label_prop(spark, sf_dir):
    """Region-label inference over the undirected supply KG
    (customer—part—supplier): suppliers are seeded with their
    nation's region name, 3 synchronous majority-vote rounds
    (graph.propagate_labels) type the parts then the customers.
    FULL value oracle: DuckDB replays all 3 rounds with the same
    (count desc, label asc) tie-break under MATERIALIZED CTEs."""
    from tortank_spark.graph import propagate_labels

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    ps = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    directed = cp.unionByName(ps)
    e = directed.unionByName(
        directed.select(F.col("dst").alias("src"),
                        F.col("src").alias("dst"))
    )
    seeds = (
        _t(spark, sf_dir, "supplier")
        .join(_t(spark, sf_dir, "nation"),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(_t(spark, sf_dir, "region"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node"),
            F.col("r_name").alias("label"),
        )
    )
    return propagate_labels(e, seeds, rounds=3)


def _label_prop_oracle_sql(rounds: int = 3) -> str:
    """Unrolled synchronous label propagation; every CTE MATERIALIZED
    (each round is referenced by the next AND votes reference edges —
    default inlining would re-expand the prefix chain per reference,
    the kg_hits lesson)."""
    steps = []
    prev = "l0"
    for t in range(1, rounds + 1):
        steps.append(f"""
w{t} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT e.dst AS node, p.label, count(*) AS c,
           ROW_NUMBER() OVER (
             PARTITION BY e.dst ORDER BY count(*) DESC, p.label ASC
           ) AS rn
    FROM e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst, p.label
  ) WHERE rn = 1
),
l{t} AS MATERIALIZED (
  SELECT node, label FROM l0
  UNION ALL
  SELECT node, label FROM w{t}
  WHERE node NOT IN (SELECT node FROM l0)
)""")
        prev = f"l{t}"
    return f"""
WITH directed AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
  )
),
e AS MATERIALIZED (
  SELECT src, dst FROM directed
  UNION
  SELECT dst, src FROM directed
),
l0 AS MATERIALIZED (
  SELECT 's:' || s_suppkey AS node, min(r_name) AS label
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1
),
{','.join(steps)}
SELECT node, label FROM l{rounds}
"""


_ORACLE_LABEL_PROP = _label_prop_oracle_sql(3)


def _q_fuzzy_alias(spark, sf_dir):
    """Levenshtein<=1 alias pairs over customer names via FastSS
    deletion-neighborhood blocking (linking.fuzzy_pairs) — the
    surface-form co-reference feeder. FULL value oracle: DuckDB
    rebuilds the deletion keys (1-based substr) and verifies with its
    own levenshtein."""
    from tortank_spark.linking import fuzzy_pairs

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=1)


_ORACLE_FUZZY_ALIAS = """
WITH base AS MATERIALIZED (
  SELECT DISTINCT c_custkey AS id, c_name AS n
  FROM customer WHERE c_name IS NOT NULL
),
keys AS MATERIALIZED (
  SELECT id, n, unnest(list_distinct(list_append(
    list_transform(range(1, length(n) + 1),
                   i -> substr(n, 1, i - 1) || substr(n, i + 1)), n))) AS k
  FROM base
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
         a.n AS a_name, b.n AS b_name
  FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id
)
SELECT a_id, b_id, a_name, b_name,
       CAST(levenshtein(a_name, b_name) AS INT) AS dist
FROM cand
WHERE levenshtein(a_name, b_name) <= 1
"""


def _q_coref_jaccard(spark, sf_dir):
    """Structural co-reference candidates over the customer->part
    purchase graph: customer pairs whose part baskets overlap
    (neighborhood Jaccard as exact integer ppm, linking.
    neighborhood_jaccard). max_df=40 genuinely bites at sf0.01 (51
    parts above the cap are excluded from pairing AND degrees);
    min_common=4 keeps candidates, not noise. FULL value oracle."""
    from tortank_spark.linking import neighborhood_jaccard

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return neighborhood_jaccard(e, max_df=40, min_common=4)


_ORACLE_COREF_JACCARD = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
ef AS MATERIALIZED (
  SELECT * FROM e
  WHERE dst IN (SELECT dst FROM e GROUP BY dst HAVING count(*) <= 40)
),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM ef GROUP BY src),
p AS (
  SELECT a.src AS a, b.src AS b, count(*) AS common
  FROM ef a JOIN ef b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
  HAVING count(*) >= 4
)
SELECT p.a, p.b, p.common, da.deg AS deg_a, db.deg AS deg_b,
       CAST(p.common * 1000000 // (da.deg + db.deg - p.common)
            AS BIGINT) AS jaccard_ppm
FROM p JOIN deg da ON p.a = da.src JOIN deg db ON p.b = db.src
"""


def _q_ppr(spark, sf_dir):
    """Personalized PageRank over the supply KG: teleport restricted
    to the customer seeds c:<key<50> (graph.pagerank(seeds=...)) —
    importance relative to a cohort, the topic-sensitive ranking of
    Haveliwala 2002. FULL value oracle: all 10 rounds unrolled with
    the seed-gated teleport term."""
    from tortank_spark.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    ps = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 50)
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("node"))
    )
    return pagerank(cp.unionByName(ps), iterations=10, seeds=seeds)


def _ppr_oracle_sql(iterations: int = 10) -> str:
    """Unrolled personalized PageRank: the pagerank oracle with the
    teleport term gated on a MATERIALIZED seed flag in the node
    table (single-reference chain, the kg_hits inlining lesson)."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(f"""
pr{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN n.seed THEN 150000000 ELSE 0 END
              + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ed.dst, SUM(p.rank // ed.odeg) AS s
    FROM ed JOIN pr{i - 1} p ON ed.src = p.node GROUP BY ed.dst
  ) s ON n.node = s.dst
)""")
    return f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
  )
),
sd AS MATERIALIZED (
  SELECT 'c:' || c_custkey AS node FROM customer WHERE c_custkey < 50
),
nodes AS MATERIALIZED (
  SELECT node, node IN (SELECT node FROM sd) AS seed FROM (
    SELECT src AS node FROM e UNION SELECT dst FROM e
  )
),
deg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
ed AS MATERIALIZED (
  SELECT e.src, e.dst, d.odeg FROM e JOIN deg d ON e.src = d.src
),
pr0 AS MATERIALIZED (
  SELECT node, CAST(CASE WHEN seed THEN 1000000000 ELSE 0 END
               AS BIGINT) AS rank
  FROM nodes
),
{','.join(rounds)}
SELECT node, rank FROM pr{iterations}
"""


_ORACLE_PPR = _ppr_oracle_sql(10)


def _pagerank_oracle_sql(iterations: int = 10) -> str:
    """Unrolled fixed-iteration integer PageRank as one DuckDB query
    (recursive CTEs disallow aggregation over the recursive relation,
    so each round is its own CTE — the round count is fixed, the
    unrolling is mechanical)."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(f"""
pr{i} AS (
  SELECT n.node,
         CAST(150000000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ed.dst, SUM(p.rank // ed.odeg) AS s
    FROM ed JOIN pr{i - 1} p ON ed.src = p.node GROUP BY ed.dst
  ) s ON n.node = s.dst
)""")
    return f"""
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
  )
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
ed AS (SELECT e.src, e.dst, d.odeg FROM e JOIN deg d ON e.src = d.src),
pr0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
{','.join(rounds)}
SELECT node, rank FROM pr{iterations}
"""


_ORACLE_PAGERANK = _pagerank_oracle_sql(10)


def _q_triangles(spark, sf_dir):
    """Per-node triangle counts over the lineitem co-purchase graph
    (parts sharing an order are adjacent) — the clustering-coefficient
    numerator, via degree-ordered orientation (graph.triangle_counts:
    wedge stage bounded O(m^1.5) total, no celebrity-node straggler).
    FULL value oracle: integer-exact, DuckDB replays the projection,
    canonical edges, and a direct 3-way self-join (orientation changes
    the enumeration ORDER, never the triangle set)."""
    from tortank_spark.graph import triangle_counts

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = li.distinct()
    l1 = pairs.select("l_orderkey", F.col("l_partkey").alias("src"))
    l2 = pairs.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = l1.join(l2, "l_orderkey").filter(
        F.col("src") < F.col("dst")
    ).select("src", "dst")
    return triangle_counts(edges)


def _q_clustering(spark, sf_dir):
    """Per-node clustering coefficients over the part co-purchase
    graph (graph.clustering_coefficients — Watts/Strogatz local cc in
    exact integer ppm on the triangle_counts orientation engine; the
    link-farm/template-cluster signal). FULL value oracle: DuckDB
    re-derives degrees + the 3-way triangle join and replays the
    HUGEINT product / integer quotient."""
    from tortank_spark.graph import clustering_coefficients

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = li.distinct()
    l1 = pairs.select("l_orderkey", F.col("l_partkey").alias("src"))
    l2 = pairs.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = l1.join(l2, "l_orderkey").filter(
        F.col("src") < F.col("dst")
    ).select("src", "dst")
    return clustering_coefficients(edges)


_ORACLE_CLUSTERING = """
WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lp l1 JOIN lp l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node),
t AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
tri AS MATERIALIZED (
  SELECT node, count(*) AS n_tri FROM (
    SELECT a AS node FROM t UNION ALL SELECT b FROM t
    UNION ALL SELECT c FROM t
  ) GROUP BY node)
SELECT d.node, d.deg,
       CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(CASE WHEN d.deg >= 2
            THEN CAST(COALESCE(tri.n_tri, 0) AS HUGEINT) * 2 * 1000000
                 // (d.deg * (d.deg - 1))
            ELSE 0 END AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tri ON d.node = tri.node
"""


_ORACLE_TRIANGLES = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lp l1 JOIN lp l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
t AS (SELECT e1.a, e1.b, e2.b AS c
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
n AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t)
SELECT node, count(*) AS n_tri FROM n GROUP BY node
"""


def _q_contamination(spark, sf_dir):
    """Train-vs-eval decontamination spans (winnow_contamination):
    the documents table split by doc_id parity — evens play the
    crawled corpus, odds play the (small, BROADCAST) eval set; output
    = char-position spans in corpus docs reproducing eval material.
    FULL value oracle: winnowing is per-document, so the fingerprints
    of each split are exactly the full fp table filtered by parity —
    DuckDB replays the split, the corpus-side df cap, the join, and
    the islands window."""
    import pyspark.sql.functions as F

    from tortank_spark.textops import winnow_contamination

    docs = _fan(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    evals = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    return winnow_contamination(corpus, evals)


_ORACLE_CONTAMINATION = r"""
WITH allfp AS (SELECT DISTINCT doc_id, pos, fp FROM (%s)),
cf AS (SELECT doc_id, pos, fp FROM allfp WHERE doc_id %% 2 = 0),
rare AS (SELECT fp FROM cf GROUP BY fp HAVING count(*) <= 50),
nar AS (SELECT c.doc_id, c.pos, c.fp FROM cf c JOIN rare USING (fp)),
ef AS (
  SELECT DISTINCT doc_id AS eval_id, fp FROM allfp WHERE doc_id %% 2 = 1
),
shared AS (
  SELECT DISTINCT n.doc_id, e.eval_id, n.pos
  FROM nar n JOIN ef e ON n.fp = e.fp
),
brk AS (
  SELECT doc_id, eval_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id, eval_id
                                        ORDER BY pos) > 50
              THEN 1 ELSE 0 END AS brk
  FROM shared
),
isl AS (
  SELECT doc_id, eval_id, pos,
         sum(brk) OVER (PARTITION BY doc_id, eval_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM brk
)
SELECT doc_id, eval_id, min(pos) AS a_start, max(pos) AS a_end,
       count(*) AS n_fps
FROM isl GROUP BY doc_id, eval_id, g HAVING count(*) >= 5
"""


# gaps-and-islands replay of winnow_match_spans defaults
# (max_gap=50, min_fps=5, max_df=50); fp0's cap counts ROWS (positions)
# per fingerprint, matching the Spark side's stricter bucket bound
_ORACLE_WINNOW_SPANS = r"""
WITH fp0 AS (SELECT DISTINCT doc_id, pos, fp FROM (%s)),
rare AS (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 50),
nar AS (SELECT f.doc_id, f.pos, f.fp FROM fp0 f JOIN rare USING (fp)),
rgt AS (SELECT DISTINCT doc_id AS b, fp FROM nar),
shared AS (
  SELECT DISTINCT l.doc_id AS a, r.b, l.pos
  FROM nar l JOIN rgt r ON l.fp = r.fp AND l.doc_id < r.b
),
brk AS (
  SELECT a, b, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b ORDER BY pos)
                  > 50
              THEN 1 ELSE 0 END AS brk
  FROM shared
),
isl AS (
  SELECT a, b, pos,
         sum(brk) OVER (PARTITION BY a, b ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM brk
)
SELECT a, b, min(pos) AS a_start, max(pos) AS a_end,
       count(*) AS n_fps
FROM isl GROUP BY a, b, g HAVING count(*) >= 5
"""


def _q_multimodal_features(spark, sf_dir):
    """REAL multimodal decode (PPM/BMP images, WAV audio — pure numpy;
    video stays stubbed: compressed containers need codec libs). FULL
    value oracle: the fixture pixels/samples are closed formulas of
    (media_id, byte index), so DuckDB regenerates every feature value
    bit-exactly — which pins the decoders end to end (Spark derives
    the same numbers from actual container BYTES, including BMP's
    bottom-up BGR padded layout).

    The feature vector is posexploded to one scalar row per element:
    the driver's canonicalizer sorts/hashes scalar columns only (an
    array<double> column is unhashable in its pandas sort), and the
    per-element layout pins every value individually anyway."""
    from tortank_spark.multimodal import extract_features, make_media_table

    media = make_media_table(spark, n=32)
    feat = extract_features(media).join(
        media.select("media_id", "content_sha256"), "content_sha256"
    )
    return feat.select(
        "media_id",
        "media_type",
        F.posexplode("feature").alias("feat_idx", "feat_value"),
        "decode_ok",
    ).select(
        "media_id",
        "media_type",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        "feat_value",
        "decode_ok",
    )


# fixture formulas (multimodal.media_fixture_rows): image i%3=0 has
# w=4+(i%4)*2, h=3+((i//3)%3)*2, pixel byte j = (i*7+j*13)%256; audio
# i%3=1 has 64+8i samples of ((i*31+j*17)%4096)-2048 @8kHz; video
# i%3=2 is opaque bytes = unhex(repeat(sha256('media-i'),4)) whose
# STUB features are sha256(blob) bytes 0..15 / 255. Feature math uses
# exact-integer sums in float64 on both sides (bit-identical).
_ORACLE_MM_FEATURES = """
WITH ids AS (SELECT i.range AS i FROM range(32) i),
img AS (
  SELECT i, 4 + (i % 4) * 2 AS w, 3 + ((i // 3) % 3) * 2 AS h
  FROM ids WHERE i % 3 = 0
),
ipx AS (SELECT i, w, h, unnest(range(w * h * 3)) AS j FROM img),
ipv AS (
  SELECT i, w, h, j, (i * 7 + j * 13) % 256 AS v, j % 3 AS c FROM ipx
),
ifeat AS (
  SELECT i,
         [CAST(w AS DOUBLE), CAST(h AS DOUBLE),
          sum(v)::DOUBLE / (w * h * 3),
          sqrt(greatest(
            sum(v * v)::DOUBLE / (w * h * 3)
            - (sum(v)::DOUBLE / (w * h * 3)) * (sum(v)::DOUBLE / (w * h * 3)),
            0.0)),
          CAST(min(v) AS DOUBLE), CAST(max(v) AS DOUBLE),
          sum(CASE WHEN c = 0 THEN v ELSE 0 END)::DOUBLE / (w * h),
          sum(CASE WHEN c = 1 THEN v ELSE 0 END)::DOUBLE / (w * h),
          sum(CASE WHEN c = 2 THEN v ELSE 0 END)::DOUBLE / (w * h)
         ] AS feature
  FROM ipv GROUP BY i, w, h
),
aud AS (SELECT i, 64 + 8 * i AS ns FROM ids WHERE i % 3 = 1),
apx AS (SELECT i, ns, unnest(range(ns)) AS j FROM aud),
apv AS (SELECT i, ns, ((i * 31 + j * 17) % 4096) - 2048 AS v FROM apx),
afeat AS (
  SELECT i,
         [CAST(ns AS DOUBLE), 8000.0,
          sum(v)::DOUBLE / ns,
          sqrt(sum(v * v)::DOUBLE / ns),
          CAST(min(v) AS DOUBLE), CAST(max(v) AS DOUBLE)
         ] AS feature
  FROM apv GROUP BY i, ns
),
vid AS (
  SELECT i,
         sha256(repeat('media-' || i || '-opaque-video-payload', 4)) AS sh
  FROM ids WHERE i % 3 = 2
),
vpx AS (SELECT i, sh, unnest(range(16)) AS j FROM vid),
vfeat AS (
  SELECT i,
         list(CAST(concat('0x', substr(sh, 2 * j + 1, 2)) AS INTEGER)
              / 255.0 ORDER BY j) AS feature
  FROM vpx GROUP BY i, sh
),
allf AS (
  SELECT i, feature, 'image' AS media_type, 'ok' AS decode_ok FROM ifeat
  UNION ALL
  SELECT i, feature, 'audio', 'ok' FROM afeat
  UNION ALL
  SELECT i, feature, 'video', 'stubbed' FROM vfeat
)
SELECT i AS media_id, media_type,
       generate_subscripts(feature, 1) - 1 AS feat_idx,
       unnest(feature) AS feat_value, decode_ok
FROM allf
"""


# ----------------------------------------------- sources / sinks (S3-S9)

def _workdir(sf_dir: str, name: str) -> str:
    """Deterministic scratch dir per (sf, query); wiped on entry so
    every invocation reproduces the same bytes from scratch."""
    import shutil

    d = Path("/tmp/tortank_oracle") / (Path(sf_dir).name or "sf") / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    return str(d)


def _nation_triples(spark, sf_dir):
    from tortank_spark.extract import extract_triples, triples_only

    return triples_only(
        extract_triples(_nation_pages(spark, sf_dir), fixture_mode=True)
    )


def _q_src_ntriples(spark, sf_dir):
    """S3 incremental N-Triples statement source (turtle_doc.rs:338-361):
    write the nation triples as N-Triples lines, re-read them through
    the line-oriented source, return the parsed statements."""
    from tortank_spark.serialize import write_ntriples
    from tortank_spark.sources import read_ntriples_lines

    d = _workdir(sf_dir, "src_ntriples")
    write_ntriples(_nation_triples(spark, sf_dir), d, partitions=2)
    out = read_ntriples_lines(spark, d)
    return out.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        "s", "p", "o", F.col("o_datatype").alias("o_dt")
    )


def _q_src_rdfjson(spark, sf_dir):
    """S4/S5 RDF/JSON array source (turtle_doc.rs:228-240, 906-990):
    write the reference's to_file(json=true) single-array layout, read
    it back through the typed-node conversion."""
    from tortank_spark.serialize import write_rdf_json_array
    from tortank_spark.sources import read_rdf_json

    d = _workdir(sf_dir, "src_rdfjson")
    path = os.path.join(d, "triples.json")
    write_rdf_json_array(_nation_triples(spark, sf_dir), path)
    out = read_rdf_json(spark, path, array=True)
    return out.select("s", "p", "o", F.col("o_datatype").alias("o_dt"))


def _q_sink_ntriples(spark, sf_dir):
    """S6 to_file N-Triples sink (turtle_doc.rs:425-487): write, then
    read the raw bytes back — the oracle pins the exact line format."""
    from tortank_spark.serialize import write_ntriples

    d = _workdir(sf_dir, "sink_ntriples")
    write_ntriples(_nation_triples(spark, sf_dir), d, partitions=2)
    return spark.read.text(d).select(F.col("value").alias("line"))


def _q_sink_rdfjson(spark, sf_dir):
    """S9 RDF/JSON sink (JSON-lines distributed layout,
    turtle_doc.rs:992-1004 node encoding): write, read raw lines back —
    the oracle reconstructs the exact JSON strings."""
    from tortank_spark.serialize import write_rdf_json

    d = _workdir(sf_dir, "sink_rdfjson")
    write_rdf_json(_nation_triples(spark, sf_dir), d)
    return spark.read.text(d).select(F.col("value").alias("line"))


_ORACLE_SINK_RDFJSON = f"""
SELECT '{{"subject":{{"type":"uri","value":"{EX}nation/' || n_nationkey
       || '"}},"predicate":{{"type":"uri","value":"{EX}ns#name"}},'
       || '"object":{{"type":"literal","datatype":"{XSD}string","value":"'
       || n_name || '"}}}}' AS line
FROM nation
UNION ALL
SELECT '{{"subject":{{"type":"uri","value":"{EX}nation/' || n_nationkey
       || '"}},"predicate":{{"type":"uri","value":"{EX}ns#regionkey"}},'
       || '"object":{{"type":"literal","datatype":"{XSD}integer","value":"'
       || n_regionkey || '"}}}}' AS line
FROM nation
"""


def _q_turtle_pretty(spark, sf_dir):
    """S8 as_turtle blocks (turtle_doc.rs:1330-1381) on the nation
    triples: subject in Display form, predicates compacted against the
    built-in table and sorted (the reference iterates a HashMap, i.e.
    unspecified order), xsd:string datatype dropped but Display quoting
    kept, integers bare."""
    from tortank_spark.serialize import to_turtle_pretty

    return to_turtle_pretty(_nation_triples(spark, sf_dir)).select(
        F.col("value").alias("block")
    )


# the predicate namespace is http://example.org/ns#, and PREFIX_OR_NONE
# compacts by substring REPLACE (turtle_doc.rs:106-123), so ex: eats
# only the http://example.org/ part -> 'ex:ns#name'
_ORACLE_TURTLE_PRETTY = f"""
SELECT '<{EX}nation/' || n_nationkey || '> ex:ns#name \"\"\"' || n_name
       || '\"\"\";' || chr(10) || chr(9) || 'ex:ns#regionkey ' || n_regionkey
       || '.' AS block
FROM nation
"""


def _q_add_statement(spark, sf_dir):
    """R6 add_statement (turtle_doc.rs:284-293): insert one new triple
    (kept) and one duplicate (dropped) into the click bag."""
    from tortank_spark.algebra import add_statement

    bag = _did_triples(spark, sf_dir, ["click"])
    new_row = ("urn:user:added", "iri", "urn:did", "signup", "literal",
               None, None)
    dup_row = [tuple(r) for r in bag.orderBy("s").limit(1).collect()][0]
    return add_statement(add_statement(bag, new_row), dup_row).select(
        "s", "p", "o"
    )


def _q_add_prefixes(spark, sf_dir):
    """R10 add_prefixes (turtle_doc.rs:264-283): the page uses exn:
    prefixed names with NO in-doc @prefix — only the external seed map
    resolves them; emitted triples must equal the directive version."""
    from tortank_spark.extract import extract_triples, triples_only

    nation = _t(spark, sf_dir, "nation")
    text = F.concat(
        F.lit(f"<{EX}nation/"), F.col("n_nationkey"), F.lit("> "),
        F.lit("exn:name "), F.lit('"'), F.col("n_name"), F.lit('" ; '),
        F.lit("exn:regionkey "), F.col("n_regionkey"), F.lit(" .\n"),
    )
    pages = nation.select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey")).alias("url"),
        text.alias("text"),
    )
    t = triples_only(extract_triples(
        pages, fixture_mode=True, seed_prefixes={"exn": f"{EX}ns#"}
    ))
    return t.select("s", "p", "o", F.col("o_datatype").alias("o_dt"))


def _q_skolemize(spark, sf_dir):
    """P20 skolem mode (turtle_doc.rs:733-747, default constant
    shared.rs:14): anon bnodes become IRIs under the well-known prefix;
    the per-doc counter restarts at 1 in fixture mode, so the emitted
    skolem IRI is a constant the oracle reconstructs."""
    from tortank_spark.extract import extract_triples, triples_only
    from tortank_spark.grammar.turtle import DEFAULT_WELL_KNOWN_PREFIX

    nation = _t(spark, sf_dir, "nation")
    text = F.concat(
        F.lit(f"@prefix ex: <{EX}ns#> .\n[ ex:describes <{EX}nation/"),
        F.col("n_nationkey"),
        F.lit('> ] ex:label "'), F.col("n_name"), F.lit('" .\n'),
    )
    pages = nation.select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey")).alias("url"),
        text.alias("text"),
    )
    t = triples_only(extract_triples(
        pages, fixture_mode=True,
        well_known_prefix=DEFAULT_WELL_KNOWN_PREFIX,
    ))
    return t.select("s", "s_kind", "p", "o")


_ORACLE_SKOLEM = f"""
SELECT '{EX}.well-known/genid#~1' AS s, 'iri' AS s_kind,
       '{EX}ns#describes' AS p, '{EX}nation/' || n_nationkey AS o
FROM nation
UNION ALL
SELECT '{EX}.well-known/genid#~1' AS s, 'iri' AS s_kind,
       '{EX}ns#label' AS p, n_name AS o
FROM nation
"""


def _q_stream_ingest(spark, sf_dir):
    """§2.4 streaming: land N-Triples files, drain them with the
    Structured-Streaming ingest (availableNow + checkpoint + idempotent
    per-batch sink), read the parquet sink back."""
    from tortank_spark.serialize import write_ntriples
    from tortank_spark.streaming import stream_ntriples_directory

    d = _workdir(sf_dir, "stream_ingest")
    land, out, ckpt = f"{d}/in", f"{d}/out", f"{d}/ckpt"
    write_ntriples(_nation_triples(spark, sf_dir), land, partitions=2)
    q = stream_ntriples_directory(spark, land, out, ckpt)
    q.awaitTermination(300)
    t = spark.read.parquet(out)
    return t.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        "s", "p", "o", F.col("o_datatype").alias("o_dt")
    )


def _q_stream_dedup(spark, sf_dir):
    """§2.4 streaming, dedup stage: land the documents table as files,
    drain them with the streaming per-fingerprint aggregate
    (streaming.stream_exact_dedup: state folds across micro-batches;
    min/count are order-insensitive so the result is deterministic
    whatever the batch cut), read the snapshot sink back. FULL value
    oracle: the same md5 group-aggregate in SQL."""
    from tortank_spark.streaming import stream_exact_dedup

    d = _workdir(sf_dir, "stream_dedup")
    land, out, ckpt = f"{d}/in", f"{d}/out", f"{d}/ckpt"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.mode("overwrite").parquet(land)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(land)
    )
    q = stream_exact_dedup(stream, out, ckpt)
    q.awaitTermination(300)
    return spark.read.parquet(out)


_ORACLE_STREAM_DEDUP = """
SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


# -------------------------------------- full-grammar extraction oracle

_FULL_DOC_TEMPLATE = """@prefix ex: <http://example.org/ns#> .
@base <http://example.org/> .
<nation/%s> ex:name \"\"\"%s\"\"\" ;
  ex:motto "libert\\u{00E9} \\n '%s'"@fr ;
  ex:pop 3E1 ;
  ex:frac 1.663E-4 ;
  ex:big 123456789012 ;
  ex:founded "2021-01-01T10:10:10.000Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> ;
  ex:day "2021-09-12"^^<http://www.w3.org/2001/XMLSchema#date> ;
  ex:active true ;
  ex:tags ( "t%s" <thing/%s> 42 ) ;
  ex:officer [ ex:rank %s ] .
_:chief%s ex:serves <nation/%s> .
"""


def _q_extract_full(spark, sf_dir):
    """The hard-grammar oracle: every page embeds long-quoted strings,
    \\u{...} brace escapes (string_parser.rs:27-48), lang tags, the
    numeric ladder (3E1 -> decimal '30', triple_common_parser.rs:154-164),
    typed temporal coercion + date fallback (turtle_doc.rs:600-710),
    booleans, collections -> cons chains (turtle_doc.rs:801-830), anon +
    labeled bnodes with counter allocation order (turtle_doc.rs:733-799),
    base/prefix directives — P3 and P8-P21 end to end, pinned by a
    DuckDB oracle that reconstructs all 18 expected rows per page."""
    from tortank_spark.extract import extract_triples, triples_only

    nation = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("string")
    pages = nation.select(
        F.concat(F.lit("urn:nation:"), k).alias("url"),
        F.format_string(
            _FULL_DOC_TEMPLATE, k, F.col("n_name"), F.col("n_name"), k, k,
            F.col("n_regionkey").cast("string"), k, k,
        ).alias("text"),
    )
    t = triples_only(extract_triples(pages, fixture_mode=True))
    return t.select(
        "s", "s_kind", "p", "o", "o_kind",
        F.col("o_datatype").alias("o_dt"), F.col("o_lang").alias("o_lg"),
    )


def _q_inlink_profile(spark, sf_dir):
    """Per-entity inlink descriptor (profiling.inlink_profile) over
    the full-grammar extraction corpus — entity popularity, distinct
    describers, dominant predicate with deterministic tie-break. FULL
    value oracle: the same aggregates over the SQL-regenerated corpus
    (tie-break replayed as row_number ORDER BY c DESC, p ASC)."""
    from tortank_spark.profiling import inlink_profile

    return inlink_profile(_q_extract_full(spark, sf_dir))


def _inlink_oracle_sql() -> str:
    return f"""
WITH corpus AS MATERIALIZED (
{_full_oracle_sql()}
),
ti AS MATERIALIZED (
  SELECT s, p, o AS iri FROM corpus WHERE o_kind = 'iri'
),
per_pred AS (
  SELECT iri, p, count(*) AS c FROM ti GROUP BY iri, p
),
top AS (
  SELECT iri, p AS top_pred, c AS top_pred_n FROM (
    SELECT iri, p, c,
           ROW_NUMBER() OVER (
             PARTITION BY iri ORDER BY c DESC, p ASC
           ) AS rn
    FROM per_pred
  ) WHERE rn = 1
),
agg AS (
  SELECT iri, count(*) AS n_inlinks,
         count(DISTINCT s) AS n_subjects,
         count(DISTINCT p) AS n_preds
  FROM ti GROUP BY iri
)
SELECT a.iri, a.n_inlinks, a.n_subjects, a.n_preds,
       t.top_pred, t.top_pred_n
FROM agg a JOIN top t ON a.iri = t.iri
"""


def _q_khop_sample(spark, sf_dir):
    """GraphSAGE-style deterministic 2-hop neighbor sampling (fanout
    3 then 2) over the directed supply KG (same edge set as
    kg_pagerank): the k smallest md5(src:dst) edges per node — a
    rerun- and engine-reproducible draw with no RNG state, sampled
    once per node and reused (sampling.khop_sample; salted tournament
    bounds celebrity-node sorts). FULL value oracle: one row_number
    ranking serves both fanouts because ranks are prefix-stable."""
    from tortank_spark.sampling import khop_sample

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("dst"),
    )
    ps = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    return khop_sample(cp.unionByName(ps).distinct(), fanouts=(3, 2))


_ORACLE_KHOP = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 'p:' || l_partkey, 's:' || l_suppkey FROM lineitem
  )
),
r AS (
  SELECT src, dst,
         row_number() OVER (
           PARTITION BY src ORDER BY md5(src || ':' || dst), dst
         ) AS rank
  FROM e
),
s1 AS (SELECT src AS root, dst AS n1, rank AS r1 FROM r WHERE rank <= 3),
s2 AS (SELECT src AS n1, dst AS n2, rank AS r2 FROM r WHERE rank <= 2)
SELECT s1.root, s1.n1, s1.r1, s2.n2, s2.r2
FROM s1 LEFT JOIN s2 ON s1.n1 = s2.n1
"""


def _q_collocations(spark, sf_dir):
    """Corpus collocations over documents: adjacent bigrams scored by
    the scaled-integer PMI proxy (textops.collocations, min_count=3).
    FULL value oracle: DuckDB rebuilds bigrams from 1-based list
    indexing and replays the DECIMAL product / integer quotient."""
    from tortank_spark.textops import collocations

    return collocations(_t(spark, sf_dir, "documents"), min_count=3)


_ORACLE_COLLOCATIONS = f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, {_sql_tokens("lower(text)")} AS l
  FROM documents
),
toks AS MATERIALIZED (SELECT unnest(l) AS tok FROM docs),
uni AS MATERIALIZED (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
total AS (SELECT count(*) AS n FROM toks),
big AS MATERIALIZED (
  SELECT a, b, count(*) AS n_xy FROM (
    SELECT d.l[i.i] AS a, d.l[i.i + 1] AS b
    FROM docs d, unnest(range(1, len(d.l))) AS i(i)
  ) GROUP BY a, b
  HAVING count(*) >= 3
)
SELECT big.a, big.b, big.n_xy, ua.c AS c_a, ub.c AS c_b,
       CAST(CAST(big.n_xy AS HUGEINT) * total.n * 1000000
            // (ua.c * ub.c) AS BIGINT) AS pmi_ppm
FROM big
JOIN uni ua ON big.a = ua.tok
JOIN uni ub ON big.b = ub.tok
CROSS JOIN total
"""


def _q_length_quantiles(spark, sf_dir):
    """Per-language token-count p50/p90/p99 over documents
    (textops.group_quantiles — integer percentile_disc, the
    truncation-budget report). FULL value oracle: DuckDB replays the
    row_number rank and the (q*n+99) DIV 100 cut."""
    from tortank_spark.textops import group_quantiles, token_count

    docs = _t(spark, sf_dir, "documents")
    return group_quantiles(
        docs, "lang", token_count(F.col("text")), (50, 90, 99)
    )


_ORACLE_LENGTH_QUANTILES = f"""
WITH tc AS (
  SELECT lang, len({_sql_tokens("text")}) AS v
  FROM documents
),
ranked AS (
  SELECT lang, v,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM tc
)
SELECT lang, q.q_pct, CAST(v AS INT) AS value
FROM ranked
CROSS JOIN (SELECT unnest([50, 90, 99]) AS q_pct) q
WHERE rn = (q.q_pct * n + 99) // 100
"""


def _q_boilerplate(spark, sf_dir):
    """Per-doc boilerplate share over documents, token units grouped
    by source (textops.boilerplate_stats: group-conditional document
    frequency, >= 2 docs AND >= 40% of the source's docs). FULL value
    oracle: DuckDB replays the cross-multiplied threshold and the
    integer share."""
    from tortank_spark.textops import boilerplate_stats

    return boilerplate_stats(
        _t(spark, sf_dir, "documents"), unit="token",
        min_docs=2, min_frac_ppm=400_000,
    )


_ORACLE_BOILERPLATE = f"""
WITH units AS MATERIALIZED (
  SELECT source AS g, doc_id, unnest({_sql_tokens("lower(text)")}) AS u
  FROM documents
),
udf_ AS MATERIALIZED (
  SELECT g, u, count(DISTINCT doc_id) AS ldf FROM units GROUP BY g, u
),
gn AS (SELECT source AS g, count(DISTINCT doc_id) AS gn
       FROM documents GROUP BY source),
boiler AS MATERIALIZED (
  SELECT udf_.g, udf_.u FROM udf_ JOIN gn ON udf_.g = gn.g
  WHERE ldf >= 2 AND ldf * 1000000 >= 400000 * gn.gn
)
SELECT u.doc_id, count(*) AS n_units,
       CAST(sum(CASE WHEN b.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       CAST(sum(CASE WHEN b.u IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS boiler_ppm
FROM units u
LEFT JOIN boiler b ON u.g = b.g AND u.u = b.u
GROUP BY u.doc_id
"""


def _q_predicate_stats(spark, sf_dir):
    """KG profiling: per-(predicate, object kind, datatype, lang)
    triple counts + distinct subject counts over the full-grammar
    extraction corpus — the schema-discovery report a KG build runs
    before writing partition specs (which predicates are dense, which
    carry typed literals vs IRIs vs bnodes). One aggregate over the
    extraction output; count(distinct s) is a two-phase hash agg.
    FULL value oracle: the same aggregate over the SQL-regenerated
    corpus."""
    return (
        _q_extract_full(spark, sf_dir)
        .groupBy("p", "o_kind", "o_dt", "o_lg")
        .agg(
            F.count("*").alias("n_triples"),
            F.countDistinct("s").alias("n_subjects"),
        )
    )


_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_NS = f"{EX}ns#"


def _full_oracle_sql() -> str:
    nk = "CAST(n_nationkey AS VARCHAR)"
    subj = f"'{EX}nation/' || {nk}"
    # (s, s_kind, p, o, o_kind, o_dt, o_lg) per row of the template parse
    motto = "'libert' || chr(233) || ' ' || chr(10) || ' ''' || n_name || ''''"
    rows = [
        (subj, "'iri'", f"'{_NS}name'", "n_name", "'literal'",
         f"'{XSD}string'", "NULL"),
        (subj, "'iri'", f"'{_NS}motto'", motto, "'literal'", "NULL", "'fr'"),
        (subj, "'iri'", f"'{_NS}pop'", "'30'", "'literal'",
         f"'{XSD}decimal'", "NULL"),
        (subj, "'iri'", f"'{_NS}frac'", "'0.0001663'", "'literal'",
         f"'{XSD}decimal'", "NULL"),
        (subj, "'iri'", f"'{_NS}big'", "'123456789012'", "'literal'",
         f"'{XSD}integer'", "NULL"),
        (subj, "'iri'", f"'{_NS}founded'", "'2021-01-01T10:10:10.000Z'",
         "'literal'", f"'{XSD}dateTime'", "NULL"),
        (subj, "'iri'", f"'{_NS}day'", "'2021-09-12'", "'literal'",
         f"'{XSD}date'", "NULL"),
        (subj, "'iri'", f"'{_NS}active'", "'true'", "'literal'",
         f"'{XSD}boolean'", "NULL"),
        ("'_:1'", "'bnode'", f"'{_RDF}first'", f"'t' || {nk}", "'literal'",
         f"'{XSD}string'", "NULL"),
        ("'_:2'", "'bnode'", f"'{_RDF}first'", f"'{EX}thing/' || {nk}",
         "'iri'", "NULL", "NULL"),
        ("'_:3'", "'bnode'", f"'{_RDF}first'", "'42'", "'literal'",
         f"'{XSD}integer'", "NULL"),
        ("'_:3'", "'bnode'", f"'{_RDF}rest'", f"'{_RDF}nil'", "'iri'",
         "NULL", "NULL"),
        ("'_:2'", "'bnode'", f"'{_RDF}rest'", "'_:3'", "'bnode'",
         "NULL", "NULL"),
        ("'_:1'", "'bnode'", f"'{_RDF}rest'", "'_:2'", "'bnode'",
         "NULL", "NULL"),
        (subj, "'iri'", f"'{_NS}tags'", "'_:1'", "'bnode'", "NULL", "NULL"),
        ("'_:4'", "'bnode'", f"'{_NS}rank'", "CAST(n_regionkey AS VARCHAR)",
         "'literal'", f"'{XSD}integer'", "NULL"),
        (subj, "'iri'", f"'{_NS}officer'", "'_:4'", "'bnode'",
         "NULL", "NULL"),
        (f"'_:chief' || {nk}", "'bnode'", f"'{_NS}serves'", subj, "'iri'",
         "NULL", "NULL"),
    ]
    selects = [
        f"SELECT {s} AS s, {sk} AS s_kind, {p} AS p, {o} AS o, "
        f"{ok} AS o_kind, {dt} AS o_dt, {lg} AS o_lg FROM nation"
        for (s, sk, p, o, ok, dt, lg) in rows
    ]
    return "\nUNION ALL\n".join(selects)


def _q_mm_resize(spark, sf_dir):
    """REAL area-average (box-filter) resize of the PPM/BMP fixture
    images to 16x8, pinned by a byte-sum checksum the DuckDB oracle
    recomputes from the pixel formula + the same fractional-coverage
    weight definition (audio/video rows are 'skipped' with NULL sum)."""
    from tortank_spark.multimodal import make_media_table, resize_images

    media = make_media_table(spark, n=32)
    return resize_images(media, width=16, height=8).join(
        media.select("media_id", "content_sha256"), "content_sha256"
    ).select("media_id", "out_width", "out_height", "resized_sum",
             "decode_ok")


# box filter twin: out cell (Y,X,c) = floor(0.5 + sum over source
# pixels of wy*wx*v) with wy = overlap(Y,y)/(h/8), wx = overlap(X,x)
# /(w/16) — the same expressions multimodal._box_weights evaluates.
_ORACLE_MM_RESIZE = """
WITH ids AS (SELECT i.range AS i FROM range(32) i),
img AS (
  SELECT i, 4 + (i % 4) * 2 AS w, 3 + ((i // 3) % 3) * 2 AS h
  FROM ids WHERE i % 3 = 0
),
oy AS (SELECT i, w, h, unnest(range(8)) AS oy FROM img),
ox AS (SELECT *, unnest(range(16)) AS ox FROM oy),
oc AS (SELECT *, unnest(range(3)) AS c FROM ox),
sy AS (SELECT *, unnest(range(h)) AS y FROM oc),
sx AS (SELECT *, unnest(range(w)) AS x FROM sy),
contrib AS (
  SELECT i, oy, ox, c,
         greatest(0.0, least(y + 1, (oy + 1) * (h / 8.0))
                       - greatest(y, oy * (h / 8.0))) / (h / 8.0)
         * (greatest(0.0, least(x + 1, (ox + 1) * (w / 16.0))
                          - greatest(x, ox * (w / 16.0))) / (w / 16.0))
         * ((i * 7 + ((y * w + x) * 3 + c) * 13) % 256) AS t
  FROM sx
),
cells AS (
  SELECT i, oy, ox, c,
         CAST(floor(sum(t) + 0.5) AS BIGINT) AS byte
  FROM contrib GROUP BY 1, 2, 3, 4
),
sums AS (SELECT i, sum(least(greatest(byte, 0), 255)) AS rsum
         FROM cells GROUP BY i)
SELECT i AS media_id, 16 AS out_width, 8 AS out_height,
       rsum AS resized_sum, 'ok' AS decode_ok
FROM sums
UNION ALL
SELECT i, 16, 8, NULL, 'skipped' FROM ids WHERE i % 3 <> 0
"""


def _q_mm_frames(spark, sf_dir):
    """Video frame-sampling fan-out (timestamps + indices are exact
    arithmetic; frame decode stubbed). FULL oracle: DuckDB regenerates
    the (video, timestamp) grid from the fixture's duration formula."""
    from tortank_spark.multimodal import make_media_table, sample_frames

    media = make_media_table(spark, n=32)
    return sample_frames(media).join(
        media.select("media_id", "content_sha256"), "content_sha256"
    ).select("media_id", "frame_idx", "frame_ts_ms", "decode_ok")


_ORACLE_MM_FRAMES = """
WITH vids AS (
  SELECT i.range AS i, 1000 * (i.range + 1) AS dur
  FROM range(32) i WHERE i.range % 3 = 2
),
fr AS (SELECT i, unnest(range(0, dur, 1000)) AS ts FROM vids)
SELECT i AS media_id, ts // 1000 AS frame_idx, ts AS frame_ts_ms,
       'stubbed' AS decode_ok
FROM fr
"""


def _q_key_skew(spark, sf_dir):
    """Exact heavy-hitter/skew report (profiling.key_skew) for
    lineitem.l_partkey — the join key every co-purchase graph query
    in this contract shuffles on, so this IS the measurement that
    would size its salting factor at 100 TB. Top-50 keys by exact
    count with deterministic (n desc, key asc) rank, integer-ppm
    shares, and the global max-over-mean skew ratio. FULL value
    oracle: DuckDB replays the count, the rank window, and the
    integer arithmetic."""
    from tortank_spark.profiling import key_skew

    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    return key_skew(li, "l_partkey", top_k=50)


_ORACLE_KEY_SKEW = """
WITH counts AS (
  SELECT CAST(l_partkey AS VARCHAR) AS key, count(*) AS n
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT sum(n) AS total_rows, count(*) AS n_keys, max(n) AS max_n
  FROM counts
),
ranked AS (
  SELECT key, n,
         row_number() OVER (ORDER BY n DESC, key ASC) AS rank
  FROM counts
)
SELECT r.key, r.n, r.rank,
       CAST(r.n * 1000000 // t.total_rows AS BIGINT) AS share_ppm,
       CAST(t.total_rows AS BIGINT) AS total_rows,
       CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(t.max_n * 1000000 * t.n_keys // t.total_rows AS BIGINT)
         AS skew_ppm
FROM ranked r CROSS JOIN tot t WHERE r.rank <= 50
"""


def _q_latest_facts(spark, sf_dir):
    """Crawl-freshness last-wins merge (freshness.latest_facts): the
    orders table read as an observation log — each order is a dated
    page asserting its customer's current order status — collapsed to
    the per-(subject, predicate) snapshot: newest observation wins,
    (ts, o, src) total order breaks same-day ties deterministically,
    plus first/last seen, observation count, and the distinct-object
    contestedness signal. FULL value oracle: DuckDB replays the
    winner window and the history aggregate."""
    from tortank_spark.freshness import latest_facts

    o = _t(spark, sf_dir, "orders")
    facts = o.select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("s"),
        F.lit("urn:rel:lastOrderStatus").alias("p"),
        F.col("o_orderstatus").alias("o"),
        F.concat(F.lit("urn:order:"), F.col("o_orderkey")).alias("src"),
        F.col("o_orderdate").alias("ts"),
    )
    return latest_facts(facts)


_ORACLE_LATEST_FACTS = """
WITH facts AS (
  SELECT 'c:' || o_custkey AS s,
         'urn:rel:lastOrderStatus' AS p,
         o_orderstatus AS o,
         'urn:order:' || o_orderkey AS src,
         o_orderdate AS ts
  FROM orders
),
win AS (
  SELECT s, p, o, src, ts,
         row_number() OVER (
           PARTITION BY s, p ORDER BY ts DESC, o DESC, src DESC
         ) AS rn
  FROM facts
),
hist AS (
  SELECT s, p, min(ts) AS first_seen, count(*) AS n_obs,
         count(DISTINCT o) AS n_distinct_o
  FROM facts GROUP BY s, p
)
SELECT w.s, w.p, w.o AS o_latest, w.src AS src_latest,
       w.ts AS last_seen, h.first_seen,
       CAST(h.n_obs AS BIGINT) AS n_obs,
       CAST(h.n_distinct_o AS BIGINT) AS n_distinct_o
FROM win w JOIN hist h ON w.s = h.s AND w.p = h.p
WHERE w.rn = 1
"""


def _q_harmonic(spark, sf_dir):
    """Seeded harmonic centrality (graph.harmonic_centrality) over
    the undirected part co-purchase graph (same edge derivation as
    kg_bfs_dist), seeds partkey < 10, depth <= 4: per node, the sum
    of scale DIV dist over the seeds that reach it — proximity-to-
    cohort ranking, the distance-based complement of kg_ppr. FULL
    value oracle: DuckDB recursive CTE explores per-seed (node, d)
    pairs, takes min(d), and replays the integer harmonic sum."""
    from tortank_spark.graph import harmonic_centrality

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = li.distinct()
    l1 = pairs.select("l_orderkey", F.col("l_partkey").alias("src"))
    l2 = pairs.select("l_orderkey", F.col("l_partkey").alias("dst"))
    e = l1.join(l2, "l_orderkey").filter(
        F.col("src") != F.col("dst")
    ).select("src", "dst")
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 10)
        .select(F.col("p_partkey").alias("node"))
    )
    return harmonic_centrality(e, seeds, max_depth=4)


_ORACLE_HARMONIC = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM pairs a JOIN pairs b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
walk(seed, node, d) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey < 10
  UNION
  SELECT walk.seed, e.dst, walk.d + 1
  FROM e JOIN walk ON e.src = walk.node
  WHERE walk.d < 4
),
md AS (
  SELECT seed, node, min(d) AS dist FROM walk GROUP BY seed, node
)
SELECT node, CAST(count(*) AS BIGINT) AS n_reached_from,
       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_ppm
FROM md WHERE dist > 0 GROUP BY node
"""


def _q_reciprocity(spark, sf_dir):
    """Per-node link reciprocity (graph.reciprocity) over a DIRECTED
    part-succession graph: within each order, an edge from the part
    at line n to the part at line n+1 (pick-sequence direction), so
    reciprocal pairs are successions observed in BOTH orders across
    the corpus — the reciprocal-linking ring detector re-expressed on
    the supply KG. FULL value oracle: DuckDB rebuilds the directed
    edge set and replays the reverse-match semi-join and the integer
    ppm arithmetic."""
    from tortank_spark.graph import reciprocity

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey")
    a = li.select("l_orderkey", F.col("l_linenumber").alias("n1"),
                  F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_linenumber").alias("n2"),
                  F.col("l_partkey").alias("dst"))
    e = a.join(b, "l_orderkey").filter(
        (F.col("n2") == F.col("n1") + 1)
        & (F.col("src") != F.col("dst"))
    ).select("src", "dst")
    return reciprocity(e)


_ORACLE_RECIPROCITY = """
WITH ed AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey
   AND b.l_linenumber = a.l_linenumber + 1
  WHERE a.l_partkey <> b.l_partkey
),
outd AS (SELECT a AS node, count(*) AS out_deg FROM ed GROUP BY a),
rec AS (
  SELECT e.a AS node, count(*) AS n_reciprocal
  FROM ed e
  WHERE EXISTS (SELECT 1 FROM ed r WHERE r.a = e.b AND r.b = e.a)
  GROUP BY e.a
)
SELECT o.node, CAST(o.out_deg AS BIGINT) AS out_deg,
       CAST(coalesce(r.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
       CAST(coalesce(r.n_reciprocal, 0) * 1000000 // o.out_deg
            AS BIGINT) AS recip_ppm
FROM outd o LEFT JOIN rec r ON o.node = r.node
"""


_SCHEMA_ORG = "http://schema.org/"
_RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _jsonld_pages(spark, sf_dir):
    """Deterministic page per customer row embedding ONE JSON-LD
    island (schema.org Person with a nested PostalAddress node, a
    language-tagged value object, and an integer property) — the
    north star's 'embedded JSON-LD in page text' input, synthesized
    with pure column exprs from the customer table so the oracle can
    reconstruct every expected triple in SQL."""
    return _jsonld_pages_from(_t(spark, sf_dir, "customer"))


def _jsonld_pages_from(customer):
    text = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@context": {"schema": "' + _SCHEMA_ORG + '", '
              '"@vocab": "' + EX + 'ns#"}, '
              '"@id": "' + EX + 'customer/'), F.col("c_custkey"),
        F.lit('", "@type": "schema:Person", '
              '"schema:name": "'), F.col("c_name"),
        F.lit('", "nationkey": '), F.col("c_nationkey"),
        F.lit(', "mktsegment": {"@value": "'), F.col("c_mktsegment"),
        F.lit('", "@language": "en"}, '
              '"address": {"@type": "schema:PostalAddress", '
              '"schema:postalCode": "Z'), F.col("c_custkey") % 100,
        F.lit('"}}</script></head><body>no rdf here</body></html>'),
    )
    return customer.select(
        F.concat(F.lit("urn:cust:"), F.col("c_custkey")).alias("url"),
        text.alias("text"),
    )


def _q_extract_jsonld(spark, sf_dir):
    """JSON-LD island extraction (jsonld.extract_jsonld): scoped
    JSON-LD 1.0 expansion — @context term/prefix/@vocab resolution,
    @id/@type, nested node -> per-doc blank node, @value/@language,
    JSON scalar typing — emitting the same flat triple tuples as the
    Turtle grammar. fixture_mode labels nested bnodes _:1 per doc
    (url keeps rows distinct), exactly as the oracle replays. FULL
    value oracle: DuckDB reconstructs all 7 triples per customer."""
    from tortank_spark.jsonld import extract_jsonld

    ext = extract_jsonld(_jsonld_pages(spark, sf_dir), fixture_mode=True)
    return ext.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        "url", "s", "p", "o",
        F.col("o_datatype").alias("o_dt"), F.col("o_lang"),
    )


_ORACLE_EXTRACT_JSONLD = f"""
WITH c AS (
  SELECT 'urn:cust:' || c_custkey AS url,
         '{EX}customer/' || c_custkey AS s,
         c_custkey, c_name, c_nationkey, c_mktsegment
  FROM customer
)
SELECT url, s, '{_RDF_TYPE_IRI}' AS p, '{_SCHEMA_ORG}Person' AS o,
       CAST(NULL AS VARCHAR) AS o_dt, CAST(NULL AS VARCHAR) AS o_lang
FROM c
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}name', c_name, '{XSD}string', NULL FROM c
UNION ALL
SELECT url, s, '{EX}ns#nationkey', CAST(c_nationkey AS VARCHAR),
       '{XSD}integer', NULL FROM c
UNION ALL
SELECT url, s, '{EX}ns#mktsegment', c_mktsegment, NULL, 'en' FROM c
UNION ALL
SELECT url, s, '{EX}ns#address', '_:1', NULL, NULL FROM c
UNION ALL
SELECT url, '_:1', '{_RDF_TYPE_IRI}', '{_SCHEMA_ORG}PostalAddress',
       NULL, NULL FROM c
UNION ALL
SELECT url, '_:1', '{_SCHEMA_ORG}postalCode', 'Z' || (c_custkey % 100),
       '{XSD}string', NULL FROM c
"""


def _rdfa_pages(spark, sf_dir):
    """Deterministic RDFa-Lite page per supplier row: vocab + prefix
    CURIEs, about/typeof subject, text-content literal, typed meta
    content, href IRI object, and a property+typeof chained blank
    node — the Lite attribute set over well-formed markup."""
    supplier = _t(spark, sf_dir, "supplier")
    text = F.concat(
        F.lit('<html><body vocab="' + _SCHEMA_ORG + '" '
              'prefix="ex: ' + EX + 'ns#">'
              '<div about="' + EX + 'supplier/'), F.col("s_suppkey"),
        F.lit('" typeof="Organization">'
              '<span property="name">'), F.col("s_name"),
        F.lit('</span>'
              '<meta property="ex:nationkey" content="'),
        F.col("s_nationkey"),
        F.lit('" datatype="' + XSD + 'integer">'
              '<a property="url" href="' + EX + 'org/'),
        F.col("s_suppkey"),
        F.lit('">homepage</a>'
              '<div property="ex:contact" typeof="ContactPoint">'
              '<span property="telephone" lang="en">tel-'),
        F.col("s_suppkey"), F.lit("-"), F.col("s_nationkey"),
        F.lit('</span></div></div></body></html>'),
    )
    return supplier.select(
        F.concat(F.lit("urn:supp:"), F.col("s_suppkey")).alias("url"),
        text.alias("text"),
    )


def _q_extract_rdfa(spark, sf_dir):
    """RDFa-Lite extraction (rdfa.extract_rdfa): single-pass HTML tag
    scanner with inherited vocab/prefix/lang state, about/typeof
    subjects, property objects from resource|href|content|text, and
    property+typeof blank-node chaining. FULL value oracle: DuckDB
    reconstructs all 7 triples per supplier (text-content literals
    replayed with the same explicit whitespace-normalization)."""
    from tortank_spark.rdfa import extract_rdfa

    ext = extract_rdfa(_rdfa_pages(spark, sf_dir), fixture_mode=True)
    return ext.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        "url", "s", "p", "o",
        F.col("o_datatype").alias("o_dt"), F.col("o_lang"),
    )


_ORACLE_EXTRACT_RDFA = f"""
WITH sup AS (
  SELECT 'urn:supp:' || s_suppkey AS url,
         '{EX}supplier/' || s_suppkey AS s,
         s_suppkey,
         trim(regexp_replace(s_name, '\\s+', ' ', 'g')) AS name_norm,
         s_nationkey,
         'tel-' || s_suppkey || '-' || s_nationkey AS phone_norm
  FROM supplier
)
SELECT url, s, '{_RDF_TYPE_IRI}' AS p, '{_SCHEMA_ORG}Organization' AS o,
       CAST(NULL AS VARCHAR) AS o_dt, CAST(NULL AS VARCHAR) AS o_lang
FROM sup
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}name', name_norm, '{XSD}string', NULL FROM sup
UNION ALL
SELECT url, s, '{EX}ns#nationkey', CAST(s_nationkey AS VARCHAR),
       '{XSD}integer', NULL FROM sup
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}url', '{EX}org/' || s_suppkey, NULL, NULL
FROM sup
UNION ALL
SELECT url, s, '{EX}ns#contact', '_:1', NULL, NULL FROM sup
UNION ALL
SELECT url, '_:1', '{_RDF_TYPE_IRI}', '{_SCHEMA_ORG}ContactPoint',
       NULL, NULL FROM sup
UNION ALL
SELECT url, '_:1', '{_SCHEMA_ORG}telephone', phone_norm, NULL, 'en'
FROM sup
"""


def _q_extract_delta(spark, sf_dir):
    """Recrawl KG diff (freshness.crawl_delta): two JSON-LD crawl
    snapshots of the customer pages — crawl v2 re-segments every
    third customer (mktsegment || '-v2') and has lost every seventh
    page entirely — extracted with the same island expander, then
    diffed to the added/removed triple feed in ONE shuffle (tag +
    union + max-per-side aggregate + XOR filter, NOT two anti-joins).
    FULL value oracle: DuckDB rebuilds both crawls' triple sets from
    the customer table and replays the set difference both ways."""
    from tortank_spark.freshness import crawl_delta
    from tortank_spark.jsonld import extract_jsonld

    customer = _t(spark, sf_dir, "customer")
    v2_cust = (
        customer.filter(F.col("c_custkey") % 7 != 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 3 == 0,
                   F.concat(F.col("c_mktsegment"), F.lit("-v2")))
            .otherwise(F.col("c_mktsegment")),
        )
    )

    def good(pages):
        ext = extract_jsonld(pages, fixture_mode=True)
        return ext.filter(
            F.col("parse_ok") & F.col("s").isNotNull()
        ).select("url", "s", "p", "o",
                 F.col("o_datatype").alias("o_dt"), F.col("o_lang"))

    old = good(_jsonld_pages_from(customer))
    new = good(_jsonld_pages_from(v2_cust))
    return crawl_delta(old, new)


_ORACLE_EXTRACT_DELTA = f"""
WITH dropped AS (
  SELECT url, s, p, o, o_dt, o_lang
  FROM ({_ORACLE_EXTRACT_JSONLD}) j
  WHERE CAST(regexp_extract(url, 'urn:cust:(\\d+)', 1) AS BIGINT) % 7 = 0
),
seg AS (
  SELECT 'urn:cust:' || c_custkey AS url,
         '{EX}customer/' || c_custkey AS s,
         '{EX}ns#mktsegment' AS p, c_mktsegment
  FROM customer
  WHERE c_custkey % 7 <> 0 AND c_custkey % 3 = 0
)
SELECT 'removed' AS change, url, s, p, o, o_dt, o_lang FROM dropped
UNION ALL
SELECT 'removed', url, s, p, c_mktsegment,
       CAST(NULL AS VARCHAR), 'en' FROM seg
UNION ALL
SELECT 'added', url, s, p, c_mktsegment || '-v2',
       CAST(NULL AS VARCHAR), 'en' FROM seg
"""


def _q_extract_embedded(spark, sf_dir):
    """Unified embedded-KG extraction over a MIXED corpus — the north
    star's literal phrase 'embedded RDFa/JSON-LD/Turtle in page text'
    as one operator (extract.extract_embedded): Turtle pages from
    nation, JSON-LD pages from customer, RDFa pages from supplier,
    one union of flat triples tagged with the source syntax. Each
    syntax path is the same Arrow stage as its standalone query; the
    union is plan-level (no shuffle added). FULL value oracle: the
    union of the three reconstructions."""
    from tortank_spark.extract import extract_embedded

    pages = _fan(
        _nation_pages(spark, sf_dir)
        .unionByName(_jsonld_pages(spark, sf_dir))
        .unionByName(_rdfa_pages(spark, sf_dir))
    )
    t = extract_embedded(pages, fixture_mode=True)
    return t.select(
        "syntax", "url", "s", "p", "o",
        F.col("o_datatype").alias("o_dt"), F.col("o_lang"),
    )


_ORACLE_EXTRACT_EMBEDDED = f"""
SELECT 'turtle' AS syntax, 'urn:nation:' || n_nationkey AS url,
       '{EX}nation/' || n_nationkey AS s, '{EX}ns#name' AS p,
       n_name AS o, '{XSD}string' AS o_dt, CAST(NULL AS VARCHAR) AS o_lang
FROM nation
UNION ALL
SELECT 'turtle', 'urn:nation:' || n_nationkey,
       '{EX}nation/' || n_nationkey, '{EX}ns#regionkey',
       CAST(n_regionkey AS VARCHAR), '{XSD}integer', NULL
FROM nation
UNION ALL
SELECT 'jsonld', url, s, p, o, o_dt, o_lang
FROM ({_ORACLE_EXTRACT_JSONLD})
UNION ALL
SELECT 'rdfa', url, s, p, o, o_dt, o_lang
FROM ({_ORACLE_EXTRACT_RDFA})
"""


def _q_extract_microdata(spark, sf_dir):
    """HTML microdata extraction (microdata.extract_microdata): the
    4th embedded syntax — itemscope/itemtype/itemprop with itemid
    subjects, vocabulary-relative property IRIs from the first
    itemtype (the microdata-to-RDF note's propertyURI=vocabulary
    rule), itemprop+itemscope chaining to a per-doc blank node, and
    href/content/text value positions. Page per part row (schema.org
    Product with a nested Brand item). FULL value oracle: DuckDB
    reconstructs all 8 triples per part."""
    from tortank_spark.microdata import extract_microdata

    part = _t(spark, sf_dir, "part")
    text = F.concat(
        F.lit('<html><body>'
              '<div itemscope itemtype="' + _SCHEMA_ORG + 'Product" '
              'itemid="' + EX + 'part/'), F.col("p_partkey"),
        F.lit('"><span itemprop="name">'), F.col("p_name"),
        F.lit('</span><meta itemprop="size" content="'),
        F.col("p_size"),
        F.lit('"><a itemprop="url" href="' + EX + 'p/'),
        F.col("p_partkey"),
        F.lit('">see</a>'
              '<div itemprop="brand" itemscope itemtype="'
              + _SCHEMA_ORG + 'Brand">'
              '<span itemprop="name">'), F.col("p_brand"),
        F.lit('</span></div>'
              '<span itemprop="http://purl.org/dc/terms/type">'),
        F.col("p_type"),
        F.lit('</span></div></body></html>'),
    )
    pages = part.select(
        F.concat(F.lit("urn:part:"), F.col("p_partkey")).alias("url"),
        text.alias("text"),
    )
    ext = extract_microdata(pages, fixture_mode=True)
    return ext.filter(F.col("parse_ok") & F.col("s").isNotNull()).select(
        "url", "s", "p", "o",
        F.col("o_datatype").alias("o_dt"), F.col("o_kind"),
    )


_ORACLE_EXTRACT_MICRODATA = f"""
WITH p AS (
  SELECT 'urn:part:' || p_partkey AS url,
         '{EX}part/' || p_partkey AS s,
         p_partkey,
         trim(regexp_replace(p_name, '\\s+', ' ', 'g')) AS name_norm,
         trim(regexp_replace(p_brand, '\\s+', ' ', 'g')) AS brand_norm,
         trim(regexp_replace(p_type, '\\s+', ' ', 'g')) AS type_norm,
         p_size
  FROM part
)
SELECT url, s, '{_RDF_TYPE_IRI}' AS p, '{_SCHEMA_ORG}Product' AS o,
       CAST(NULL AS VARCHAR) AS o_dt, 'iri' AS o_kind
FROM p
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}name', name_norm, '{XSD}string', 'literal'
FROM p
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}size', CAST(p_size AS VARCHAR),
       '{XSD}string', 'literal' FROM p
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}url', '{EX}p/' || p_partkey, NULL, 'iri'
FROM p
UNION ALL
SELECT url, s, '{_SCHEMA_ORG}brand', '_:1', NULL, 'bnode' FROM p
UNION ALL
SELECT url, '_:1', '{_RDF_TYPE_IRI}', '{_SCHEMA_ORG}Brand', NULL, 'iri'
FROM p
UNION ALL
SELECT url, '_:1', '{_SCHEMA_ORG}name', brand_norm, '{XSD}string',
       'literal' FROM p
UNION ALL
SELECT url, s, 'http://purl.org/dc/terms/type', type_norm,
       '{XSD}string', 'literal' FROM p
"""


def _link_pages(spark, sf_dir):
    """Deterministic order pages: each order page lives on its
    customer's shop host and carries one <a> per lineitem to the
    part's catalog host (anchor 'part <pk>') plus a host-relative
    /account link (anchor 'me')."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    links_html = li.select(
        "l_orderkey",
        F.concat(
            F.lit('<a href="http://part-'), F.col("l_partkey") % 20,
            F.lit('.cat.example/p/'), F.col("l_partkey"),
            F.lit('">part '), F.col("l_partkey"), F.lit("</a>"),
        ).alias("tag"),
    )
    body = links_html.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("tag")), "").alias("links")
    )
    return (
        o.join(body, o["o_orderkey"] == body["l_orderkey"])
        .select(
            F.concat(
                F.lit("http://cust-"), F.col("o_custkey") % 100,
                F.lit(".shop.example/o/"), F.col("o_orderkey"),
            ).alias("url"),
            F.concat(
                F.lit('<html><body><a href="/account">me</a>'),
                F.col("links"), F.lit("</body></html>"),
            ).alias("text"),
        )
    )


def _q_link_graph(spark, sf_dir):
    """Host-level web link graph (weblinks.extract_links +
    host_link_graph) over the synthetic order pages: the self-host
    /account link is excluded from the inter-host graph; anchors and
    rel carried through the shared HTML scanner; the rollup is ONE
    shuffle on the host pair. FULL value oracle: DuckDB rebuilds the
    edge counts straight from orders x lineitem."""
    from tortank_spark.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_link_pages(spark, sf_dir)))
    return g.select("src_host", "dst_host", "n_links", "n_pages")


_ORACLE_LINK_GRAPH = """
SELECT 'cust-' || (o_custkey % 100) || '.shop.example' AS src_host,
       'part-' || (l_partkey % 20) || '.cat.example' AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_pages
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def _q_anchor_aliases(spark, sf_dir):
    """Anchor-text alias candidates (weblinks.anchor_alias_candidates)
    over the same order pages: the web's entity-naming signal — how
    pages refer to each link target — rolled up per (alias, dst) with
    link counts and the distinct-linking-host anti-spam weight, the
    feed for linking.py's broadcast alias dictionary. min_count=2
    prunes singletons. FULL value oracle: DuckDB rebuilds both the
    part-anchor and /account-anchor populations from orders x
    lineitem."""
    from tortank_spark.weblinks import anchor_alias_candidates, extract_links

    out = anchor_alias_candidates(
        extract_links(_link_pages(spark, sf_dir)), min_count=2)
    return out.select("alias", "dst", "n_links", "n_hosts")


_ORACLE_ANCHOR_ALIASES = """
WITH part_links AS (
  SELECT 'part ' || l_partkey AS alias,
         'http://part-' || (l_partkey % 20) || '.cat.example/p/'
           || l_partkey AS dst,
         'cust-' || (o_custkey % 100) || '.shop.example' AS src_host
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
account_links AS (
  -- only orders WITH lineitems get a page (the Spark side inner-joins
  -- the per-order link body), so lineitem-less orders emit nothing
  SELECT 'me' AS alias,
         'http://cust-' || (o_custkey % 100)
           || '.shop.example/account' AS dst,
         'cust-' || (o_custkey % 100) || '.shop.example' AS src_host
  FROM orders
  WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
),
allx AS (
  SELECT * FROM part_links UNION ALL SELECT * FROM account_links
)
SELECT alias, dst, CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT src_host) AS BIGINT) AS n_hosts
FROM allx GROUP BY alias, dst HAVING count(*) >= 2
"""


def _q_triple_score(spark, sf_dir):
    """TransE knowledge-base-completion scoring (sampling.transe_score)
    over deterministic candidate facts: entities = the embeddings
    table keyed by vec_id, relations = vec_ids 0-2, candidates
    (h, r, t) = heads vec_id<50 x 3 relations with
    t = (7h + 13r + 1) mod n. Squared-L2 energy in doubles, rounded
    to 6 dp. FULL value oracle: DuckDB replays the elementwise
    fold with explicit double casts over the same float32 vectors."""
    from tortank_spark.sampling import transe_score

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    heads = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("h"))
    rels = spark.range(3).select(F.col("id").alias("r"))
    cand = heads.crossJoin(rels).select(
        "h", "r",
        ((F.col("h") * 7 + F.col("r") * 13 + 1) % F.lit(n)).alias("t"),
    )
    relations = emb.filter(F.col("vec_id") < 3)
    return transe_score(cand, emb, relations).select(
        "h", "r", "t", "score")


_ORACLE_TRIPLE_SCORE = """
WITH n AS (SELECT count(*) AS n FROM embeddings),
cand AS (
  SELECT e.vec_id AS h, r.r AS r,
         (e.vec_id * 7 + r.r * 13 + 1) % n.n AS t
  FROM embeddings e, (VALUES (0), (1), (2)) r(r), n
  WHERE e.vec_id < 50
)
SELECT c.h, CAST(c.r AS BIGINT) AS r, c.t,
       round(list_sum(list_transform(
         list_zip(eh.embedding, er.embedding, et.embedding),
         x -> pow(CAST(x[1] AS DOUBLE) + CAST(x[2] AS DOUBLE)
                  - CAST(x[3] AS DOUBLE), 2))), 6) AS score
FROM cand c
JOIN embeddings eh ON eh.vec_id = c.h
JOIN embeddings er ON er.vec_id = c.r
JOIN embeddings et ON et.vec_id = c.t
"""


def _q_shacl_validate(spark, sf_dir):
    """SHACL-lite publish gate (reasoning.shacl_validate) over the
    JSON-LD-extracted customer KG: shapes target schema:Person with a
    missing-required-property check (schema:email minCount 1 — fires
    via the left join, the absent-property case), a forbidden-property
    check (address maxCount 0), a datatype mismatch (nationkey
    declared xsd:decimal but extracted xsd:integer), a lang-literal vs
    datatype mismatch (mktsegment declared xsd:string but extracted
    @en), and a PASSING name shape that must emit nothing. FULL value
    oracle: DuckDB replays all four violation populations in closed
    form from the customer table."""
    from tortank_spark.jsonld import extract_jsonld
    from tortank_spark.reasoning import shacl_validate

    ext = extract_jsonld(_jsonld_pages(spark, sf_dir), fixture_mode=True)
    triples = ext.filter(F.col("parse_ok") & F.col("s").isNotNull())
    shapes = spark.createDataFrame(
        [
            ("sh_email", _SCHEMA_ORG + "Person", _SCHEMA_ORG + "email",
             1, None, None, None),
            ("sh_addr", _SCHEMA_ORG + "Person", EX + "ns#address",
             None, 0, None, None),
            ("sh_natk", _SCHEMA_ORG + "Person", EX + "ns#nationkey",
             None, None, XSD + "decimal", None),
            ("sh_seg", _SCHEMA_ORG + "Person", EX + "ns#mktsegment",
             None, None, XSD + "string", None),
            ("sh_name", _SCHEMA_ORG + "Person", _SCHEMA_ORG + "name",
             1, None, XSD + "string", None),
        ],
        "shape_id string, target_class string, path string, "
        "min_count int, max_count int, datatype string, node_kind string",
    )
    return shacl_validate(triples, shapes).select(
        "s", "shape_id", "code", "expected", "got")


_ORACLE_SHACL = f"""
WITH c AS (SELECT '{EX}customer/' || c_custkey AS s FROM customer)
SELECT s, 'sh_email' AS shape_id, 'minCount' AS code,
       '1' AS expected, '0' AS got FROM c
UNION ALL
SELECT s, 'sh_addr', 'maxCount', '0', '1' FROM c
UNION ALL
SELECT s, 'sh_natk', 'datatype', '{XSD}decimal', '{XSD}integer' FROM c
UNION ALL
SELECT s, 'sh_seg', 'datatype', '{XSD}string', 'literal' FROM c
"""


def _q_triangles_sampled(spark, sf_dir):
    """DOULION sampled triangle count (graph.triangle_count_sampled)
    over the part co-purchase graph (same edge derivation as
    kg_clustering), p = 0.2 via the deterministic md5 edge gate —
    the 100-TB scale path next to the exact counter (BASELINE.md
    measures the exact wedge stage at ~124 s on sf0.1; the sample
    cuts the wedge work ~p^1.5 and the estimator scales by 1/p^3).
    FULL value oracle: DuckDB replays the gate byte-for-byte and
    counts triangles on the sampled subgraph with an a<b<c triple
    join."""
    from tortank_spark.graph import triangle_count_sampled

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = li.distinct()
    l1 = pairs.select("l_orderkey", F.col("l_partkey").alias("src"))
    l2 = pairs.select("l_orderkey", F.col("l_partkey").alias("dst"))
    e = l1.join(l2, "l_orderkey").filter(
        F.col("src") < F.col("dst")).select("src", "dst")
    return triangle_count_sampled(e, p_ppm=200_000)


_ORACLE_TRIANGLES_SAMPLED = """
WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
canon AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM pairs a JOIN pairs b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
kept AS (
  SELECT a, b FROM canon
  WHERE CAST(concat('0x', substr(
          md5('doulion:' || a || ':' || b), 1, 15)) AS UBIGINT)
        % 1000000 < 200000
),
tri AS (
  SELECT count(*) AS t
  FROM kept e1
  JOIN kept e2 ON e2.a = e1.b
  JOIN kept e3 ON e3.a = e1.a AND e3.b = e2.b
),
ke AS (SELECT count(*) AS n_edges_kept FROM kept)
SELECT CAST(200000 AS BIGINT) AS p_ppm,
       CAST(ke.n_edges_kept AS BIGINT) AS n_edges_kept,
       CAST(tri.t AS BIGINT) AS n_tri_sampled,
       CAST(tri.t * CAST(1000000 AS HUGEINT) * 1000000 * 1000000
            // (CAST(200000 AS HUGEINT) * 200000 * 200000)
            AS BIGINT) AS est_n_tri
FROM tri, ke
"""


def _q_text_chunks(spark, sf_dir):
    """Sliding-window passage chunking (textops.chunk_windows) over
    the documents corpus, size=64 / overlap=16 — the RAG/pretraining
    passage-prep step, pure whole-stage-codegen column expressions
    (split + sequence + posexplode + slice), no Python, no shuffle.
    FULL value oracle: DuckDB replays every window (starts, slices,
    token counts, joined text) with list functions."""
    from tortank_spark.textops import chunk_windows

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_windows(docs, "doc_id", "text", size=64, overlap=16)


_ORACLE_TEXT_CHUNKS = f"""
WITH d AS (
  SELECT doc_id AS id, {_sql_tokens("text")} AS toks FROM documents
),
s AS (
  SELECT id, toks,
         unnest(generate_series(
           0, greatest(len(toks) - 16 - 1, 0), 48)) AS start
  FROM d WHERE len(toks) > 0
)
SELECT id,
       CAST(start // 48 AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + 64), ' ')
         AS chunk_text
FROM s
"""


def _q_robots_filter(spark, sf_dir):
    """Robots-exclusion fetch gate (weburl.robots_filter): every part
    catalog host publishes Disallow /p/1 (a PREFIX — it also blocks
    /p/10..19, /p/100.., per RFC 9309 prefix semantics) plus a longer
    Allow /p/12 that re-permits its subtree, with Allow / as the
    default rule; longest match wins, Allow beats Disallow on ties.
    FULL value oracle: DuckDB replays the longest-prefix decision in
    closed form over the part table."""
    from tortank_spark.weburl import robots_filter

    part = _t(spark, sf_dir, "part")
    urls = part.select(
        F.concat(F.lit("http://part-"), F.col("p_partkey") % 20,
                 F.lit(".cat.example/p/"), F.col("p_partkey")).alias("url")
    )
    hosts = spark.range(20).select(
        F.concat(F.lit("part-"), F.col("id"),
                 F.lit(".cat.example")).alias("host"))
    directives = spark.createDataFrame(
        [("/", True), ("/p/1", False), ("/p/12", True)],
        "path_prefix string, allow boolean")
    rules = hosts.crossJoin(directives)
    return robots_filter(urls, rules).select("url", "rule_path", "allowed")


_ORACLE_ROBOTS = """
SELECT 'http://part-' || (p_partkey % 20) || '.cat.example/p/'
         || p_partkey AS url,
       CASE WHEN ('/p/' || p_partkey) LIKE '/p/12%' THEN '/p/12'
            WHEN ('/p/' || p_partkey) LIKE '/p/1%' THEN '/p/1'
            ELSE '/' END AS rule_path,
       CASE WHEN ('/p/' || p_partkey) LIKE '/p/12%' THEN TRUE
            WHEN ('/p/' || p_partkey) LIKE '/p/1%' THEN FALSE
            ELSE TRUE END AS allowed
FROM part
"""


def _q_host_components(spark, sf_dir):
    """Web-graph product composed with canonicalization: the host
    link graph (weblinks) fed into connected_components, returning
    per-host (host, component, n_hosts_in_component) — the "site
    cluster" report a crawl planner partitions fetch capacity by,
    and the composition proof that the web-graph stage and the KG
    canonicalization stage share one edge vocabulary. FULL value
    oracle: DuckDB rebuilds the host edges from orders x lineitem and
    replays reachability with a recursive CTE + min-per-component."""
    from tortank_spark.canonicalize import connected_components
    from tortank_spark.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_link_pages(spark, sf_dir)))
    edges = g.select(F.col("src_host").alias("src"),
                     F.col("dst_host").alias("dst"))
    comp = connected_components(edges)
    sizes = comp.groupBy("canonical").agg(
        F.count("*").alias("n_hosts_in_component"))
    return (
        comp.join(sizes, "canonical")
        .select(F.col("iri").alias("host"),
                F.col("canonical").alias("component"),
                "n_hosts_in_component")
    )


_ORACLE_HOST_COMPONENTS = """
WITH RECURSIVE he AS (
  SELECT DISTINCT
         'cust-' || (o_custkey % 100) || '.shop.example' AS src,
         'part-' || (l_partkey % 20) || '.cat.example' AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
und AS (
  SELECT src AS a, dst AS b FROM he
  UNION SELECT dst, src FROM he
),
nodes AS (SELECT DISTINCT a AS n FROM und),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, u.b FROM reach r JOIN und u ON u.a = r.m
),
comp AS (SELECT n AS host, min(m) AS component FROM reach GROUP BY n),
sz AS (
  SELECT component, count(*) AS n_hosts_in_component
  FROM comp GROUP BY component
)
SELECT c.host, c.component, CAST(sz.n_hosts_in_component AS BIGINT)
         AS n_hosts_in_component
FROM comp c JOIN sz USING (component)
"""


def _q_embedded_metrics(spark, sf_dir):
    """Per-syntax observability rollup of the fused extractor: one
    row per embedded syntax with contributing-page and triple counts
    over the mixed corpus — the extraction-monitoring view a crawl
    operator watches (a syntax's share collapsing between crawls is
    the markup-drift alarm). One aggregate on the fused stage's
    output; no second scan. FULL value oracle: counts over the three
    reconstructions."""
    from tortank_spark.extract import extract_embedded

    pages = _fan(
        _nation_pages(spark, sf_dir)
        .unionByName(_jsonld_pages(spark, sf_dir))
        .unionByName(_rdfa_pages(spark, sf_dir))
    )
    t = extract_embedded(pages, fixture_mode=True)
    return t.groupBy("syntax").agg(
        F.countDistinct("url").alias("n_pages"),
        F.count("*").alias("n_triples"),
    )


_ORACLE_EMBEDDED_METRICS = f"""
SELECT syntax, CAST(count(DISTINCT url) AS BIGINT) AS n_pages,
       CAST(count(*) AS BIGINT) AS n_triples
FROM ({_ORACLE_EXTRACT_EMBEDDED})
GROUP BY syntax
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_extract_turtle": _q_extract_turtle,
        "kg_extract_full": _q_extract_full,
        "kg_predicate_stats": _q_predicate_stats,
        "kg_inlink_profile": _q_inlink_profile,
        "kg_khop_sample": _q_khop_sample,
        "kg_skolemize": _q_skolemize,
        "kg_ntriples_render": _q_ntriples_render,
        "s3_src_ntriples": _q_src_ntriples,
        "s4_src_rdfjson": _q_src_rdfjson,
        "s6_sink_ntriples": _q_sink_ntriples,
        "s8_turtle_pretty": _q_turtle_pretty,
        "s9_sink_rdfjson": _q_sink_rdfjson,
        "r6_add_statement": _q_add_statement,
        "r10_add_prefixes": _q_add_prefixes,
        "stream_ingest": _q_stream_ingest,
        "stream_dedup": _q_stream_dedup,
        "dedup_minhash_verified": _q_minhash_verified,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_embedding": _q_embedding_neardup,
        "dedup_embedding_lsh": _q_embedding_neardup_lsh,
        "sim_lsh_recall": _q_lsh_recall,
        "kg_connected_components": _q_connected_components,
        "kg_triangles": _q_triangles,
        "kg_clustering": _q_clustering,
        "kg_pagerank": _q_pagerank,
        "kg_ppr": _q_ppr,
        "kg_hits": _q_hits,
        "kg_random_walks": _q_random_walks,
        "kg_coref_jaccard": _q_coref_jaccard,
        "kg_fuzzy_alias": _q_fuzzy_alias,
        "kg_label_prop": _q_label_prop,
        "kg_kcore": _q_kcore,
        "kg_transitive_closure": _q_transitive_closure,
        "kg_bfs_dist": _q_bfs_dist,
        "kg_negative_sample": _q_negative_sample,
        "kg_rdfs_entail": _q_rdfs_entail,
        "kg_schema_summary": _q_schema_summary,
        "kg_sameas_canonicalize": _q_sameas_canonicalize,
        "kg_entity_link": _q_entity_link,
        "kg_entity_cooccur": _q_entity_cooccur,
        "r1_pattern_filter": _q_pattern_filter,
        "r2_parse_pattern": _q_parse_pattern,
        "r11_bgp_join": _q_bgp_join,
        "r3_difference": _q_difference,
        "r4_intersection": _q_intersection,
        "r5_union_dedup": _q_union_dedup,
        "r7_all_subjects": _q_all_subjects,
        "r8_count_statements": _q_count,
        "r9_subject_group": _q_subject_group,
        "q1_pricing_summary": _q_pricing_summary,
        "q3_top_revenue": _q_top_revenue,
        "dedup_exact": _q_exact_dedup,
        "dedup_minhash_lsh": _q_minhash_neardup,
        "dedup_simhash": _q_simhash,
        "text_token_count": _q_token_count,
        "text_fingerprint": _q_doc_fingerprint,
        "text_winnow": _q_winnow_fingerprint,
        "dedup_winnow": _q_winnow_neardup,
        "text_winnow_spans": _q_winnow_spans,
        "text_contamination": _q_contamination,
        "text_sample_stratified": _q_stratified_sample,
        "text_split_assign": _q_split_assign,
        "text_collocations": _q_collocations,
        "text_boilerplate": _q_boilerplate,
        "text_length_quantiles": _q_length_quantiles,
        "text_quality": _q_quality,
        "text_salient_terms": _q_salient_terms,
        "text_tfidf_topk": _q_tfidf_topk,
        "text_filter_decision": _q_filter_decision,
        "text_redact_pii": _q_redact_pii,
        "text_repetition": _q_repetition,
        "web_url_normalize": _q_url_normalize,
        "web_domain_rollup": _q_domain_rollup,
        "text_lang_id": _q_lang_id,
        "sim_topk_cosine": _q_topk_cosine,
        "events_windowed_agg": _q_events_windowed,
        "events_sessionize": _q_sessionize,
        "events_asof_join": _q_events_asof,
        "events_scd2_history": _q_scd2_history,
        "storage_zorder_key": _q_zorder_key,
        "sim_lsh_ann": _q_lsh_ann,
        "sim_ivf_ann": _q_ivf_ann,
        "sim_kmeans": _q_kmeans,
        "mm_features": _q_multimodal_features,
        "mm_resize": _q_mm_resize,
        "mm_frames": _q_mm_frames,
        "prof_key_skew": _q_key_skew,
        "kg_latest_facts": _q_latest_facts,
        "kg_harmonic": _q_harmonic,
        "kg_reciprocity": _q_reciprocity,
        "kg_extract_jsonld": _q_extract_jsonld,
        "kg_extract_rdfa": _q_extract_rdfa,
        "kg_extract_embedded": _q_extract_embedded,
        "kg_extract_delta": _q_extract_delta,
        "kg_extract_microdata": _q_extract_microdata,
        "web_link_graph": _q_link_graph,
        "web_anchor_aliases": _q_anchor_aliases,
        "kg_triple_score": _q_triple_score,
        "kg_shacl_validate": _q_shacl_validate,
        "kg_triangles_sampled": _q_triangles_sampled,
        "text_chunks": _q_text_chunks,
        "web_robots_filter": _q_robots_filter,
        "web_host_components": _q_host_components,
        "kg_embedded_metrics": _q_embedded_metrics,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_extract_turtle": _ORACLE_EXTRACT,
        "kg_extract_full": _full_oracle_sql(),
        "kg_predicate_stats": f"""
            SELECT p, o_kind, o_dt, o_lg, count(*) AS n_triples,
                   count(DISTINCT s) AS n_subjects
            FROM ({_full_oracle_sql()}) GROUP BY 1, 2, 3, 4
        """,
        "kg_inlink_profile": _inlink_oracle_sql(),
        "kg_khop_sample": _ORACLE_KHOP,
        "kg_skolemize": _ORACLE_SKOLEM,
        "kg_ntriples_render": _ORACLE_NTRIPLES,
        "s3_src_ntriples": _ORACLE_EXTRACT,
        "s4_src_rdfjson": _ORACLE_EXTRACT,
        "s6_sink_ntriples": _ORACLE_NTRIPLES,
        "s8_turtle_pretty": _ORACLE_TURTLE_PRETTY,
        "s9_sink_rdfjson": _ORACLE_SINK_RDFJSON,
        "r6_add_statement": """
            SELECT DISTINCT 'urn:user:' || user_id AS s, 'urn:did' AS p,
                   event_type AS o
            FROM events WHERE event_type = 'click'
            UNION
            SELECT 'urn:user:added' AS s, 'urn:did' AS p, 'signup' AS o
        """,
        "r10_add_prefixes": _ORACLE_EXTRACT,
        "stream_ingest": _ORACLE_EXTRACT,
        "stream_dedup": _ORACLE_STREAM_DEDUP,
        "dedup_minhash_verified": _ORACLE_MINHASH_VERIFIED,
        "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
        "dedup_ngram_jaccard": _ORACLE_NGRAM_JACCARD,
        "dedup_minhash_lsh": _minhash_truth_sql(0.5),
        "dedup_simhash": _ORACLE_SIMHASH,
        "dedup_embedding": _ORACLE_EMB_NEARDUP,
        "dedup_embedding_lsh": _emb_lsh_oracle_sql(),
        "sim_lsh_ann": _lsh_ann_oracle_sql(),
        "sim_lsh_recall": (
            "SELECT 10 AS k, true AS recall_ok, true AS pruned"
        ),
        # deterministic assertion row (seeded k-means + fixed corpus):
        # recall@10 of the build-once IVF index path over the pinned
        # floor, and the probe's scan certified partition-pruned
        "sim_ivf_ann": (
            "SELECT 10 AS k, true AS recall_ok, true AS pruned_read"
        ),
        "sim_kmeans": _ORACLE_KMEANS,
        "kg_connected_components": _ORACLE_CC,
        "kg_triangles": _ORACLE_TRIANGLES,
        "kg_clustering": _ORACLE_CLUSTERING,
        "kg_pagerank": _ORACLE_PAGERANK,
        "kg_ppr": _ORACLE_PPR,
        "kg_hits": _ORACLE_HITS,
        "kg_random_walks": _ORACLE_RANDOM_WALKS,
        "kg_coref_jaccard": _ORACLE_COREF_JACCARD,
        "kg_fuzzy_alias": _ORACLE_FUZZY_ALIAS,
        "kg_label_prop": _ORACLE_LABEL_PROP,
        "kg_kcore": _ORACLE_KCORE,
        "kg_transitive_closure": _ORACLE_TRANSITIVE_CLOSURE,
        "kg_bfs_dist": _ORACLE_BFS_DIST,
        "kg_negative_sample": _ORACLE_NEGATIVE_SAMPLE,
        "kg_rdfs_entail": _ORACLE_RDFS_ENTAIL,
        "kg_schema_summary": _oracle_schema_summary(),
        "kg_sameas_canonicalize": _ORACLE_SAMEAS_CANON,
        "kg_entity_link": f"""
            WITH alias_dict(alias, entity_iri, prior) AS (VALUES {_ALIAS_VALUES}),
            toks AS (
              SELECT 'urn:doc:' || doc_id AS url, t.tok AS mention
              FROM documents,
                   unnest(regexp_split_to_array(lower(text), '{MENTION_SPLIT}')) AS t(tok)
              WHERE length(t.tok) >= 3
            ),
            tf AS (SELECT url, mention, count(*) AS tf FROM toks GROUP BY 1, 2)
            SELECT url, mention, entity_iri,
                   round(prior * (1.0 + ln(1.0 + tf)), 6) AS score
            FROM tf JOIN alias_dict ON mention = alias
        """,
        "kg_entity_cooccur": f"""
            WITH alias_dict(alias, entity_iri, prior) AS (VALUES {_ALIAS_VALUES}),
            toks AS (
              SELECT 'urn:doc:' || doc_id AS url, t.tok AS mention
              FROM documents,
                   unnest(regexp_split_to_array(lower(text), '{MENTION_SPLIT}')) AS t(tok)
              WHERE length(t.tok) >= 3
            ),
            de AS (
              SELECT DISTINCT url, entity_iri
              FROM toks JOIN alias_dict ON mention = alias
            )
            SELECT a.entity_iri AS e1, b.entity_iri AS e2,
                   count(*) AS n_docs
            FROM de a JOIN de b
              ON a.url = b.url AND a.entity_iri < b.entity_iri
            GROUP BY 1, 2
        """,
        "r1_pattern_filter": _EVENTS_TRIPLES_SQL.replace(
            "FROM events", "FROM events WHERE event_type = 'click'"
        ),
        "r2_parse_pattern": _EVENTS_TRIPLES_SQL.replace(
            "FROM events", "FROM events WHERE event_type = 'purchase'"
        ),
        "r11_bgp_join": _BGP_JOIN_SQL,
        "r3_difference": """
            SELECT DISTINCT 'urn:user:' || user_id AS s, 'urn:did' AS p,
                   event_type AS o
            FROM events WHERE event_type IN ('click', 'view')
            EXCEPT
            SELECT DISTINCT 'urn:user:' || user_id AS s, 'urn:did' AS p,
                   event_type AS o
            FROM events WHERE event_type IN ('view', 'purchase')
        """,
        "r4_intersection": """
            SELECT DISTINCT 'urn:user:' || user_id AS s, 'urn:did' AS p,
                   event_type AS o
            FROM events WHERE event_type IN ('click', 'view')
            INTERSECT
            SELECT DISTINCT 'urn:user:' || user_id AS s, 'urn:did' AS p,
                   event_type AS o
            FROM events WHERE event_type IN ('view', 'purchase')
        """,
        "r5_union_dedup": """
            SELECT 'urn:user:' || user_id AS s,
                   'urn:event:' || event_type AS p,
                   'urn:ev:' || event_id AS o
            FROM events WHERE event_type = 'click'
            UNION
            SELECT 'urn:user:' || user_id AS s,
                   'urn:event:' || event_type AS p,
                   'urn:ev:' || event_id AS o
            FROM events WHERE event_type IN ('click', 'view')
        """,
        "r7_all_subjects": (
            "SELECT DISTINCT 'urn:user:' || user_id AS s FROM events"
        ),
        "r8_count_statements": (
            "SELECT count(*) AS n_statements FROM events"
        ),
        "r9_subject_group": """
            SELECT 'urn:user:' || user_id AS s, count(*) AS n
            FROM events GROUP BY 1
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue": """
            SELECT o_orderkey AS orderkey, c_custkey AS custkey, revenue
            FROM (
              SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
              FROM lineitem GROUP BY l_orderkey
            ) r
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            ORDER BY revenue DESC, orderkey ASC
            LIMIT 20
        """,
        "dedup_exact": f"""
            SELECT md5({_sql_token_text("lower(text)")}) AS fingerprint,
                   min(doc_id) AS doc_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "text_token_count": f"""
            SELECT doc_id, len({_sql_tokens("text")}) AS n_tokens
            FROM documents
        """,
        "text_fingerprint": f"""
            SELECT doc_id,
                   md5({_sql_token_text("lower(text)")}) AS fp
            FROM documents
        """,
        **_text_oracles(),
        "text_redact_pii": _pii_oracle_sql(),
        "text_repetition": _ORACLE_REPETITION,
        "web_url_normalize": (_ORACLE_URL_NORM % _SYNTH_URLS_SQL)
        + "SELECT doc_id, url_norm, scheme, host, domain, path_depth"
        + " FROM norm",
        "web_domain_rollup": (_ORACLE_URL_NORM % _SYNTH_URLS_SQL)
        + "SELECT domain, count(*) AS n_pages,"
        + " count(DISTINCT host) AS n_hosts,"
        + " count(DISTINCT url_norm) AS n_urls,"
        + " max(path_depth) AS max_depth FROM norm GROUP BY domain",
        "text_winnow": _ORACLE_WINNOW,
        "dedup_winnow": _ORACLE_WINNOW_PAIRS % _ORACLE_WINNOW,
        "text_winnow_spans": _ORACLE_WINNOW_SPANS % _ORACLE_WINNOW,
        "text_contamination": _ORACLE_CONTAMINATION % _ORACLE_WINNOW,
        "text_sample_stratified": _ORACLE_STRATIFIED,
        "text_split_assign": _ORACLE_SPLIT_ASSIGN,
        "text_collocations": _ORACLE_COLLOCATIONS,
        "text_boilerplate": _ORACLE_BOILERPLATE,
        "text_length_quantiles": _ORACLE_LENGTH_QUANTILES,
        "mm_features": _ORACLE_MM_FEATURES,
        "mm_resize": _ORACLE_MM_RESIZE,
        "mm_frames": _ORACLE_MM_FRAMES,
        "prof_key_skew": _ORACLE_KEY_SKEW,
        "kg_latest_facts": _ORACLE_LATEST_FACTS,
        "kg_harmonic": _ORACLE_HARMONIC,
        "kg_reciprocity": _ORACLE_RECIPROCITY,
        "kg_extract_jsonld": _ORACLE_EXTRACT_JSONLD,
        "kg_extract_rdfa": _ORACLE_EXTRACT_RDFA,
        "kg_extract_embedded": _ORACLE_EXTRACT_EMBEDDED,
        "kg_extract_delta": _ORACLE_EXTRACT_DELTA,
        "kg_extract_microdata": _ORACLE_EXTRACT_MICRODATA,
        "web_link_graph": _ORACLE_LINK_GRAPH,
        "web_anchor_aliases": _ORACLE_ANCHOR_ALIASES,
        "kg_triple_score": _ORACLE_TRIPLE_SCORE,
        "kg_shacl_validate": _ORACLE_SHACL,
        "kg_triangles_sampled": _ORACLE_TRIANGLES_SAMPLED,
        "text_chunks": _ORACLE_TEXT_CHUNKS,
        "web_robots_filter": _ORACLE_ROBOTS,
        "web_host_components": _ORACLE_HOST_COMPONENTS,
        "kg_embedded_metrics": _ORACLE_EMBEDDED_METRICS,
        "events_sessionize": _ORACLE_SESSIONS,
        "events_asof_join": _ORACLE_EVENTS_ASOF,
        "events_scd2_history": _ORACLE_SCD2,
        "storage_zorder_key": _ORACLE_ZORDER,
        "events_windowed_agg": """
            SELECT date_trunc('hour', ts) AS win_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sim_topk_cosine": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(q.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
            ORDER BY cosine DESC, e.vec_id ASC
            LIMIT 10
        """,
    }
