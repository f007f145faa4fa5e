"""Entity linking: batched mention detection + alias-dictionary scoring.

North-rule stage: detect candidate entity mentions in page text and
score them against a *broadcast* alias dictionary (the dictionary is
small — always the build side of a broadcast-hash join; the page/triple
side never shuffles).

Mention detection is pure column expressions (JVM-side, whole-stage
codegen): lowercase, strip punctuation, split, explode, distinct per
url. No Python in the hot path.

Output: (url, mention, entity_iri, score) candidate links, plus
``links_as_triples`` to lift accepted links into the triple table as
ex:mentions edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .graph import edge_set

MENTIONS_PRED = "http://tortank-spark.dev/ns#mentions"
# a mention is a maximal run of digits, letters of any script, "_" and
# "-"; Java regex and DuckDB's RE2 read this class identically, so the
# entity-link oracles split on it too
MENTION_SPLIT = r"[^0-9\p{L}_-]+"


def detect_mentions(pages: DataFrame, min_len: int = 3) -> DataFrame:
    """pages(url, text) -> (url, mention, tf) distinct lowercase tokens
    with per-document term frequency."""
    toks = pages.select(
        "url",
        F.explode(
            F.split(F.lower(F.col("text")), MENTION_SPLIT)
        ).alias("mention"),
    ).filter(F.length("mention") >= min_len)
    return toks.groupBy("url", "mention").agg(F.count("*").alias("tf"))


def link_mentions(
    mentions: DataFrame, alias_dict: DataFrame, min_score: float = 0.0
) -> DataFrame:
    """Broadcast-hash join mentions x alias dict; score = prior weighted
    by log-scaled term frequency."""
    linked = mentions.join(
        F.broadcast(alias_dict), mentions.mention == alias_dict["alias"], "inner"
    )
    scored = linked.select(
        "url",
        "mention",
        "entity_iri",
        (F.col("prior") * (F.lit(1.0) + F.log1p(F.col("tf")))).alias("score"),
    )
    return scored.filter(F.col("score") >= min_score)


def best_link_per_mention(links: DataFrame) -> DataFrame:
    """Keep the best-scoring entity per (url, mention) — a max-by
    aggregation (map-side partial agg), not a window sort."""
    return links.groupBy("url", "mention").agg(
        F.max_by("entity_iri", "score").alias("entity_iri"),
        F.max("score").alias("score"),
    )


def links_as_triples(links: DataFrame) -> DataFrame:
    """Lift accepted links into canonical triple rows:
    (page-url-iri, ex:mentions, entity_iri)."""
    return links.select(
        "url",
        F.col("url").alias("s"),
        F.lit("iri").alias("s_kind"),
        F.lit(MENTIONS_PRED).alias("p"),
        F.col("entity_iri").alias("o"),
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    ).distinct()


def entity_cooccurrence(
    links: DataFrame, min_docs: int = 1,
) -> DataFrame:
    """Relation-induction candidates: undirected entity pair edges
    (e1 < e2) weighted by the number of documents where both entities
    are linked -> (e1, e2, n_docs). The standard first signal for KG
    relation discovery (entities that keep co-occurring probably stand
    in SOME relation worth typing later); feeds pagerank / CC over an
    entity graph instead of the raw IRI graph.

    Scale shape: distinct (url, entity) first (dictionary-bounded), a
    self equi-join on url, then one aggregate. Per-document fan-out is
    C(k, 2) with k <= |alias dictionary| — bounded by construction,
    so the url join key cannot produce a celebrity-size group; the
    aggregate is map-side partial. No Python anywhere."""
    de = links.select("url", "entity_iri").distinct()
    a = de.select("url", F.col("entity_iri").alias("e1"))
    b = de.select("url", F.col("entity_iri").alias("e2"))
    return (
        a.join(b, "url")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def neighborhood_jaccard(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_df: int | None = 1000, min_common: int = 1,
    min_jaccard_ppm: int = 0,
) -> DataFrame:
    """Structural co-reference candidates: node pairs scored by the
    Jaccard overlap of their out-neighbor sets -> (a, b, common,
    deg_a, deg_b, jaccard_ppm) with a < b. THE second signal for
    owl:sameAs discovery — alias linking (link_mentions) matches
    surface forms, this matches *contexts*: two IRIs that point at
    nearly the same neighbor set are co-referent suspects even when
    their labels share nothing (classic structural ER; feeds
    canonicalize.sameas_edges after thresholding).

    Jaccard is emitted as scaled-integer parts-per-million,
    ``common * 1e6 DIV (deg_a + deg_b - common)`` — exact, hashable,
    engine-replayable (the tfidf/pagerank integer-ranking precedent);
    the raw counts ride along so callers can re-threshold for free.

    Scale shape: candidate pairs come from a self equi-join on the
    shared neighbor — the classic quadratic trap when one neighbor
    has web-scale fan-in (every pair of a celebrity's 10^6 in-nodes
    meets). ``max_df`` drops neighbors with fan-in above the cap
    BEFORE pairing (the winnow/MOSS max_df guard, textops.py:
    near-universal neighbors carry no co-reference signal anyway,
    exactly like stopwords), hard-bounding per-key fan-out at
    C(max_df, 2). Degrees are computed on the SAME filtered edge set
    so the Jaccard stays internally consistent. One aggregate after
    the pair join (map-side partial), two broadcast-size degree
    joins; no Python anywhere."""
    e = edge_set(edges, src, dst)
    if max_df is not None:
        rare = (
            e.groupBy("dst").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("dst")
        )
        e = e.join(rare, "dst", "left_semi")
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    a = e.select(F.col("src").alias("a"), "dst")
    b = e.select(F.col("src").alias("b"), "dst")
    pairs = (
        a.join(b, "dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    out = (
        pairs.join(deg.select(F.col("src").alias("a"),
                              F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("src").alias("b"),
                         F.col("deg").alias("deg_b")), "b")
        .withColumn(
            "jaccard_ppm",
            F.expr("CAST(common * 1000000 DIV "
                   "(deg_a + deg_b - common) AS BIGINT)"),
        )
    )
    if min_jaccard_ppm:
        out = out.filter(F.col("jaccard_ppm") >= min_jaccard_ppm)
    return out.select("a", "b", "common", "deg_a", "deg_b",
                      "jaccard_ppm")


def fuzzy_pairs(
    df: DataFrame, id_col: str, name_col: str,
    max_dist: int = 1, max_df: int | None = None,
) -> DataFrame:
    """Fuzzy string-match candidates -> (a_id, b_id, a_name, b_name,
    dist): pairs of rows whose names are within Levenshtein distance
    ``max_dist`` (default 1 — typos, OCR slips, singular/plural-ish
    variants) — the surface-form side of alias canonicalization that
    exact-match linking misses, feeding sameas_edges exactly like
    neighborhood_jaccard feeds it from the structural side.

    FastSS blocking (Bocek et al. 2007): each name is indexed under
    itself plus every single-deletion variant; two strings within
    edit distance 1 ALWAYS share such a key, so the candidate
    equi-join on the key is exact-recall for max_dist=1 (for
    max_dist=2 it is a strong prefilter; the verify step keeps
    correctness either way). Candidates then verify with the exact
    JVM ``levenshtein`` — which DuckDB also implements, so the whole
    operator is value-oracled end to end.

    Scale shape: key generation is one transform over positions (no
    Python), the candidate join is an equi-join on the deletion key
    with candidates deduplicated BEFORE the O(len^2) verify;
    ``max_df`` optionally drops ultra-hot keys (turning exact recall
    into documented approximate recall) when a pathological key — a
    short common fragment — would quadratically explode one group."""
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(name_col).alias("_n"))
        .filter(F.col("_n").isNotNull())
        .distinct()
    )
    dels = F.expr(
        "transform(sequence(1, length(_n)),"
        " i -> concat(substring(_n, 1, i - 1),"
        "             substring(_n, i + 1, length(_n))))"
    )
    keys = base.select(
        "_id", "_n",
        F.explode(F.array_union(F.array(F.col("_n")), dels)).alias("_k"),
    )
    if max_df is not None:
        ok = (
            keys.groupBy("_k").agg(F.count("*").alias("_c"))
            .filter(F.col("_c") <= max_df)
            .select("_k")
        )
        keys = keys.join(ok, "_k", "left_semi")
    a = keys.select(F.col("_id").alias("a_id"),
                    F.col("_n").alias("a_name"), "_k")
    b = keys.select(F.col("_id").alias("b_id"),
                    F.col("_n").alias("b_name"), "_k")
    cand = (
        a.join(b, "_k")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_name", "b_name")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("dist") <= max_dist)
    )
