"""Text-analysis operators for training-data pipelines over the
``documents`` table: token counting, quality scoring, fingerprinting,
language identification.

Everything except the two winnow fingerprint stages is pure column
expressions (JVM, whole-stage codegen), language ID included: a tiny
built-in stopword profile — the classic n-gram/stopword heuristic, no
external models. The winnow stages are numpy kernels run in
``extract.batch_stage``.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import StructField, StructType

from .extract import batch_stage, repeat_each
from .session import ensure_parallelism

# The one whitespace-token contract of the text and near-dup operators
# and their DuckDB oracles: a token is a maximal run of characters
# outside this ASCII class, never empty. Spelled with \x0B, not \v or
# \s: Java regex, RE2 and Python re read this spelling identically,
# where Java's \v also matches U+0085/U+2028/U+2029 and the engines'
# \s disagree on U+000B and on non-ASCII spaces.
WS = r"[ \t\n\r\f\x0B]+"
_WS_RE = re.compile(WS)


def tokens(text: Column) -> Column:
    """The whitespace tokens of ``text`` (callers lowercase it first)."""
    return F.filter(F.split(text, WS), lambda t: t != "")


def split_tokens(text: str | None) -> list[str]:
    """Python twin of ``tokens``: the same tokens of one string."""
    return [t for t in _WS_RE.split(text or "") if t]

# tiny deterministic stopword profiles (public common-word lists)
_LANG_PROFILES = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "that", "it", "for"},
    "fr": {"le", "la", "de", "et", "les", "des", "un", "une", "est", "que"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"},
    "es": {"el", "la", "de", "y", "los", "que", "un", "una", "es", "en"},
    "nl": {"de", "het", "een", "en", "van", "is", "dat", "op", "te", "niet"},
}


def _profile(lang: str) -> Column:
    return F.array([F.lit(w) for w in sorted(_LANG_PROFILES[lang])])


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.size(tokens(text))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features,
    all column expressions."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.length(F.regexp_replace(t, r"[^\p{Punct}]", ""))
    n_stop = F.size(F.array_intersect(tokens(F.lower(t)), _profile("en")))
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (n_stop / F.greatest(n_tokens, F.lit(1))).alias("q_stopword_ratio"),
        (n_chars / F.greatest(n_tokens, F.lit(1))).alias("q_avg_token_len"),
    )


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the
    whitespace-normalized, lowercased token stream — the exact-dedup
    key. (A rolling/polynomial variant lives in dedup.simhash.)"""
    return F.md5(F.concat_ws(" ", tokens(F.lower(text))))


# winnowing k-gram hash constants — shared bit-for-bit by the numpy
# production path, the pure-Python replay (_winnow_gram_hashes, the
# property-test twin), and the DuckDB oracle (__spark_entry__
# _ORACLE_WINNOW builds the identical fold + finalizer in SQL):
#   h = fold(codepoints, h*B + c) mod 2^64, then one xorshift-multiply
#   finalizer round u^=u>>33; u*=C mod 2^64; u^=u>>29 for avalanche
#   (a polynomial hash alone leaves the min-selection biased toward
#   the leading characters).
# B is the FNV-64 prime; C is the xorshift64* multiplier — chosen
# < 2^62 so the oracle's HUGEINT product u*C < 2^126 never overflows
# DuckDB's signed 128-bit arithmetic (md5-based round-4 hash was
# SQL-reproducible too, but cost one interpreter-level hashlib call
# PER CHARACTER — the most expensive inner loop in the repo at scale;
# this formulation is ~5 numpy vector ops per document).
_WINNOW_B = 1099511628211
_WINNOW_C = 2685821657736338717

def _normalize_ws(text: str | None) -> str:
    """The lowercase tokens joined by one space: the winnow input."""
    return " ".join(split_tokens((text or "").lower()))


def _winnow_gram_hashes(norm: str, k: int) -> list[int]:
    """Pure-Python replay of the winnow k-gram hash (the slow twin the
    property tests pin the numpy path against). Returns ONE whole-text
    hash for texts shorter than k, else one hash per k-gram."""
    M = 1 << 64

    def fold(cps):
        h = 0
        for c in cps:
            h = (h * _WINNOW_B + c) % M
        h ^= h >> 33
        h = (h * _WINNOW_C) % M
        return h ^ (h >> 29)

    cps = [ord(c) for c in norm]
    if len(cps) < k:
        return [fold(cps)]
    return [fold(cps[i : i + k]) for i in range(len(cps) - k + 1)]


def _winnow_finalize(h):
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_WINNOW_C)
    return h ^ (h >> np.uint64(29))


def _winnow_select(text: str | None, k: int, w: int):
    """One document's winnowing: the k-gram hashes of the
    whitespace-normalized lowercase text, and the minimum of every
    window of ``w`` consecutive hashes at its RIGHTMOST position on
    ties. Returns (sorted distinct positions as int64, their uint64
    hashes); a text shorter than k yields the single pair (0,
    hash-of-whole-text). ~k+3 numpy vector ops over the codepoint
    array, no per-gram Python loop."""
    B = np.uint64(_WINNOW_B)
    # utf-32-le = exactly one array element per codepoint, so gram
    # positions stay CHARACTER positions (matching DuckDB's
    # character-based substr in the oracle)
    cp = np.frombuffer(
        _normalize_ws(text).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    n_grams = cp.size - k + 1
    with np.errstate(over="ignore"):  # uint64 wrap IS the hash
        if n_grams <= 0:
            h = np.uint64(0)
            for c in cp:  # < k iterations
                h = h * B + c
            return (np.zeros(1, dtype=np.int64),
                    np.array([_winnow_finalize(h)], dtype=np.uint64))
        h = np.zeros(n_grams, dtype=np.uint64)
        for j in range(k):  # k vector ops, no per-gram loop
            h = h * B + cp[j : j + n_grams]
        hs = _winnow_finalize(h)
    ww = min(w, n_grams)
    win = np.lib.stride_tricks.sliding_window_view(hs, ww)
    # rightmost min: argmin over the REVERSED window
    idx = (ww - 1) - np.argmin(win[:, ::-1], axis=1)
    pos = np.unique(np.arange(len(win)) + idx)
    return pos.astype(np.int64), hs[pos]


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str = "text",
    k: int = 5, w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the standard rolling-hash fingerprint selection): char
    k-grams over the whitespace-normalized lowercase text, each hashed
    with a vectorized polynomial-fold + xorshift-multiply finalizer
    (constants above; SQL-reproducible — the DuckDB oracle replays the
    identical fold, so the driver check stays a FULL value oracle);
    every window of ``w`` consecutive k-gram hashes contributes its
    minimum, taking the RIGHTMOST position on ties (the paper's rule);
    output = distinct (id, pos, fp) rows. Guarantee: two documents
    sharing any substring of length >= w + k - 1 share at least one
    fingerprint.

    Texts shorter than k characters (after normalization) emit a
    single (pos=0, hash-of-whole-text) row so every doc has >= 1
    fingerprint. Hash comparisons happen in uint64 on both engines;
    the emitted fp is the two's-complement int64 of the uint64 hash.

    Scale shape: one ``extract.batch_stage``, no shuffle, and the per-doc
    work is ~k+3 numpy vector ops over the codepoint array (no
    per-gram Python-level hashing — the round-4 md5 formulation cost
    one interpreter hashlib call per character, the repo's most
    expensive inner loop at 100 TB); downstream near-dup candidate
    generation is a bucket equi-join on fp — identical join geometry
    to MinHash-LSH."""
    from pyspark.sql.types import LongType

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("pos", LongType(), False),
            StructField("fp", LongType(), False),
        ]
    )

    def per_batch(ids, texts):
        # per-doc RESULT ARRAYS, concatenated once per batch: the
        # round-4 shape collected (pos, fp) pairs through a Python set
        # + per-element appends — on the 1.9 MB heavy doc that is
        # ~1.7M interpreter iterations (~11 s measured, dwarfing even
        # the old md5 loop)
        pos_parts, fp_parts = [], []
        for text in texts.to_pylist():
            pos, hs = _winnow_select(text, k, w)
            pos_parts.append(pos)
            # uint64 -> int64 view IS the two's-complement reinterp
            fp_parts.append(hs.view(np.int64))
        return (repeat_each(ids, [p.size for p in pos_parts]),
                np.concatenate(pos_parts), np.concatenate(fp_parts))

    return batch_stage(df, [id_col, text_col], per_batch, schema)


def winnow_doc_fingerprint_set(
    df: DataFrame, id_col: str, text_col: str = "text",
    k: int = 5, w: int = 4,
) -> DataFrame:
    """Per-document DISTINCT winnow fingerprints: (id, fp) with the
    same fp set as ``winnow_fingerprints(...).select(id, fp)
    .distinct()`` but deduped inside the numpy stage (np.unique over
    the selected window minima) — candidate generation needs only the
    fp SET per doc, so shipping positions across Arrow and paying a
    cluster-wide distinct shuffle on the ~80x-larger positioned table
    is pure overhead (guide §2.3 'aggregate before you shuffle' /
    'project before the exchange'). winnow_match_spans keeps the
    positioned table — localization needs it."""
    from pyspark.sql.types import LongType

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("fp", LongType(), False),
        ]
    )

    def per_batch(ids, texts):
        fp_parts = [np.unique(_winnow_select(t, k, w)[1]).view(np.int64)
                    for t in texts.to_pylist()]
        return (repeat_each(ids, [f.size for f in fp_parts]),
                np.concatenate(fp_parts))

    return batch_stage(df, [id_col, text_col], per_batch, schema)


def winnow_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str = "text",
    k: int = 5, w: int = 4, min_shared: int = 12, max_df: int = 50,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints
    (the MOSS construction over winnow_fingerprints): docs sharing at
    least ``min_shared`` distinct fingerprint values become a pair
    with their overlap count. Fingerprints occurring in more than
    ``max_df`` documents are dropped BEFORE the self-join — boilerplate
    phrases produce ubiquitous fingerprints whose buckets go quadratic
    (the same role a stopword cap plays in MOSS); at 10^9 docs this
    filter is what keeps the fp equi-join's biggest bucket bounded
    (and it is a hard cap on skew: no bucket exceeds max_df rows per
    side regardless of corpus growth). Join geometry is identical to
    the MinHash band join: bucketed equi-join, never a cross join.

    Cache lifetime follows dedup.minhash_dedup_pairs: the fingerprint
    table feeds the df-cap aggregate AND both self-join sides, so it
    is persisted, the small pair output is materialized and the
    fingerprint cache released before returning."""
    # per-doc-distinct (id, fp) straight from the numpy stage: set-
    # equal to winnow_fingerprints().select(id, fp).distinct() but
    # without shipping positions over Arrow or paying the distinct's
    # full shuffle (rows are already unique within a doc, and (id, fp)
    # rows from different docs can never collide)
    fps = winnow_doc_fingerprint_set(df, id_col, text_col, k, w).persist()
    # df >= 2 is a pure prune: a fingerprint seen in ONE document can
    # never witness a pair (the self-join needs a < b within the same
    # fp), and singleton fps are the vast majority of a real corpus
    # (~4.2M of 4.2M rows at sf1.0 minus a few hundred) — dropping
    # them BEFORE the equi-join removes almost the entire sort-merge
    # input (guide §3.2: reduce the big side before shuffling it)
    rare = fps.groupBy("fp").agg(F.count("*").alias("_df")).filter(
        (F.col("_df") >= 2) & (F.col("_df") <= max_df)
    ).select("fp")
    narrowed = fps.join(rare, "fp")
    l = narrowed.select(F.col(id_col).alias("a"), "fp")
    r = narrowed.select(F.col(id_col).alias("b"), "fp")
    out = (
        l.join(r, (l["fp"] == r["fp"]) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        fps.unpersist()


def _spans(shared: DataFrame, a: str, b: str, max_gap: int,
           min_fps: int) -> DataFrame:
    """Gaps-and-islands over shared fingerprint positions: ``shared``
    holds distinct (a, b, pos) rows; consecutive positions of one
    (a, b) pair with char-gap <= ``max_gap`` form one island (the
    running sum of gap breaks over a window ordered by pos), and an
    island carrying fewer than ``min_fps`` positions is dropped.
    -> (a, b, a_start, a_end, n_fps). One window, whole-stage
    codegen'd, no Python; the span oracles replay the same
    arithmetic."""
    from pyspark.sql import Window

    win = Window.partitionBy(a, b).orderBy("pos")
    islands = shared.withColumn(
        "_brk",
        F.when(
            F.col("pos") - F.lag("pos").over(win) > max_gap, 1
        ).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(
            win.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(a, b, "_isl")
        .agg(
            F.min("pos").alias("a_start"),
            F.max("pos").alias("a_end"),
            F.count("*").alias("n_fps"),
        )
        .filter(F.col("n_fps") >= min_fps)
        .select(a, b, "a_start", "a_end", "n_fps")
    )


def winnow_match_spans(
    df: DataFrame, id_col: str, text_col: str = "text",
    k: int = 5, w: int = 4, max_gap: int = 50, min_fps: int = 5,
    max_df: int = 50,
) -> DataFrame:
    """MOSS-style overlap LOCALIZATION on winnow fingerprints: for
    each ordered doc pair (a < b) sharing rare fingerprints, the
    maximal position runs ("islands") in document ``a`` whose
    fingerprints also occur in ``b`` — i.e. WHERE the shared material
    sits, not just that it exists (winnow_dedup_pairs answers that).
    The training-data use is decontamination: a span report says which
    region of a crawled document reproduces an eval document. Islands
    cluster consecutive shared positions with char-gap <= ``max_gap``
    (the winnowing guarantee puts a selected fingerprint at least
    every w + k - 1 = 8 chars inside a true shared substring, so any
    max_gap >= 8 never splits a genuine match); spans carrying fewer
    than ``min_fps`` shared fingerprints are noise-dropped. Output:
    (a, b, a_start, a_end, n_fps).

    Scale shape: entirely JVM-side on top of the fingerprint table —
    the ``max_df`` cap bounds the fp equi-join's buckets exactly as in
    winnow_dedup_pairs (no bucket exceeds max_df rows per side,
    regardless of corpus growth), the b-side narrows to DISTINCT
    (id, fp) before the join, and the island construction is one
    window over (a, b) — the classic gaps-and-islands running sum
    (``_spans``). Deterministic, fully SQL-replayable (the driver
    oracle replays fingerprints, df cap, join, and the same window
    arithmetic). Cache lifetime follows winnow_dedup_pairs: the small
    span output is materialized and the fingerprint cache released
    before returning."""
    fps = (
        winnow_fingerprints(df, id_col, text_col, k, w)
        .select(id_col, "pos", "fp").distinct().persist()
    )
    # _df >= 2 is a pure prune (same argument as winnow_dedup_pairs):
    # a single-row fingerprint cannot appear in two documents, so it
    # can never contribute a shared span; singleton fps dominate the
    # positioned table and would otherwise flow through both join sides
    rare = fps.groupBy("fp").agg(F.count("*").alias("_df")).filter(
        (F.col("_df") >= 2) & (F.col("_df") <= max_df)
    ).select("fp")
    nar = fps.join(rare, "fp")
    left = nar.select(F.col(id_col).alias("a"), "pos", "fp")
    right = nar.select(F.col(id_col).alias("b"), "fp").distinct()
    shared = (
        left.join(right, (left["fp"] == right["fp"])
                  & (F.col("a") < F.col("b")))
        .select("a", "b", "pos")
        .distinct()
    )
    out = _spans(shared, "a", "b", max_gap, min_fps)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        fps.unpersist()


def winnow_contamination(
    corpus: DataFrame, eval_df: DataFrame, id_col: str = "doc_id",
    eval_id_col: str = "eval_id", text_col: str = "text",
    k: int = 5, w: int = 4, max_gap: int = 50, min_fps: int = 5,
    max_df: int = 50,
) -> DataFrame:
    """Train-vs-eval contamination spans: where does a CORPUS document
    reproduce material from a (small) EVAL set? Same islands
    construction as winnow_match_spans, but across two frames — the
    production decontamination shape: at 100 TB the corpus NEVER
    self-joins; the eval set's distinct (eval_id, fp) table is a few
    MB and is explicitly broadcast, so the whole operator is one
    map-side hash join over the corpus fingerprint stream plus a
    window partitioned by (corpus doc, eval doc). The ``max_df`` cap
    still bounds corpus-side rows per fingerprint (boilerplate
    n-grams that also appear in an eval doc would otherwise
    concentrate the window partitions). Output:
    (id_col, eval_id_col, a_start, a_end, n_fps) — char-position spans
    in the corpus document to excise or flag.

    Deterministic and fully SQL-replayable; `tests/test_plans.py`
    pins the broadcast (BroadcastHashJoin, no cross join). Cache
    lifetime follows winnow_dedup_pairs."""
    cfps = (
        winnow_fingerprints(corpus, id_col, text_col, k, w)
        .select(id_col, "pos", "fp").distinct().persist()
    )
    rare = cfps.groupBy("fp").agg(F.count("*").alias("_df")).filter(
        F.col("_df") <= max_df
    ).select("fp")
    nar = cfps.join(rare, "fp")
    efps = (
        winnow_fingerprints(eval_df, eval_id_col, text_col, k, w)
        .select(eval_id_col, "fp").distinct()
    )
    shared = (
        nar.join(F.broadcast(efps), "fp")
        .select(id_col, eval_id_col, "pos")
        .distinct()
    )
    out = _spans(shared, id_col, eval_id_col, max_gap, min_fps)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        cfps.unpersist()


def detect_language(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Stopword-profile language ID (the n-gram heuristic of
    SURVEY/brief) as column expressions, no Python stage: each
    profile's hit count is the number of its stopwords among the
    text's distinct lowercase ``tokens``, and the first language in
    profile order (en, fr, de, es, nl) whose count is the maximum
    wins — the oracle's CASE ladder with its insertion-order
    tie-break. A text with no hit (or a null text) is ``und``."""
    toks = tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    hits = {lang: F.size(F.array_intersect(toks, _profile(lang)))
            for lang in _LANG_PROFILES}
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("und"))
    *ladder, last = hits
    for lang in ladder:
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.select("*", pred.otherwise(F.lit(last)).alias(out_col))


def salient_terms(
    df: DataFrame, k: int = 5, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k distinguishing terms -> (id, term, tf, df,
    rank): ranked by (tf DESC, df ASC, term ASC) — high in THIS doc,
    rare across the corpus, with a total order so the result is
    deterministic. The tf-idf idea expressed in pure integers: the
    float tf*ln(N/df) score ranks identically at fixed tf when df is
    the tiebreak, and integer ordering is engine-exact where float
    logs differ in last bits between libms (the value-hash oracle
    could not pin a float score). Feeds KG mention candidates and
    index keywords.

    Scale: explode -> two aggregates (per-doc tf, corpus df, both
    map-side partial) -> equi-join on term -> per-doc window (group
    size = distinct terms of one doc, bounded by doc length — never
    corpus-sized). Whole-stage-codegen column exprs only."""
    from pyspark.sql import Window

    toks = df.select(
        id_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "rank")
    )


def tfidf_topk(
    df: DataFrame, terms: list[str], k: int = 50,
    text_col: str = "text", id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Ranked retrieval: top-k documents for a bag-of-terms query by
    tf-idf, ALL arithmetic in scaled integers so the ranking is
    engine-exact (idf_scaled = (scale * N) DIV df — the same
    monotone-in-1/df weighting as ln(N/df) for ranking purposes, but
    float-free: libm log tails differ between engines and a value-hash
    oracle could not pin them; the integer-PageRank/salient-terms
    precedent). Returns (id, score, rank), rank = row_number
    over the total order (score DESC, id ASC).

    Scale: the term filter runs INSIDE the split array (higher-order
    ``filter``) so only query-term tokens are ever exploded — for a
    q-term query the exploded relation is O(total query-term
    occurrences), not O(corpus tokens). Then two map-side-partial
    aggregates, a broadcast join against the q-row df table, and a
    distributed TakeOrderedAndProject top-k — the global sort the
    row_number window would need happens on k rows, never the corpus."""
    from pyspark.sql import Window

    terms = [t.lower() for t in terms]
    toks = df.select(
        id_col,
        F.explode(
            F.filter(
                tokens(F.lower(F.col(text_col))),
                lambda t: t.isin(*terms),
            )
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf_scaled", F.expr(f"(CAST({scale} AS BIGINT) * n_docs) DIV df")
        )
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("idf_scaled")).alias("score"))
    )
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def filter_decision(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_tokens: int = 12, min_stopword_ratio: float = 0.005,
) -> DataFrame:
    """The corpus-cleaning GATE: (id, keep, reason) per document,
    reason = FIRST failing rule in a fixed ladder (too_short ->
    low_stopword -> lang_und), null when kept. Composes the verified
    building blocks (quality_features ratios, detect_language) into
    the decision a training-data pipeline actually materializes —
    keep/drop plus an auditable drop reason for corpus reporting.

    One pass of column expressions with no Python stage: quality
    features, language ID and the ladder (a CASE expression). Thresholds
    compare IEEE doubles computed identically by any engine from the
    same integer counts, so the decision is value-hash stable."""
    q = quality_features(df, text_col)
    lang = detect_language(q, text_col)
    reason = (
        F.when(F.col("q_n_tokens") < min_tokens, F.lit("too_short"))
        .when(
            F.col("q_stopword_ratio") < min_stopword_ratio,
            F.lit("low_stopword"),
        )
        .when(F.col("lang_pred") == "und", F.lit("lang_und"))
        .otherwise(F.lit(None).cast("string"))
    )
    return lang.select(
        id_col,
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )


# PII patterns chosen for the Java-regex/RE2 COMMON SUBSET (no
# lookaround, no backreferences) so the DuckDB oracle runs the same
# bytes: email local@domain.tld, dotted-quad IPv4, loose international
# phone (leading +? then >= 8 of digit/space/()-, digit-terminated)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_PHONE = r"\+?\d[\d ()-]{6,}\d"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Training-corpus PII scrub -> (id, text_redacted, n_emails,
    n_ips, n_phones): emails, IPv4s, then phone-like runs replaced by
    [EMAIL]/[IP]/[PHONE] tokens, counted per stage. SEQUENCED on
    purpose — each count and replace runs on the output of the
    previous stage, so a phone-digit run inside an already-redacted
    email is never double-counted, and the oracle replays the same
    pipeline order. Pure JVM regexp column expressions (whole-stage
    codegen, no Python); patterns are lookaround-free so Java regex
    and RE2 agree byte-for-byte."""
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t0, PII_EMAIL, "[EMAIL]")
    n_ips = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "[IP]")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "[PHONE]")
    return df.select(
        id_col,
        t3.alias("text_redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals -> (id, n_lines,
    dup_line_frac, top_token_frac, top_bigram_frac): the fraction of
    non-empty lines that are duplicates of an earlier line, and the
    mass of the single most frequent token / word-bigram — the
    boilerplate and degenerate-repetition detectors of the published
    web-corpus filtering recipes (Rae et al. Gopher, app. A).

    Shapes: line stats are pure array expressions (split +
    array_distinct — per-row, no shuffle); token/bigram modes explode
    to (doc, gram) counts and take max/sum per doc — two map-side-
    partial aggregates keyed by doc id, never corpus-global state.
    Every fraction is ONE integer division, bit-identical in any
    IEEE engine (hash-oracle-safe)."""
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda x: x != F.lit("")
    )
    n_lines = F.size(lines)
    dup_line_frac = (
        (n_lines - F.size(F.array_distinct(lines)))
        / F.greatest(n_lines, F.lit(1))
    )
    base = df.select(
        id_col,
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    toks = base.select(id_col, F.explode("_toks").alias("_tok"))
    tok_counts = toks.groupBy(id_col, "_tok").agg(
        F.count("*").alias("_n")
    )
    tok_stats = tok_counts.groupBy(id_col).agg(
        F.max("_n").alias("_top_tok"), F.sum("_n").alias("_n_toks")
    )
    # adjacent-pair bigrams as pure array ops (zip the array with its
    # own 1-shift), ONE explode — no positional self-join
    n1 = F.greatest(F.size(F.col("_toks")) - 1, F.lit(0))
    bigrams = base.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(F.col("_toks"), 1, n1),
                F.slice(F.col("_toks"), 2, n1),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        ).alias("_bg"),
    )
    bg_counts = bigrams.groupBy(id_col, "_bg").agg(
        F.count("*").alias("_n")
    )
    bg_stats = bg_counts.groupBy(id_col).agg(
        F.max("_n").alias("_top_bg"), F.sum("_n").alias("_n_bgs")
    )
    return (
        base.drop("_toks")
        .join(tok_stats, id_col, "left")
        .join(bg_stats, id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_frac",
            (
                F.coalesce(F.col("_top_tok"), F.lit(0))
                / F.greatest(F.coalesce(F.col("_n_toks"), F.lit(0)), F.lit(1))
            ).alias("top_token_frac"),
            (
                F.coalesce(F.col("_top_bg"), F.lit(0))
                / F.greatest(F.coalesce(F.col("_n_bgs"), F.lit(0)), F.lit(1))
            ).alias("top_bigram_frac"),
        )
    )


def collocations(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_count: int = 2, scale: int = 10 ** 6,
) -> DataFrame:
    """Corpus-level collocation mining -> (a, b, n_xy, c_a, c_b,
    pmi_ppm): adjacent-bigram pairs scored by a scaled-integer PMI
    proxy ``n_xy * N * scale DIV (c_a * c_b)`` (monotone in true PMI
    at fixed counts — log is order-preserving — so thresholding/
    ranking behaves identically while staying engine-exact where
    float log tails never hash; the salient_terms integer-ranking
    precedent). The standard relation-induction / phrase-vocabulary
    signal: "new york", "climate change" bond far above chance.

    Scale shape: bigrams come from ONE projection per doc (transform
    over the token array — no self-join on position, no shuffle to
    form pairs); then two map-side-partial count aggregates (unigram,
    bigram), ``min_count`` pruning BEFORE the scoring joins (Zipf
    tail never reaches the join), two equi-joins against the unigram
    table and a broadcast 1-row total. The n_xy*N*scale product runs
    in DECIMAL(38,0) (~1e32 worst case at 10^13 tokens — the hits
    overflow discipline); the quotient is emitted BIGINT."""
    docs = df.select(F.col(id_col).alias("_id"),
                     tokens(F.lower(F.col(text_col))).alias("l"))
    toks = docs.select(F.explode("l").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = toks.agg(F.count("*").alias("n"))
    big = (
        docs.filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(l, 1, size(l) - 1),"
                    " (x, i) -> struct(x AS a, l[i + 1] AS b))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= min_count)
    )
    return (
        big.join(uni.select(F.col("tok").alias("a"),
                            F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("tok").alias("b"),
                         F.col("c").alias("c_b")), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a", "b", "n_xy", "c_a", "c_b",
            F.expr(
                f"CAST(CAST(n_xy AS DECIMAL(38,0)) * n * {scale}"
                f" DIV (c_a * c_b) AS BIGINT)"
            ).alias("pmi_ppm"),
        )
    )


def boilerplate_stats(
    df: DataFrame, group_col: str = "source", id_col: str = "doc_id",
    text_col: str = "text", unit: str = "line",
    min_docs: int = 2, min_frac_ppm: int = 300_000,
) -> DataFrame:
    """Per-document boilerplate share -> (id, n_units, n_boiler,
    boiler_ppm): a unit (a lowercased ``line`` split on newline and
    trimmed, or a lowercased whitespace ``token``) counts as boilerplate
    within its GROUP (domain/source) when it appears in >= ``min_docs``
    distinct documents AND in >= ``min_frac_ppm`` of the group's
    documents. The crawl-cleaning primitive: nav bars, cookie banners,
    and footer chrome repeat across one domain's pages but not across
    the web, so the document frequency must be GROUP-conditional —
    a global threshold either misses per-site chrome or nukes common
    words (per-domain template detection as in the boilerplate-removal
    literature, e.g. Kohlschutter et al. boilerpipe's site-level
    variant). High boiler_ppm docs are filter_decision fodder.

    Integer-exact: the share is ``n_boiler * 1e6 DIV n_units``; the
    threshold compare is cross-multiplied (``ldf * 1e6 >= ppm * gn``)
    so no division happens before the compare — engine-exact.

    Scale shape: one explode, one (group, unit) distinct-doc count
    (map-side partial), one doc count per group (broadcast-size), the
    boilerplate dictionary semi-joined back on (group, unit) — the
    dictionary is vocabulary-sized per group, never corpus-sized; a
    unit's fan-in is bounded by its group's page count, so one domain
    cannot straggle the whole corpus."""
    low = F.lower(F.col(text_col))
    raw = {"line": F.split(low, r"\n"), "token": tokens(low)}[unit]
    # a corpus that arrives as one tiny parquet file plans ONE input
    # partition, serializing the explode and its threshold joins
    df = ensure_parallelism(df)
    units = (
        df.select(
            F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
            F.explode(raw).alias("_raw"),
        )
        .select("_g", "_id", F.trim(F.col("_raw")).alias("_u"))
        .filter(F.col("_u") != "")
    )
    udf_ = units.groupBy("_g", "_u").agg(
        F.countDistinct("_id").alias("_ldf")
    )
    gn = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.countDistinct(id_col).alias("_gn")
    )
    boiler = (
        udf_.join(gn, "_g")
        .filter(
            (F.col("_ldf") >= min_docs)
            & (F.col("_ldf") * 1_000_000 >= min_frac_ppm * F.col("_gn"))
        )
        .select("_g", "_u")
    )
    flagged = units.join(
        boiler.withColumn("_b", F.lit(1)), ["_g", "_u"], "left"
    )
    return (
        flagged.groupBy("_id")
        .agg(
            F.count("*").alias("n_units"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            F.col("_id").alias(id_col), "n_units", "n_boiler",
            F.expr("CAST(n_boiler * 1000000 DIV n_units AS BIGINT)")
            .alias("boiler_ppm"),
        )
    )


def group_quantiles(
    df: DataFrame, group_col: str, val_col,
    qs: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Exact discrete percentiles per group -> (group, q_pct, value):
    the value at rank ``ceil(q*n/100)`` of the ascending sort — the
    corpus length-distribution report (p50/p90/p99 tokens per
    language) that sets truncation budgets and spots degenerate
    slices. percentile_disc semantics, ALL integer: the rank formula
    is ``(q*n + 99) DIV 100``, so the result is engine-exact where
    interpolating (percentile_cont/float) variants diverge in last
    bits between engines. The value at a fixed rank of a sorted
    multiset is unique, so duplicate values need no tie-break.

    Scale shape: one shuffle on the group, one sort-within-partition
    serving both window functions, then a broadcast cross join with
    the (tiny) q list filtered on the rank match. Exact per-group
    quantiles inherently sort each group (a group must fit a task's
    sort spill); at web scale you'd sample first or keep a sketch —
    this is the exact-answer contract variant."""
    from pyspark.sql import Window

    spark = df.sparkSession
    val = val_col if not isinstance(val_col, str) else F.col(val_col)
    base = df.select(F.col(group_col).alias("_g"), val.alias("_v"))
    w = Window.partitionBy("_g").orderBy("_v")
    ranked = (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("_g")))
    )
    qdf = spark.createDataFrame([(int(q),) for q in qs], "q_pct int")
    return (
        ranked.crossJoin(F.broadcast(qdf))
        .filter(F.col("rn") == F.expr("(q_pct * n + 99) DIV 100"))
        .select(F.col("_g").alias(group_col), "q_pct",
                F.col("_v").alias("value"))
    )


def chunk_windows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    size: int = 128, overlap: int = 32,
) -> DataFrame:
    """Sliding-window passage chunking -> (id, chunk_id, n_tokens,
    chunk_text): split each document into token windows of ``size``
    with ``overlap`` tokens shared between consecutive windows — the
    passage-preparation step every RAG / pretraining pipeline runs
    between cleaning and embedding. Tokens are ``tokens`` of the text
    as written (case kept), joined back with one space; chunk_id is
    the 0-based window index; the last window may be short but is
    never empty; empty/blank documents emit NOTHING (no phantom
    chunk).

    Stride = size - overlap (must be positive). A document of n
    tokens yields ceil(max(n - overlap, 1) / stride) windows —
    deterministic, so the DuckDB oracle replays every row.

    Scale shape: pure column expressions (split + sequence +
    posexplode + slice + array_join), whole-stage codegen end to end
    — NO Python, NO shuffle; parallelism = input splits, and the
    fan-out is bounded by n/stride per document."""
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    stride = size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0),
        F.greatest(n - F.lit(overlap) - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            n.alias("_n"),
            starts.alias("_starts"),
        )
        .filter(F.col("_n") > 0)
        .select("id", "_toks", "_n",
                F.posexplode("_starts").alias("chunk_id", "_start"))
    )
    win = F.slice(F.col("_toks"), F.col("_start") + 1, size)
    return exploded.select(
        "id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(win).cast("long").alias("n_tokens"),
        F.array_join(win, " ").alias("chunk_text"),
    )
