"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — the standard web-corpus dedup ladder:

1. exact: hash-groupBy on a normalized fingerprint (one shuffle).
2. MinHash + LSH: shingle -> k minhashes -> band buckets -> candidate
   pairs only within buckets (never a cross join). Classic
   Broder/LSH construction; all parameters seeded and deterministic.
3. SimHash: 64-bit signature; near-dups share signature up to a few
   bits — banded by 16-bit chunks for candidate generation.
4. verification: exact n-gram Jaccard on candidate pairs only.

Scale notes: candidate generation is groupBy(bucket) + self-join within
bucket — worst case quadratic per bucket, so bucket width (bands/rows)
is the skew knob; AQE skew-join handles residual hot buckets. MinHash
and SimHash signatures are each computed in one ``extract.row_stage``
(a single Arrow stage) over the text column; the embedding bands are
one ``extract.batch_stage`` over a per-batch vector matrix.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from .extract import batch_stage, repeat_each, row_stage
from .textops import doc_fingerprint, split_tokens, tokens

# universal-hash modulus for minhash: the 31-bit Mersenne prime. The
# choice is load-bearing: with p = 2^31-1, a,b < p and x masked to 31
# bits, a*x + b < 2^62 fits int64 EXACTLY and the mod is a genuine
# modular reduction. (Round-1 used p = 2^61-1 with a < 2^61 — the
# multiply silently wrapped int64; and the naive "keep a < 2^31" repair
# makes a*x + b < p so the mod never wraps at all, leaving h(x)
# order-preserving in x — every hash function then elects the same
# minimum shingle and the Jaccard estimator collapses.)
_MERSENNE31 = (1 << 31) - 1
_MAXH = (1 << 31) - 1
# multipliers for the vectorized polynomial shingle hash (odd 64-bit
# constants; uint64 wraparound arithmetic)
_POLY = np.array([0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9],
                 dtype=np.uint64)


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """One representative (min id) per distinct normalized text."""
    return (
        df.withColumn("_fp", doc_fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .withColumnRenamed("_fp", "fingerprint")
    )


def _hash64(s: str) -> int:
    return struct.unpack("<Q", hashlib.blake2b(s.encode(), digest_size=8).digest())[0]


def _md5_64(s: str) -> int:
    """First 64 bits of md5 (16 hex chars, big-endian). Used for the
    SIMHASH token hash — chosen over blake2b because the DuckDB oracle
    reproduces it exactly:
    ``CAST(concat('0x', substr(md5(tok), 1, 16)) AS UBIGINT)`` —
    which turns the simhash driver row into a full value-hash oracle
    instead of a rows-only check."""
    return int(hashlib.md5(s.encode()).hexdigest()[:16], 16)


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE31, size=n_hashes, dtype=np.int64)
    return a, b


def _shingle_hashes(toks: list, k: int, vocab: dict) -> np.ndarray:
    """Distinct k-shingle 64-bit hashes, vectorized: each UNIQUE token
    is blake2b-hashed once per task (vocab cache), then shingle hashes
    are a polynomial combination of the k token-hash arrays — no
    per-shingle Python hashing (the round-1 hot spot)."""
    if not toks:
        return np.empty(0, dtype=np.uint64)

    def _cached(t: str) -> int:
        h = vocab.get(t)
        if h is None:  # hash each UNIQUE token once per task
            h = vocab[t] = _hash64(t)
        return h

    th = np.fromiter(
        (_cached(t) for t in toks), dtype=np.uint64, count=len(toks),
    )
    with np.errstate(over="ignore"):  # uint64 wraparound IS the hash
        if len(toks) < k:
            acc = np.uint64(0x9E3779B97F4A7C15)
            for i, h in enumerate(th):
                acc = acc * _POLY[i % 3] + h
            return np.array([acc], dtype=np.uint64)
        n = len(toks) - k + 1
        acc = np.zeros(n, dtype=np.uint64)
        for j in range(k):
            acc = acc * _POLY[j % 3] + th[j : j + n]
        return np.unique(acc)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, signature[array<long>]) per doc, one ``row_stage``; each
    doc's signature is one numpy op (a*x+b mod p universal hashing)."""
    a, b = _minhash_params(n_hashes)
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("signature", ArrayType(LongType()), False),
        ]
    )

    # token-hash cache: closure state, so each task deserializes its
    # own empty dict (the lifetime of a per-partition local)
    vocab: dict = {}

    def per_row(did, text):
        if len(vocab) > 1_000_000:
            # bound the per-task cache on huge vocabularies — checked
            # per DOC so a single giant batch cannot blow past it
            vocab.clear()
        toks = split_tokens((text or "").lower())
        sh = _shingle_hashes(toks, shingle_k, vocab)
        if sh.size == 0:
            sig = np.zeros(n_hashes, dtype=np.int64)
        else:
            xs = (sh & np.uint64(_MAXH)).astype(np.int64)
            # (a*x + b) mod p, exact in int64, then min over shingles
            # per hash fn
            m = (a[:, None] * xs[None, :] + b[:, None]) % _MERSENNE31
            sig = m.min(axis=1)
        return ((did, sig.tolist()),)

    return row_stage(df, [id_col, text_col], per_row, schema)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 16
) -> DataFrame:
    """Band the signature, bucket-join within (band, band-hash):
    candidates never require a cross join. Returns (a, b) pairs a<b."""
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice(
                        F.col("signature"),
                        i * (F.size("signature") / bands).cast("int") + 1,
                        (F.size("signature") / bands).cast("int"),
                    ).cast("string")
                ),
            )
        ).alias("band", "bucket"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )
    return pairs


def minhash_jaccard_estimate(
    sigs: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Estimated Jaccard = fraction of matching minhash positions."""
    sa = sigs.select(F.col(id_col).alias("a"), F.col("signature").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("signature").alias("_sb"))
    j = pairs.join(sa, "a").join(sb, "b")
    match = F.size(
        F.filter(
            F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda v: v
        )
    )
    return j.select(
        "a", "b", (match / F.size("_sa")).alias("jaccard_est")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline -> (a, b, jaccard_est).

    Cache lifetime (shared by every near-dup, span and triangle
    builder): the signature table feeds BOTH sides of the band
    self-join plus the estimate join — without caching, the Python
    signature stage re-runs 3-4x — so it is persisted, the small pair
    output is materialized (localCheckpoint), and the signature cache
    is released before returning; repeated calls in a long-lived
    session cannot accumulate executor storage."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes).persist()
    try:
        pairs = lsh_candidate_pairs(sigs, id_col, bands)
        est = minhash_jaccard_estimate(sigs, pairs, id_col)
        out = est.filter(F.col("jaccard_est") >= threshold)
        # near-dup pairs are orders of magnitude smaller than the
        # corpus — materializing them is how the cache gets released
        return out.localCheckpoint(eager=True)
    finally:
        sigs.unpersist()


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over tokens (Charikar); near-dups differ in few
    bits. Token weight = occurrence count; bit b of the signature is
    set iff the weighted ±1 sum over token-hash bit b is strictly
    positive. One ``row_stage``, vectorized per UNIQUE token (hash
    cached per task, one (unique × 64) matrix op per doc). The
    md5-low-64 token hash is deliberately SQL-reproducible — the
    driver's DuckDB oracle recomputes every signature bit-exactly (see
    _md5_64)."""
    from collections import Counter

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("simhash", LongType(), False),
        ]
    )

    bits = np.arange(64, dtype=np.uint64)
    vocab: dict = {}  # per-task token-hash cache, as in minhash_signatures

    def per_row(did, text):
        if len(vocab) > 1_000_000:
            vocab.clear()
        counts = Counter(split_tokens((text or "").lower()))
        if counts:
            hs = np.empty(len(counts), dtype=np.uint64)
            ws = np.empty(len(counts), dtype=np.int64)
            for i, (t, w) in enumerate(counts.items()):
                h = vocab.get(t)
                if h is None:
                    h = vocab[t] = _md5_64(t)
                hs[i] = h
                ws[i] = w
            signs = np.where(
                (hs[:, None] >> bits[None, :]) & np.uint64(1),
                ws[:, None], -ws[:, None],
            )
            acc = signs.sum(axis=0)
        else:
            acc = np.zeros(64, dtype=np.int64)
        sig = int(((acc > 0).astype(np.uint64) << bits).sum(dtype=np.uint64))
        return ((did, sig - (1 << 64) if sig >= (1 << 63) else sig),)

    return row_stage(df, [id_col, text_col], per_row, schema)


# Manku/Jain/Das Sarma (WWW'07) multi-index layout: split the 64-bit
# simhash into 6 blocks; a pair within hamming distance 3 leaves >= 3
# blocks untouched, so indexing every C(6,3)=20 combination of 3 blocks
# (~32-bit keys) guarantees such a pair shares at least one key.
_SIMHASH_BLOCKS = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]
_SIMHASH_COMBOS = [
    (i, j, k)
    for i in range(6) for j in range(i + 1, 6) for k in range(j + 1, 6)
]


def simhash_candidate_pairs(
    sigs: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Candidate pairs within ``max_hamming`` bits, via the Manku
    multi-index: 20 bands of ~32-bit keys instead of 4 bands of 16-bit
    keys. At 10^9+ docs a 16-bit band holds ~n/65k docs per bucket and
    the within-bucket self-join goes quadratic; 32-bit keys keep the
    expected bucket population O(n / 4e9) — the scale knob the round-1
    design lacked. Guarantee: hamming <= 3 differing bits touch <= 3 of
    the 6 blocks, so some untouched 3-block combination key is shared
    (pigeonhole). The exact hamming filter runs on candidates only."""
    if max_hamming > 3:
        # the C(6,3) index is only COMPLETE for hamming <= 3: a pair
        # differing in 4+ bits can touch 4+ blocks and share no key —
        # silently returning an incomplete pair set would be a trap
        raise ValueError(
            f"simhash_candidate_pairs guarantees completeness only for "
            f"max_hamming <= 3 (got {max_hamming}); use more blocks "
            f"(Manku C(b, d) layout) for larger radii"
        )

    def block(i):
        off, width = _SIMHASH_BLOCKS[i]
        return F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    keys = [
        # combo id in the top bits keeps bands disjoint in one column.
        # The cid shift is folded in PYTHON: F.shiftleft(F.lit(cid), 54)
        # shifts a 32-bit int literal, and Spark's shiftleft wraps the
        # shift amount mod 32 (54 -> 22), which would overlap block(k)'s
        # field and merge bands
        (block(i) + F.shiftleft(block(j), 11)
         + F.shiftleft(block(k), 22)
         + F.lit(cid << 54)).cast("long")
        for cid, (i, j, k) in enumerate(_SIMHASH_COMBOS)
    ]
    banded = sigs.select(
        id_col, "simhash", F.explode(F.array(*keys)).alias("key")
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            _hamming64(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _hamming64(x, y):
    return F.bit_count(x.bitwiseXOR(y))


def _cosine_pair_sides(emb: DataFrame, id_col: str, vec_col: str):
    """(a-side, b-side, cosine expr) shared by the exact and LSH tiers —
    keeps the norm-guard and rounding rules in exactly one place."""
    from .similarity import _dot, _norm

    v = F.col(vec_col).cast("array<double>")
    a = emb.select(F.col(id_col).alias("a"), v.alias("_va"),
                   _norm(v).alias("_na"))
    b = emb.select(F.col(id_col).alias("b"), v.alias("_vb"),
                   _norm(v).alias("_nb"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (
        F.greatest(F.col("_na"), F.lit(1e-12))
        * F.greatest(F.col("_nb"), F.lit(1e-12))
    )
    return a, b, cos


def embedding_neardup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup, exact tier: all pairs (a < b) with
    cosine >= threshold. Entirely JVM-side (zip_with/aggregate inside
    whole-stage codegen). O(n^2) — the correctness baseline and the
    DuckDB-oracle twin; use embedding_neardup_lsh as the scale path."""
    a, b, cos = _cosine_pair_sides(emb, id_col, vec_col)
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def _embedding_band_keys(
    emb: DataFrame, id_col: str, vec_col: str, n_bits: int, n_tables: int,
) -> DataFrame:
    """(id, key): one row per vector and LSH table, keyed
    ``bucket + (table << n_bits)`` so every table has its own key
    space — the bands of ``embedding_neardup_lsh``, one
    ``batch_stage``."""
    from .similarity import lsh_table_buckets, vector_matrix

    schema = StructType(
        [
            StructField(id_col, emb.schema[id_col].dataType, False),
            StructField("key", LongType(), False),
        ]
    )
    offsets = np.arange(n_tables, dtype=np.int64) << n_bits

    def per_batch(ids, vecs):
        keys = lsh_table_buckets(vector_matrix(vecs), n_bits, n_tables)
        return (repeat_each(ids, n_tables),
                (keys + offsets).ravel())

    return batch_stage(emb, [id_col, vec_col], per_batch, schema)


def embedding_neardup_lsh(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9, n_bits: int = 8, n_tables: int = 12,
) -> DataFrame:
    """Embedding-cosine near-dup, scale tier: candidate pairs share a
    hyperplane-LSH bucket in ANY of L tables (never a cross join —
    the same band-join shape as MinHash-LSH), then the exact cosine
    filter runs on candidates only. Collision probability per table is
    (1 - theta/pi)^b, so recall at a given cosine is 1-(1-p^b)^L;
    n_bits scales with log(n) to bound bucket population, n_tables is
    the recall knob. Candidates are a strict subset of the brute-force
    pairs (property-tested). Buckets come from
    ``similarity.lsh_table_buckets`` (seeded planes, so every task
    agrees; the dimension is read from the batch, so no driver-side
    ``first()`` job); table t's bucket is keyed ``bucket + (t << b)``.

    Cache lifetime follows minhash_dedup_pairs: the bucket table feeds
    both self-join sides, so it is persisted, the small pair output is
    materialized and the bucket cache released before returning."""
    # persist: the banded keys feed both sides of the self-join —
    # uncached, the Python bucketing stage runs twice
    banded = _embedding_band_keys(emb, id_col, vec_col, n_bits,
                                  n_tables).persist()
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )
    # exact cosine on CANDIDATES only (two hash joins + codegen math)
    va, vb, cos = _cosine_pair_sides(emb, id_col, vec_col)
    out = (
        cand.join(va, "a").join(vb, "b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        banded.unpersist()


def _shingles_expr(text_col: str, n: int):
    """Distinct word n-gram (shingle) array as a pure column
    expression — lowercase, ``textops.tokens``, slide an n-window;
    a doc shorter than n tokens contributes its whole text as one
    shingle. Shared by the Jaccard verify stage and the rare-n-gram
    blocker so both see byte-identical shingle sets; the MinHash and
    SimHash stages read the same tokens through
    ``textops.split_tokens``, and the DuckDB oracles replay the same
    definition."""
    toks = tokens(F.lower(F.col(text_col)))
    sh = F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, n)
            ),
        )
    )
    return F.array_distinct(sh)


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram (word-shingle) Jaccard on candidate pairs — the
    verification stage. JVM-side: shingle arrays via transform over a
    token sequence, intersection/union sizes via array functions.

    Only CANDIDATE docs are shingled: df is semi-joined against the
    distinct ids appearing in ``pairs`` BEFORE the shingle projection.
    At 10^9 docs with a ~1% candidate rate, shingling the full corpus
    on both join sides would be ~100x wasted compute + shuffle width
    (the round-3 hot stage). ``pairs`` is referenced three times (the
    pair join + both semi-join sides) — pass a persisted/materialized
    pairs DF so its subtree isn't recomputed.

    The shingled candidate table itself feeds BOTH pair-join sides, so
    without caching the scan+semi-join+shingle pipeline runs twice: it
    is persisted (bounded by the candidate-doc count), the small
    Jaccard output is materialized and the shingle cache released
    before returning — the minhash_dedup_pairs lifetime."""
    cand_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh = _shingles_expr(text_col, n)
    # broadcast the small id set: a shuffled semi-join would
    # hash-partition every (id, text) row just to drop most of them
    with_sh = df.join(F.broadcast(cand_ids), id_col, "semi").select(
        F.col(id_col), sh.alias("_sh")
    ).persist()
    a = with_sh.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sha"))
    b = with_sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))
    j = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    out = j.select(
        "a", "b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        with_sh.unpersist()


def rare_ngram_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str = "text",
    n: int = 3, max_df: int = 20,
) -> DataFrame:
    """Candidate near-dup pairs via RARE-n-gram inverted-index
    blocking: two docs are candidates iff they share at least one
    word n-gram whose document frequency is in ``[2, max_df]``.

    The deterministic, hash-free member of the dedup family (vs
    MinHash banding / SimHash keys / embedding planes): no seeds, no
    probability of missing a pair at random — a true pair is missed
    only if EVERY shingle it shares is more common than ``max_df``,
    i.e. the overlap consists entirely of boilerplate. That makes the
    whole ladder replayable in plain SQL (the driver oracle replays
    blocking AND verify value-for-value).

    Scale shape (the same geometry argument as winnow pairs,
    textops.winnow_neardup_pairs): one shuffle to count per-gram df,
    a semi-join to keep postings of rare grams only, then a bounded
    equi-join — the df cap hard-bounds any gram's pair fanout to
    C(max_df, 2), so no boilerplate shingle ("click here to read
    more") can create a quadratic join bucket at web scale. df > 1
    is dropped too (a gram seen once can't witness a pair).
    """
    posts = df.select(
        F.col(id_col), F.explode(_shingles_expr(text_col, n)).alias("gram")
    )
    rare = posts.groupBy("gram").agg(F.count("*").alias("_df")).filter(
        (F.col("_df") >= 2) & (F.col("_df") <= max_df)
    ).select("gram")
    rp = posts.join(rare, "gram", "semi")
    x = rp.select(F.col("gram"), F.col(id_col).alias("a"))
    y = rp.select(F.col("gram"), F.col(id_col).alias("b"))
    return (
        x.join(y, "gram")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str = "text",
    n: int = 3, max_df: int = 20, threshold: float = 0.5,
) -> DataFrame:
    """Full n-gram-Jaccard dedup ladder: rare-n-gram blocking →
    exact shingle-Jaccard verify on candidates only → threshold.
    Deterministic end to end; the driver oracle replays every stage.

    The candidate pairs feed the verify join and both semi-join sides
    of the shingle narrowing, so they are persisted until the verify
    stage (which materializes its own output) returns; the threshold
    filter then runs on that materialized result."""
    cand = rare_ngram_candidate_pairs(
        df, id_col, text_col=text_col, n=n, max_df=max_df
    ).persist()
    try:
        verified = ngram_jaccard_pairs(df, cand, id_col,
                                       text_col=text_col, n=n)
    finally:
        cand.unpersist()
    return verified.filter(F.col("jaccard") >= threshold).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard")
    )


def dedup_clusters(
    pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id",
    a: str = "a", b: str = "b",
) -> DataFrame:
    """Turn verified near-dup PAIRS into the actual dedup DECISION:
    (id, canonical_id, cluster_size, keep). Near-duplicate relations
    are not transitive pairwise, but dedup must be a partition — the
    standard construction (MinHashLSH dedup as deployed for web-scale
    LLM corpora) takes connected components of the verified-pair
    graph as clusters and keeps one representative per cluster; the
    representative is the MINIMUM id (deterministic, engine-neutral).

    Composition, not new machinery: components come from
    canonicalize.connected_components (size-adaptive star-contraction,
    one job per round); ids transit CC as strings (its IRI interface)
    but the representative is re-derived as min() over the ORIGINAL
    typed ids, so numeric ids never suffer lexicographic-min surprises
    ("10" < "9"). Singletons never enter CC at all — a left join gives
    them canonical=self, size=1, keep=true. All joins equi-joins on
    id / cluster key; cluster keys are near-dup groups, so key groups
    are small and skew-safe by construction.
    """
    from .canonicalize import connected_components

    edges = pairs.select(
        F.col(a).cast("string").alias("src"),
        F.col(b).cast("string").alias("dst"),
    )
    comp = connected_components(edges)
    ids = docs.select(id_col).distinct()
    m = ids.join(
        comp, F.col(id_col).cast("string") == F.col("iri"), "left"
    ).select(
        id_col,
        F.coalesce(
            F.col("canonical"), F.col(id_col).cast("string")
        ).alias("_ck"),
    )
    rep = m.groupBy("_ck").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("cluster_size"),
    )
    return m.join(rep, "_ck").select(
        id_col,
        "canonical_id",
        "cluster_size",
        (F.col(id_col) == F.col("canonical_id")).alias("keep"),
    )
