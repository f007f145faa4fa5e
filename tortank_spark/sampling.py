"""Deterministic sampling operators for training-data pipelines:
reproducible stratified subsets (per-language eval carve-outs, ablation
slices, human-review draws) that every rerun — and the DuckDB oracle —
reproduces bit-for-bit. No RNG state: the sampling key is a hash of
the row id, so the draw is a pure function of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def _tournament(
    df: DataFrame, group: str, key, tie: str, salt, k: int,
) -> DataFrame:
    """The k smallest (``key``, ``tie``) rows of each ``group`` as a
    salted two-level tournament -> ``df`` plus ``_rank`` (1..k). Level
    1 takes a local top-k within (group, ``salt``), so every window
    partition holds ~1/n_salts of a group; level 2 re-ranks the
    surviving k * n_salts candidates per group (bounded rows by
    construction). ``tie`` makes the order total, so the salt NEVER
    affects the result (the top-k of a total order is
    partitioning-invariant) and an oracle replays a plain per-group
    row_number."""
    lvl1 = Window.partitionBy(group, "_salt").orderBy("_key", tie)
    lvl2 = Window.partitionBy(group).orderBy("_key", tie)
    return (
        df.withColumn("_key", key)
        .withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(lvl1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rank", F.row_number().over(lvl2))
        .filter(F.col("_rank") <= k)
        .drop("_key", "_salt", "_rn")
    )


def stratified_sample(
    df: DataFrame, strata_col: str, id_col: str, k: int,
    n_salts: int = 64,
) -> DataFrame:
    """Exactly ``k`` rows per stratum (fewer iff the stratum is
    smaller), chosen as the k smallest md5(id) values — a
    deterministic uniform draw that is reproducible across reruns,
    engines (md5 is byte-identical in Spark and DuckDB), and any
    partitioning. ``id_col`` must be unique; it breaks the (already
    astronomically unlikely) hash ties, making the order total.

    Scale shape — the naive formulation (one row_number window
    partitioned by stratum) sorts EACH ENTIRE STRATUM in a single
    task: a web-scale 'en' stratum is one straggler/OOM. This runs the
    salted two-level tournament (``_tournament``) over ``n_salts``
    hash-derived salts instead; the salt never affects the result, so
    the oracle replays a plain per-stratum row_number — which is also
    why the driver check stays a FULL value oracle without replicating
    xxhash64 salting in SQL."""
    key = F.md5(F.col(id_col).cast("string"))
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    return _tournament(df, strata_col, key, id_col, salt, k).drop("_rank")


def sample_neighbors(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
    n_salts: int = 64,
) -> DataFrame:
    """Deterministic per-node out-neighbor sample -> (src, dst, rank):
    the k smallest md5("src:dst") edges of each source node — the
    GraphSAGE fan-out draw as a pure function of the data (reruns,
    engines, and partitionings all agree; no RNG state to ship to
    executors). Hashing the PAIR matters: hashing dst alone would
    elect the same globally-lucky neighbors under every node.

    The salted two-level tournament (``_tournament``, grouped by src)
    means a web-scale celebrity node never sorts its whole adjacency
    in one task; the salt provably never changes the result, so the
    oracle replays a plain per-src row_number.

    Ranks are prefix-stable: the rank<=j subset IS the j-fanout
    sample, so one ranking serves every smaller fanout for free."""
    key = F.md5(
        F.concat(
            F.col(src).cast("string"), F.lit(":"),
            F.col(dst).cast("string"),
        )
    )
    salt = F.pmod(F.xxhash64(F.col(src), F.col(dst)), F.lit(n_salts))
    return _tournament(edges.select(src, dst), src, key, dst, salt, k
                       ).select(src, dst, F.col("_rank").alias("rank"))


def khop_sample(
    edges: DataFrame, fanouts: tuple[int, int] = (3, 2),
    src: str = "src", dst: str = "dst", n_salts: int = 64,
) -> DataFrame:
    """Two-hop deterministic neighborhood expansion -> (root, n1, r1,
    n2, r2): fanouts[0] sampled neighbors per root, fanouts[1] per
    hop-1 node (nulls when a hop-1 node has no out-edges — leaf
    evidence is training signal too). Each node's neighbors are
    sampled ONCE and reused wherever the node appears (the standard
    GraphSAGE economy), and because ranks are prefix-stable the
    hop-2 sample is just rank <= fanouts[1] of the SAME ranking —
    one tournament serves both hops. The expansion is an equi-join
    on the hop-1 node id; fan-out per row is bounded by fanouts[1]."""
    k1, k2 = fanouts
    # both join sides branch off the one ranking — checkpoint it so
    # the tournament runs once, not once per branch
    s = sample_neighbors(edges, max(k1, k2), src, dst, n_salts
                         ).localCheckpoint(eager=False)
    s1 = s.filter(F.col("rank") <= k1).select(
        F.col(src).alias("root"), F.col(dst).alias("n1"),
        F.col("rank").alias("r1"),
    )
    s2 = s.filter(F.col("rank") <= k2).select(
        F.col(src).alias("n1"), F.col(dst).alias("n2"),
        F.col("rank").alias("r2"),
    )
    return s1.join(s2, "n1", "left").select(
        "root", "n1", "r1", "n2", "r2"
    )


# multiplicative-hash constants for negative corruption (Knuth-style;
# chosen so every intermediate term stays far below 2^63 once inputs
# are reduced mod 2^31-1 — ANSI-mode BIGINT arithmetic never wraps)
_NEG_M = 2_147_483_647
_NEG_A = 1_103_515_245  # subject multiplier
_NEG_B = 747_796_405    # predicate multiplier
_NEG_C = 62_089_911     # sample-index multiplier
_NEG_D = 104_729        # object multiplier


def negative_samples(
    facts: DataFrame, n_entities: int, k: int = 2,
    s_col: str = "s_id", p_col: str = "p_id", o_col: str = "o_id",
    filter_false_negatives: bool = True,
) -> DataFrame:
    """KG-embedding training pairs: every positive fact plus ``k``
    corrupted-object negatives per fact -> (s, p, o, label) — the
    TransE/DistMult-style sampling step a training-data pipeline
    materializes ahead of embedding training (Bordes et al., NeurIPS
    2013 corrupt-one-side scheme; object-side here, run it again on a
    swapped view for subject-side).

    Entities must be dense integer ids 0..n_entities-1 (the standard
    KGE vocabulary index encoding, built upstream). Corruption is a pure
    function of the row — NO RNG state: the replacement id is a
    multiplicative hash of (s, p, o, j) mod n_entities, bumped by one
    when it collides with the true object. Deterministic across
    reruns, partitionings, AND engines (plain BIGINT arithmetic, so
    the DuckDB oracle replays every sample — a seeded RNG never
    could). With ``filter_false_negatives`` the generated negatives
    are anti-joined against the positives (corruptions that happen to
    be true facts are dropped — the 'filtered' setting of the KGE
    literature, one hash-partitioned anti-join).

    Scale: one narrow projection per sample index unioned (k is 1-10,
    never data-sized), one optional anti-join on (s,p,o); output
    ~(k+1)x the fact table, written once, read every epoch."""
    spark = facts.sparkSession
    s, p, o = F.col(s_col), F.col(p_col), F.col(o_col)
    pos = facts.select(
        s.alias("s_id"), p.alias("p_id"), o.alias("o_id")
    ).distinct()
    js = spark.range(1, k + 1).select(F.col("id").alias("j"))
    idx0 = (
        F.pmod(s, F.lit(_NEG_M)) * _NEG_A
        + F.pmod(p, F.lit(_NEG_M)) * _NEG_B
        + F.col("j") * _NEG_C
        + F.pmod(o, F.lit(_NEG_M)) * _NEG_D
    ) % n_entities
    neg = (
        pos.crossJoin(F.broadcast(js))
        .withColumn("_i", idx0)
        .withColumn(
            "o_neg",
            F.when(F.col("_i") == F.col("o_id"),
                   (F.col("_i") + 1) % n_entities)
            .otherwise(F.col("_i")),
        )
        .select("s_id", "p_id", F.col("o_neg").alias("o_id"))
        .distinct()
    )
    if filter_false_negatives:
        neg = neg.join(pos, ["s_id", "p_id", "o_id"], "left_anti")
    return pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0))
    )


def split_assign(
    df: DataFrame, id_col: str,
    weights: tuple[tuple[str, int], ...] = (
        ("train", 98), ("val", 1), ("test", 1),
    ),
    salt: int = 0,
) -> DataFrame:
    """Deterministic train/val/test split -> input + ``split`` column:
    the dataset-carving step every training pipeline runs last, and
    the one that must NEVER move under reruns, repartitioning, or
    appends (a val doc drifting into train is silent leakage). The
    bucket is a pure function of the row id — NO RNG:
    ``bucket = (((id mod M) * A + (salt+1) * C) mod M) mod total``
    — a Lehmer-LCG step: the intermediate ``mod M`` (M = 2^31-1,
    prime) is load-bearing, because without it the low-order
    structure of A leaks straight into small moduli (A ≡ 5 mod 10
    makes only 2 of 10 buckets reachable; reducing mod a prime first
    mixes all residues, measured max/min bucket skew < 1.001 over
    100k ids). (The negative-sampling hash family; plain BIGINT, so
    the DuckDB oracle — and any other engine — replays every
    assignment). ``id_col`` must be integer (the vocabulary/doc-id
    encoding); appended rows keep old assignments untouched because
    each row depends only on itself.

    ``salt`` selects an independent carve (cross-validation folds =
    salts 0..k-1); weights are integer shares of the whole (98/1/1 ->
    exact hash-bucket ranges, not approximate percentages).

    Scale shape: ONE narrow projection — no shuffle, no join, no
    Python; predicate pushdown and column pruning pass straight
    through it."""
    total = sum(w for _, w in weights)
    if total <= 0 or any(w < 0 for _, w in weights):
        raise ValueError("weights must be non-negative with a positive sum")
    bucket = F.pmod(
        F.pmod(
            F.pmod(F.col(id_col), F.lit(_NEG_M)) * _NEG_A
            + F.lit(salt + 1) * _NEG_C,
            F.lit(_NEG_M),
        ),
        F.lit(total),
    )
    expr = None
    cum = 0
    for name, w in weights:
        cum += w
        cond = bucket < F.lit(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def transe_score(
    candidates: DataFrame,
    entities: DataFrame,
    relations: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TransE link-prediction scoring (Bordes et al. 2013, "Translating
    Embeddings for Modeling Multi-relational Data"): for each candidate
    fact (h, r, t), the squared L2 energy ``||e_h + e_r - e_t||^2`` —
    low score = plausible fact. This is the knowledge-base-completion
    gate a construction pipeline runs over machine-proposed triples
    (relation-induction candidates, co-occurrence edges) before
    admitting them to the KG, the scoring-side complement of
    negative_samples' training-side output.

    ``candidates``: (h, r, t) id columns; ``entities``/``relations``:
    (id_col, vec_col) embedding tables. Returns (h, r, t, score)
    with score rounded to 6 dp (stable for value-hashing across
    engines; element arithmetic runs in double, the sum is a
    left-to-right fold).

    Scale shape: relations are vocabulary-sized — broadcast; the two
    entity joins shuffle ONLY the candidate table on h then t (the
    entity table is hash-joined once per side; pre-bucket both sides
    on the id for a shuffle-free variant). Scoring is one JVM-side
    zip_with + aggregate per row — columnar, no Python."""
    ent_h = entities.select(
        F.col(id_col).alias("h"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_eh"),
    )
    ent_t = entities.select(
        F.col(id_col).alias("t"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_et"),
    )
    rel = relations.select(
        F.col(id_col).alias("r"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_er"),
    )
    d = (
        candidates.join(ent_h, "h")
        .join(F.broadcast(rel), "r")
        .join(ent_t, "t")
        .withColumn(
            "_d",
            F.zip_with(
                F.zip_with("_eh", "_er", lambda a, b: a + b),
                F.col("_et"),
                lambda a, b: a - b,
            ),
        )
    )
    return d.select(
        "h", "r", "t",
        F.round(
            F.aggregate(
                "_d", F.lit(0.0).cast("double"),
                lambda acc, x: acc + x * x,
            ),
            6,
        ).alias("score"),
    )
