"""Storage-layout helpers for the 100-TB deployment: bucketed tables
for shuffle-free co-located joins, and explicit salting for skewed
join keys the optimizer cannot split.

Why this module exists: the two expensive join families in the KG
pipeline are (a) triple-table self-joins on ``s`` (pattern chains,
difference/intersection between snapshot generations) and (b) joins
against canonical/entity maps on a zipf-skewed key. (a) is solved by
LAYOUT — write both sides bucketed by the join key and Catalyst plans
a SortMergeJoin with NO Exchange on either side; (b) is solved at
runtime by AQE skew splitting, with ``salted_join`` as the explicit
fallback for engines/paths where AQE cannot help (e.g. a join followed
by a positional window, or a build side too large to broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+sorted) managed table. Joins and
    aggregations on ``bucket_cols`` between tables bucketed the same
    way run WITHOUT a shuffle on either side (verified by plan test).
    At 100 TB the bucket count is sized so one bucket of the fact
    table is one comfortable task input (~n_buckets = size / 256 MB)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_triples_pbucketed(
    df: DataFrame,
    path: str,
    n_p_buckets: int = 64,
    n_salts: int = 16,
) -> None:
    """Materialize a triple table partitioned by
    ``p_bucket = pmod(xxhash64(p), n_p_buckets)`` so a pattern scan
    with a bound predicate (R1's most common shape) reads only
    1/n_p_buckets of the DIRECTORIES — directory-level partition
    pruning, stronger than the row-group min/max skipping a clustered
    unpartitioned layout gives. Hash-bucketing rather than
    ``partitionBy("p")`` bounds the directory count: web-KG predicate
    cardinality is unbounded and zipf-skewed, and a million tiny
    partitions is its own scale failure.

    Within the write, rows are repartitioned by (p, subject-salt):
    predicate locality keeps parquet column stats tight while the salt
    caps any single writer task at ~1/n_salts of the hottest predicate
    (rdf:type alone is often >20% of a web KG)."""
    out = df.withColumn(
        "p_bucket",
        F.pmod(F.xxhash64("p"), F.lit(n_p_buckets)).cast("int"),
    )
    (
        out.repartition(
            F.col("p"), F.pmod(F.xxhash64("s"), F.lit(n_salts))
        )
        .write.mode("overwrite")
        .partitionBy("p_bucket")
        .parquet(path)
    )


def scan_pattern_pbucketed(
    spark: SparkSession,
    path: str,
    s: str | None = None,
    p: str | None = None,
    o: str | None = None,
    n_p_buckets: int = 64,
) -> DataFrame:
    """R1 pattern scan over a write_triples_pbucketed layout. A bound
    ``p`` adds the partition predicate
    ``p_bucket = pmod(xxhash64(lit(p)), n)`` — a deterministic
    expression of literals that Catalyst constant-folds, so the scan
    lists only the matching bucket directory (verified by a
    file-audit test via input_file_name). n_p_buckets must match the
    writer's value; the s/o/p equality filters still push down within
    the surviving files."""
    from .algebra import pattern_filter

    df = spark.read.parquet(path)
    if p is not None:
        df = df.filter(
            F.col("p_bucket")
            == F.pmod(F.xxhash64(F.lit(p)), F.lit(n_p_buckets)).cast("int")
        )
    return pattern_filter(df, s=s, p=p, o=o).drop("p_bucket")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the big side gets a random-but-deterministic
    salt derived from its other columns; the small side is exploded
    n_salts ways. A hot key that would land on one reducer spreads over
    ``n_salts`` of them at the cost of replicating the small side's hot
    rows. Columns of both inputs are preserved (small's key column is
    deduplicated). Prefer AQE skew-join where it applies; this is the
    explicit tool for paths AQE cannot rewrite.

    Only join types where an unmatched SMALL row produces no output are
    allowed: under right/full outer joins the exploded small side would
    emit every unmatched small row ``n_salts`` times (silent
    duplication), so those are rejected."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} (got {how!r}): "
            "right/full outer would duplicate unmatched small-side rows "
            "n_salts times"
        )
    big_cols = [c for c in big.columns if c != key]
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in big_cols]) if big_cols
        else F.monotonically_increasing_id(),
        F.lit(n_salts),
    ).cast("int")
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")


def zorder_key(c1, c2, bits: int = 16):
    """Morton/Z-order interleave of the low ``bits`` bits of two
    NON-NEGATIVE integer columns -> one BIGINT sort key whose range
    order is simultaneously local in BOTH dimensions — the multi-column
    data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER BY): range-
    partitioning and sorting by this key gives every output file a
    tight min/max bounding box on BOTH source columns, so parquet
    row-group statistics prune scans filtered on EITHER column. A
    plain two-column sort only clusters the leading column; the
    trailing column's per-file range stays full-width and its filters
    prune nothing.

    Pure bit arithmetic (shiftright/&/shiftleft folded into one
    column expression, whole-stage-codegen) — engine-replayable, so
    the key itself is value-oracled in the driver contract. Values
    must fit in ``bits`` bits (upstream-normalize: dictionary-encode,
    or take ``pmod(x, 2**bits)`` accepting wraparound locality)."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(c1.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(c2.cast("long"), i) % 2, 2 * i + 1)
        )
    return key.cast("long")


def write_zordered(
    df: DataFrame, path: str, c1: str, c2: str,
    bits: int = 16, n_files: int = 16,
) -> None:
    """Materialize ``df`` range-partitioned and sorted by the Morton
    key of (c1, c2): ``n_files``-way repartitionByRange on the key
    (sampled range boundaries — balanced files even under skew) +
    sortWithinPartitions, so every parquet file covers one compact
    Z-curve segment = one tight 2-D bounding box. Readers need no
    code change: parquet min/max stats on c1 AND c2 do the pruning."""
    key = zorder_key(F.col(c1), F.col(c2), bits)
    (
        df.withColumn("_z", key)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(path)
    )
