"""Similarity search over an embedding column (array<float>).

* ``topk_cosine`` — exact brute-force top-k, entirely JVM-side: the dot
  product is ``aggregate(zip_with(...))`` column expressions inside
  whole-stage codegen; top-k is a single ORDER BY LIMIT (Spark's
  TakeOrderedAndProject — no full sort materialization).
* ``lsh_multitable_topk`` — approximate top-k: L seeded random-hyperplane
  tables (``lsh_table_buckets``, the one LSH kernel, which
  dedup.embedding_neardup_lsh also keys on); only vectors sharing the
  query's bucket in some table are scored exactly. At scale each
  table's bucket column is a partition key, so the scan prunes to the
  candidate buckets.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .extract import batch_stage


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_to_query(df: DataFrame, vec_col: str, query: list) -> DataFrame:
    """Add a ``cosine`` column = cos(vec, query); query is broadcast as
    a literal array (driver-side constant folding)."""
    q = F.array([F.lit(float(x)) for x in query])
    vec = F.col(vec_col).cast("array<double>")
    cos = _dot(vec, q) / (
        F.greatest(_norm(vec), F.lit(1e-12)) * F.greatest(_norm(q), F.lit(1e-12))
    )
    return df.withColumn("cosine", cos)


def topk_cosine(
    df: DataFrame, vec_col: str, query: list, k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity."""
    scored = cosine_to_query(df, vec_col, query)
    return (
        scored.select(id_col, F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _table_planes(dim: int, n_bits: int, table: int) -> np.ndarray:
    """Table ``table``'s (n_bits, dim) hyperplanes. The seeds are part of
    the output: the DuckDB oracles replay these exact constants."""
    rng = np.random.RandomState(7 + 31 * table)
    return rng.normal(size=(n_bits, dim)).astype(np.float64)


def vector_matrix(vecs: pa.Array) -> np.ndarray:
    """One Arrow batch's vector column -> its (n, dim) float64 matrix,
    read from the flat child values in one conversion (no per-row
    array). ``batch_stage`` never passes a 0-row batch, so ``n > 0``
    and the reshape can infer ``dim``; a null or ragged vector fails
    the batch rather than shift the rows after it."""
    dims = np.diff(vecs.offsets.to_numpy())
    if vecs.null_count or dims.min() != dims.max():
        raise ValueError("a vector batch needs non-null vectors of one dim")
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(vecs), -1)


def lsh_table_buckets(mat: np.ndarray, n_bits: int, n_tables: int) -> np.ndarray:
    """(n, dim) vectors -> (n, n_tables) int64 random-hyperplane LSH
    buckets: bit i of table t's bucket is the sign of the vector against
    that table's plane i. One matmul against the stacked (L*b, dim)
    plane matrix; the dimension is read from ``mat``."""
    planes = np.concatenate(
        [_table_planes(mat.shape[1], n_bits, t) for t in range(n_tables)]
    )
    bits = (mat @ planes.T).reshape(len(mat), n_tables, n_bits) > 0
    return (bits.astype(np.int64) << np.arange(n_bits, dtype=np.int64)).sum(
        axis=2
    )


def lsh_multitable_candidates(
    df: DataFrame, vec_col: str, query: list,
    n_bits: int = 4, n_tables: int = 12, id_col: str = "vec_id",
) -> DataFrame:
    """Multi-table LSH candidate set: L independent hyperplane tables;
    a vector is a candidate if it shares the query's bucket in ANY
    table (collision prob 1-(1-p^b)^L). All L buckets are computed in
    ONE ``extract.batch_stage`` (``lsh_table_buckets`` per Arrow batch).
    At scale each table's bucket column is a partition key; b grows
    with log(n) and L is the recall knob."""
    qbuckets = lsh_table_buckets(
        np.asarray([query], dtype=np.float64), n_bits, n_tables
    )[0]

    schema = StructType(
        [StructField(id_col, df.schema[id_col].dataType, False)]
    )

    def per_batch(ids, vecs):
        hit = (lsh_table_buckets(vector_matrix(vecs), n_bits, n_tables)
               == qbuckets).any(axis=1)
        return (ids.filter(pa.array(hit)),)

    return batch_stage(df, [id_col, vec_col], per_batch, schema)


def lsh_multitable_topk(
    df: DataFrame, vec_col: str, query: list, k: int = 10,
    n_bits: int = 4, n_tables: int = 12, id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over the multi-table candidate set, re-ranked
    with the exact scorer."""
    cand = lsh_multitable_candidates(df, vec_col, query, n_bits, n_tables,
                                     id_col)
    return topk_cosine(df.join(cand, id_col, "left_semi"), vec_col, query,
                       k, id_col)


def ann_recall_report(
    df: DataFrame, vec_col: str, query: list, k: int = 10,
    n_bits: int = 4, n_tables: int = 12, id_col: str = "vec_id",
    recall_floor: float = 0.7, scan_ceiling: float = 0.9,
) -> DataFrame:
    """Recall@k of the multi-table ANN vs the exact path, materialized
    as one assertion row (k, recall_ok, pruned): everything is
    deterministic (seeded planes, fixed corpus) so the booleans pin the
    ANN quality as a regression oracle. ``pruned`` certifies the
    candidate set actually pruned the scan (not brute force). NOTE: the
    synthetic embeddings are near-uniform on the sphere — the
    adversarial case for LSH — so the demonstrable recall floor here is
    deliberately below what clustered real embeddings yield."""
    spark = df.sparkSession
    exact = topk_cosine(df, vec_col, query, k, id_col)
    approx = lsh_multitable_topk(df, vec_col, query, k, n_bits, n_tables,
                                 id_col)
    n_hits = approx.select(id_col).join(
        exact.select(id_col), id_col, "left_semi"
    ).count()
    n_cand = lsh_multitable_candidates(
        df, vec_col, query, n_bits, n_tables, id_col
    ).count()
    n_all = df.count()
    recall = n_hits / k
    return spark.createDataFrame(
        [(k, recall >= recall_floor, n_cand < scan_ceiling * n_all)],
        "k int, recall_ok boolean, pruned boolean",
    )


# ------------------------------------------------------------- IVF ---

def kmeans_centroids(
    df: DataFrame, vec_col: str, n_centroids: int = 16,
    sample_rows: int = 4096, iters: int = 12, seed: int = 11,
) -> np.ndarray:
    """Driver-side Lloyd k-means on a deterministic sample — the coarse
    quantizer of an IVF index. The sample is tiny (the quantizer needs
    only the broad geometry), the loop is numpy; at 10^9+ vectors this
    is exactly how IVF training works in practice (train on a sample,
    assign everything). Deterministic end to end: sample MEMBERSHIP is
    a content-hash top-N (TakeOrdered over hash(vector) — a bare
    limit() would pick whichever partitions answered first), sample
    ORDER is a lexsort, init is seeded, iteration count fixed, ties
    broken by lowest centroid id (argmin)."""
    sample = np.stack([
        np.asarray(r[0], dtype=np.float64)
        for r in df.select(vec_col)
        .orderBy(F.hash(F.col(vec_col)).asc(), F.col(vec_col).asc())
        .limit(sample_rows)
        .collect()
    ])
    sample = sample[np.lexsort(sample.T[::-1])]
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                cent[c] = sample[m].mean(axis=0)
    return cent


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, list_id): nearest-centroid assignment. Delegates to
    ivf_assign_inline (single source of truth for the metric) and
    projects — at scale list_id is the partition/bucket key of the
    vector table, so a probe is a partition-pruned scan."""
    return ivf_assign_inline(
        df.select(id_col, vec_col), vec_col, centroids
    ).select(id_col, "list_id")


def ivf_assign_inline(
    df: DataFrame, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """All of ``df``'s columns, passed through untouched, + ``list_id``,
    computed IN the same Arrow pass (no join): the build-path variant
    of ``ivf_assign``.
    At 10^9 vectors this is the difference between one narrow map stage
    and a full shuffle join of the vector table against its own
    assignment."""
    cent = centroids.astype(np.float64)
    cnorm = (cent ** 2).sum(axis=1)
    schema = StructType(
        list(df.schema.fields) + [StructField("list_id", LongType(), False)]
    )
    cols = df.columns
    vi = cols.index(vec_col)

    def per_batch(*arrays):
        d = cnorm[None, :] - 2.0 * (vector_matrix(arrays[vi]) @ cent.T)
        return (*arrays, d.argmin(axis=1))

    return batch_stage(df, cols, per_batch, schema)


def ivf_topk(
    df: DataFrame, vec_col: str, query: list, k: int = 10,
    n_centroids: int = 16, n_probes: int = 4, id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k WITHOUT a persisted index: trains (if no
    centroids are given) and re-assigns the whole table per call — fine
    for a one-shot query or a test, WRONG for repeated queries at
    scale. The production path is build-once/probe-many:
    ``ivf_build`` persists the assigned table partitioned by list_id,
    then ``ivf_topk_indexed`` reads only the probed list directories
    (partition-pruned scan; plan/IO-tested)."""
    if centroids is None:
        centroids = kmeans_centroids(df, vec_col, n_centroids)
    probe_lists = _nearest_lists(centroids, query, n_probes)
    assigned = ivf_assign(df, vec_col, centroids, id_col)
    cand = assigned.filter(F.col("list_id").isin(probe_lists)).select(id_col)
    return topk_cosine(df.join(cand, id_col, "left_semi"), vec_col, query,
                       k, id_col)


def _nearest_lists(
    centroids: np.ndarray, query: list, n_probes: int
) -> list:
    q = np.asarray(query, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    return [int(x) for x in d.argsort()[:n_probes]]


def ivf_build(
    df: DataFrame, vec_col: str, index_dir: str,
    n_centroids: int = 16, id_col: str = "vec_id",
) -> np.ndarray:
    """Build-once IVF index: train the coarse quantizer on a sample,
    assign EVERY vector its nearest list, and persist the table
    PARTITIONED BY list_id (one directory per inverted list) with the
    centroid matrix as a sidecar. This is the one full scan; afterwards
    every query is a partition-pruned read of ``n_probes`` directories
    via ``ivf_topk_indexed`` — at 10^9 vectors the difference between
    a per-query full scan (the round-2 design flaw) and touching
    n_probes/n_centroids of the data. On a real lake this layout is an
    Iceberg/Hive partition transform on list_id."""
    import json as _json
    from pathlib import Path as _Path

    centroids = kmeans_centroids(df, vec_col, n_centroids)
    # list_id is computed inline in one Arrow pass — no self-join; the
    # only shuffle is the clustering repartition before the write
    (
        ivf_assign_inline(df, vec_col, centroids)
        .repartition(n_centroids, F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(index_dir)
    )
    # sidecar AFTER the overwrite (which clears the directory); the
    # underscore prefix keeps Spark's parquet reader from touching it
    _Path(index_dir, "_CENTROIDS.json").write_text(
        _json.dumps(centroids.tolist())
    )
    return centroids


def ivf_load_centroids(index_dir: str) -> np.ndarray:
    import json as _json
    from pathlib import Path as _Path

    return np.asarray(
        _json.loads(_Path(index_dir, "_CENTROIDS.json").read_text()),
        dtype=np.float64,
    )


def ivf_topk_indexed(
    spark, index_dir: str, query: list, k: int = 10, n_probes: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Probe a persisted IVF index: read ONLY the ``n_probes`` list
    directories nearest the query (Spark partition pruning on the
    list_id filter — verified by an input_file_name() scan audit),
    re-rank with the exact scorer. No training, no assignment, no full
    scan."""
    if centroids is None:
        centroids = ivf_load_centroids(index_dir)
    probe_lists = _nearest_lists(centroids, query, n_probes)
    cand = spark.read.parquet(index_dir).filter(
        F.col("list_id").isin(probe_lists)
    )
    return topk_cosine(cand, vec_col, query, k, id_col)


def scan_files_read(
    spark, index_dir: str, probe_lists: list
) -> tuple[set, set]:
    """(files the PRUNED probe scan actually read, files of the full
    index). ``Dataset.inputFiles`` reports the relation's whole file
    index regardless of filters, so the pruned set is observed from the
    EXECUTED scan via ``input_file_name()`` — only files a task opened
    appear."""
    probed = spark.read.parquet(index_dir).filter(
        F.col("list_id").isin(probe_lists)
    )
    read_files = {
        r[0]
        for r in probed.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    all_files = set(spark.read.parquet(index_dir).inputFiles())
    return read_files, all_files


def ivf_recall_report(
    spark, df: DataFrame, vec_col: str, query: list, index_dir: str,
    k: int = 10, n_centroids: int = 16, n_probes: int = 4,
    id_col: str = "vec_id", recall_floor: float = 0.5,
) -> DataFrame:
    """Recall@k of the build-once/probe-many IVF path vs the exact
    scorer, as one deterministic assertion row (seeded k-means, fixed
    corpus): (k, recall_ok, pruned_read). ``pruned_read`` certifies the
    probe's scan touched ONLY probed list directories and strictly
    fewer files than the full index — the IO half of the IVF promise.
    Like sim_lsh_recall, the synthetic embeddings are near-uniform on
    the sphere (the adversarial case for any ANN partitioning), so the
    pinned floor is deliberately below what clustered real embeddings
    yield."""
    centroids = ivf_build(df, vec_col, index_dir, n_centroids, id_col)
    probe_lists = set(_nearest_lists(centroids, query, n_probes))
    approx = ivf_topk_indexed(
        spark, index_dir, query, k, n_probes, vec_col, id_col, centroids
    )
    exact = topk_cosine(df, vec_col, query, k, id_col)
    n_hits = approx.select(id_col).join(
        exact.select(id_col), id_col, "left_semi"
    ).count()
    read_files, all_files = scan_files_read(
        spark, index_dir, list(probe_lists)
    )
    only_probed = all(
        any(f"list_id={p}/" in f for p in probe_lists) for f in read_files
    )
    pruned_read = only_probed and len(read_files) < len(all_files)
    return spark.createDataFrame(
        [(k, n_hits / k >= recall_floor, pruned_read)],
        "k int, recall_ok boolean, pruned_read boolean",
    )


def kmeans_lloyd(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    k: int = 8, iters: int = 2, scale: int = 10 ** 6,
) -> DataFrame:
    """DISTRIBUTED integer-exact Lloyd k-means -> final (vid, cid, d)
    assignment: full-corpus feature-space clustering for corpus
    curation (cluster-balanced training mixtures, diversity sampling,
    per-cluster quality audits) — the complement of kmeans_centroids
    above, which trains a coarse IVF quantizer on a driver-side
    sample; THIS one clusters every vector, distributed.

    Integer-exact and engine-replayable (the pagerank discipline):
    coordinates quantize once to ``floor(x * scale)`` BIGINT, squared
    L2 distances are exact integer sums (quantization changes WHICH
    clustering is computed, never its reproducibility), argmin ties
    break to the lowest centroid id, centroid updates are elementwise
    integer mean (sum DIV count — Spark DIV and DuckDB // both
    truncate toward zero, verified, so negative coordinate sums agree
    too), empty clusters keep their previous centroid, and init is
    the k smallest ids' vectors. Every round replays in the DuckDB
    oracle; float Lloyd could never value-hash (non-associative
    accumulation + libm tie explosions).

    Scale shape per round: one broadcast cross join vectors x k
    centroids (k rows broadcast — never a shuffle of the corpus), one
    min(struct) argmin aggregate, one posexplode + (cid, pos) sum for
    the update (map-side partial; k*dim result rows). The quantized
    table is computed once and checkpointed."""
    from pyspark.sql import Window

    q = df.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint(eager=False)

    w = Window.orderBy("vid")
    cent = (
        q.orderBy("vid").limit(k)
        .select((F.row_number().over(w) - 1).cast("long").alias("cid"),
                F.col("qv").alias("cv"))
        .localCheckpoint(eager=False)
    )

    def _assign(c):
        scored = q.crossJoin(F.broadcast(c)).select(
            "vid", "cid",
            F.expr(
                "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("d"),
        )
        return (
            scored.groupBy("vid")
            .agg(F.min(F.struct(F.col("d"), F.col("cid"))).alias("w"))
            .select("vid", F.col("w.cid").alias("cid"),
                    F.col("w.d").alias("d"))
        )

    for _ in range(iters):
        assign = _assign(cent).localCheckpoint(eager=False)
        sums = (
            assign.join(q, "vid")
            .select("cid", F.posexplode("qv").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.expr("CAST(sum(v) DIV count(*) AS BIGINT)").alias("cval"))
        )
        newc = sums.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, cval))),"
                " s -> s.cval)"
            ).alias("ncv")
        )
        cent = (
            cent.join(newc, "cid", "left")
            .select("cid", F.coalesce("ncv", "cv").alias("cv"))
            .localCheckpoint(eager=False)
        )
    return _assign(cent)
