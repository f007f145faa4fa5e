"""Physical-plan review: print .explain("formatted") for the key
operators and assert the plan properties we design for:

* parquet scans prune columns (ReadSchema carries only what's used)
* filters push down to the scan (PushedFilters)
* the alias-dict / canonical-map joins are BroadcastHashJoin
* whole-stage codegen covers the relational operators
* every page extractor, per-row kernel (out-links, MinHash and
  SimHash signatures, the three media stages) and numpy batch stage
  (winnow fingerprints, LSH candidates, IVF assignment, embedding
  bands) plans to one MapInArrow, no MapInPandas and no Exchange, and
  so do a pipeline bucket's triples and lineage in both syntax modes
* language ID and the cleaning gate plan no Python stage at all
"""

import os
import sys
from contextlib import redirect_stdout
from io import StringIO
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np
import pyspark.sql.functions as F

from tortank_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name, plan, must_contain):
    missing = [m for m in must_contain if m not in plan]
    status = "ok  " if not missing else "FAIL"
    print(f"{status} {name}" + (f" — missing {missing}" if missing else ""))
    return not missing


def main():
    # AQE defers physical planning, hiding codegen ids from explain();
    # disable it here — this script inspects static plans only.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-review")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ok = True

    # 1. extraction input scan prunes to url+text
    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "CAST(doc_id AS STRING) AS url", "text", "lang", "source"
    )
    from tortank_spark.extract import extract_triples

    p = plan_of(extract_triples(pages))
    ok &= check("extract column pruning", p, ["ReadSchema"])
    assert "n_chars" not in p, "extraction must not read unused columns"
    print("   scan reads:", [l.strip() for l in p.splitlines()
                             if "ReadSchema" in l][:1])

    # 1b. every page extractor, per-row kernel and numpy batch stage is
    # ONE Arrow stage: one MapInArrow, no pandas stage, no shuffle; and
    # language ID (alone and in the cleaning gate) has no Python stage
    from tortank_spark.dedup import (
        _embedding_band_keys, minhash_signatures, simhash_signatures,
    )
    from tortank_spark.extract import extract_embedded
    from tortank_spark.jsonld import extract_jsonld
    from tortank_spark.microdata import extract_microdata
    from tortank_spark.multimodal import (
        extract_features, make_media_table, resize_images, sample_frames,
    )
    from tortank_spark.rdfa import extract_rdfa
    from tortank_spark.similarity import (
        ivf_assign_inline, lsh_multitable_candidates,
    )
    from tortank_spark.textops import (
        detect_language, filter_decision, winnow_doc_fingerprint_set,
        winnow_fingerprints,
    )
    from tortank_spark.weblinks import extract_links

    media = make_media_table(spark)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    stages = [(fn, fn(pages)) for fn in (
        extract_triples, extract_jsonld, extract_rdfa, extract_microdata,
        extract_embedded, extract_links)]
    stages += [(fn, fn(pages, "url"))
               for fn in (minhash_signatures, simhash_signatures,
                          winnow_fingerprints, winnow_doc_fingerprint_set)]
    stages += [(fn, fn(media))
               for fn in (extract_features, resize_images, sample_frames)]
    stages += [
        (lsh_multitable_candidates,
         lsh_multitable_candidates(emb, "embedding", [1.0] * dim)),
        (ivf_assign_inline,
         ivf_assign_inline(emb, "embedding", np.eye(dim)[:4])),
        (_embedding_band_keys,
         _embedding_band_keys(emb, "vec_id", "embedding", 8, 12)),
    ]
    for fn, df in stages:
        p = plan_of(df)
        tree = p.split("\n\n")[0]
        one_stage = (sum("MapInArrow" in l for l in tree.splitlines()) == 1
                     and "MapInPandas" not in p and "Exchange" not in p)
        print(f"{'ok  ' if one_stage else 'FAIL'} {fn.__name__} one "
              "MapInArrow, no MapInPandas, no Exchange")
        ok &= one_stage
    docs = pages.withColumnRenamed("url", "doc_id")
    for fn in (detect_language, filter_decision):
        p = plan_of(fn(docs))
        no_python = not any(n in p for n in (
            "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython"))
        print(f"{'ok  ' if no_python else 'FAIL'} {fn.__name__} has no "
              "Python stage")
        ok &= no_python

    # 1c. a pipeline bucket's triples and its lineage come straight off
    # that stage: one MapInArrow and no shuffle (no bucket-wide
    # distinct, no per-url groupBy) for both syntax modes'
    # per-document functions
    from tortank_spark.extract import (
        doc_lineage, doc_stage, embedded_triples, triples_only)
    from tortank_spark.grammar.turtle import parse_turtle
    from tortank_spark.schema import EXTRACT_SCHEMA

    for per_doc in (parse_turtle, embedded_triples):
        extracted = doc_stage(pages, per_doc, EXTRACT_SCHEMA, salt=True)
        for what, df in (("triples", triples_only(extracted)),
                         ("lineage", doc_lineage(extracted))):
            p = plan_of(df)
            tree = p.split("\n\n")[0]
            one_stage = (sum("MapInArrow" in l for l in tree.splitlines())
                         == 1 and "Exchange" not in p)
            print(f"{'ok  ' if one_stage else 'FAIL'} bucket {what} over "
                  f"{per_doc.__name__}: one MapInArrow, no Exchange")
            ok &= one_stage

    # 2. pattern filter pushes predicates to the scan
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    p = plan_of(q)
    ok &= check("filter pushdown", p, ["PushedFilters: [IsNotNull(l_returnflag)"])

    # 3. q3-style join broadcasts the small dim
    import __spark_entry__ as m

    p = plan_of(m._q_top_revenue(spark, SF_DIR))
    ok &= check("broadcast join in q3", p, ["BroadcastHashJoin"])

    # 4. canonical rewrite uses broadcast joins and no Python stage
    from tortank_spark.canonicalize import rewrite_canonical
    from tortank_spark.schema import TRIPLE_SCHEMA

    t = spark.createDataFrame([("u", "a", "iri", "p", "b", "iri", None, None)],
                              TRIPLE_SCHEMA)
    cmap = spark.createDataFrame([("a", "a")], "iri string, canonical string")
    p = plan_of(rewrite_canonical(t, cmap))
    ok &= check("rewrite broadcast", p, ["BroadcastHashJoin"])
    assert "EvalPython" not in p and "MapInPandas" not in p, (
        "canonical rewrite must stay JVM-side"
    )

    # 5. whole-stage codegen spans the aggregation
    p = plan_of(m._q_pricing_summary(spark, SF_DIR))
    ok &= check("WSCG on q1", p, ["codegen id :", "HashAggregate"])

    # 6. serializers are pure column expressions (no Python eval)
    from tortank_spark.serialize import to_ntriples

    p = plan_of(to_ntriples(t))
    # createDataFrame leaves an applySchemaToPythonRDD scan marker; the
    # check is that no Python *eval* operator exists in the plan
    assert "EvalPython" not in p and "MapInPandas" not in p, (
        "serializer must not invoke Python"
    )
    ok &= check("serializer JVM-only", p, ["Project"])

    print()
    print("ALL PLAN CHECKS PASS" if ok else "PLAN CHECK FAILURES")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
