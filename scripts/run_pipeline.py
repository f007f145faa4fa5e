"""spark-submit entry point (north rule: launched via
``spark-submit --py-files``; see scripts/submit.sh).

Builds the SparkSession from the submit-provided context instead of a
hardcoded master, so the identical file works on a real cluster:
``spark-submit --master yarn --py-files tortank_spark.zip
scripts/run_pipeline.py --out s3://bucket/kg``. A rerun over the same
``--out`` resumes: finished buckets are skipped.
"""

import argparse
import json

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser(description="tortank-spark KG pipeline")
    ap.add_argument("--out", required=True)
    ap.add_argument("--pages", type=int, default=1024,
                    help="synthetic page count when --input is not given")
    ap.add_argument(
        "--input", default=None,
        help="page-table source instead of synthetic pages: "
             "table:<catalog.db.name> (Iceberg via session catalog), "
             "iceberg:<path>, or a parquet directory "
             "(sources.pagetable.read_pages resolution ladder)",
    )
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument(
        "--syntax", choices=["turtle", "embedded"], default="turtle",
        help="page parse mode: whole-doc Turtle (reference contract) "
             "or the fused four-syntax embedded-markup extractor",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("tortank-spark-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from tortank_spark import fixtures
    from tortank_spark.pipeline import run_pipeline

    if args.input:
        from tortank_spark.sources.pagetable import read_pages

        pages = read_pages(spark, args.input)
    else:
        pages = fixtures.make_pages(spark, n_pages=args.pages)
    alias_dict = fixtures.make_alias_dict(spark)
    stats = run_pipeline(spark, pages, args.out, n_buckets=args.buckets,
                         alias_dict=alias_dict, syntax_mode=args.syntax)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
