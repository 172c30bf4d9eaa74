"""spark-submit entry point for the rewrite pipeline.

Production launch (the north rule's mode):

    python -m selma_spark.spark.shipping   # builds selma_spark-<hash>.zip
    spark-submit --py-files /tmp/selma_spark-<hash>.zip \\
        --master <cluster> selma_spark/spark/job.py \\
        --input  <documents dir/table> \\
        --output <output dir> \\
        --config relaxed --buckets 4096 --byte-weighted

Reads span documents (parquet; an Iceberg catalog would swap in via
``--format iceberg`` once the runtime jar is on the cluster — not present
in this sandbox), runs the checkpoint-resumable rewrite, writes
documents and a lineage with one row per bucket (doc count, checksum,
text bytes in and out). Re-running the same command resumes; re-running
it with another --buckets, --byte-weighted, --config or --extract is
refused unless --no-resume is given."""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="selma_spark rewrite pipeline")
    p.add_argument("--input", required=True, help="input documents path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--config", default="default",
                   help="sanitizer config: default|restricted|basic|relaxed")
    p.add_argument("--format", default="parquet",
                   help="input format (parquet; iceberg when jars present)")
    p.add_argument("--buckets", type=int, default=64,
                   help="deterministic resume buckets")
    p.add_argument("--byte-weighted", action="store_true",
                   help="byte-balanced bucketing for skewed corpora")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--sink", default="parquet",
                   choices=("parquet", "iceberg"),
                   help="output sink (iceberg: --output is a catalog "
                        "table name)")
    p.add_argument("--extract", action="store_true",
                   help="also strip boilerplate via ContentExtractor")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    # absolute imports: spark-submit runs this file as a top-level script,
    # with the package provided via --py-files
    from selma_spark.spark.pipeline import run_pipeline
    from selma_spark.spark.shipping import ensure_shipped

    spark = SparkSession.builder.appName("selma-spark-rewrite").getOrCreate()
    ensure_shipped(spark)

    docs = spark.read.format(args.format).load(args.input)
    if "spans" not in docs.columns or "doc_id" not in docs.columns:
        raise SystemExit(
            "input must be span documents (doc_id string, spans "
            "array<struct<kind,text,media_ref,offset>>); got columns "
            f"{docs.columns}. A plain text table can be converted with "
            "selma_spark.spark.datagen.interleaved_spans."
        )

    handlers_factory = None
    if args.extract:
        def handlers_factory():  # noqa: F811
            from selma_spark.extract import ContentExtractor  # noqa: PLC0415

            return [ContentExtractor()]

    sink = None
    if args.sink == "iceberg":
        from selma_spark.spark.pipeline import IcebergSink  # noqa: PLC0415

        sink = IcebergSink(args.output)
    res = run_pipeline(
        spark,
        docs,
        args.output,
        config=args.config,
        handlers_factory=handlers_factory,
        n_buckets=args.buckets,
        byte_weighted=args.byte_weighted,
        resume=not args.no_resume,
        sink=sink,
    )
    print(f"selma-spark: wrote {res.doc_count} documents -> {res.output_path}")
    print(f"lineage: {res.lineage_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
