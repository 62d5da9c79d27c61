"""Production entrypoint for the caption quality-filter pipeline.

Run via spark-submit with the packaged library (the north-rule deployment
shape)::

    python -c "import sys; sys.path.insert(0, 'scripts'); \
        import bench_scaling; print(bench_scaling.make_pyfiles_zip())"
    spark-submit --py-files /tmp/kenlm_spark_pyfiles.zip \
        scripts/run_filter_job.py \
        --input  <path or Iceberg table of images> \
        --output <snapshot root> \
        --arpa   tests/fixtures/test.arpa \
        [--allowed-langs en] [--max-ppl 1e5] [--salt-buckets 0]

Reads the image+caption table, runs the filter, commits an atomic
snapshot, and prints per-partition lineage metrics as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--arpa", required=True)
    p.add_argument("--allowed-langs", default="en")
    p.add_argument("--max-ppl", type=float, default=1e5)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--stupid-backoff", action="store_true")
    p.add_argument(
        "--image-rules",
        default=None,
        help="JSON dict of image-metadata gate thresholds (see "
        "filtering.image_quality.DEFAULTS; '{}' enables the defaults). "
        "Omit to keep the caption-only decision.",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from kenlm_spark.ngram.arpa import load_arpa
    from kenlm_spark.pipeline import FilterConfig, QualityFilterPipeline

    existing = SparkSession.getActiveSession()
    spark = existing or SparkSession.builder.appName(
        "caption-quality-filter"
    ).getOrCreate()
    model = load_arpa(args.arpa)
    cfg = FilterConfig(
        allowed_langs=tuple(args.allowed_langs.split(",")),
        max_perplexity=args.max_ppl,
        salt_buckets=args.salt_buckets,
        stupid_backoff=args.stupid_backoff,
        image_rules=(
            None if args.image_rules is None else json.loads(args.image_rules)
        ),
    )
    pipe = QualityFilterPipeline(spark, model, cfg)
    images = spark.read.parquet(args.input)
    result = pipe.run_resumable(images, args.output)
    for row in pipe.metrics(result).collect():
        print(json.dumps(row.asDict()))
    if existing is None:  # don't stop a session we didn't create
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
