"""spark-submit entry point for the full KG-construction pipeline.

Deployment (north_rule): the package ships as a zip via --py-files; the
same command runs on local[N] or a real cluster master:

    cd /root/repo && \
    python -c "import shutil; shutil.make_archive('/tmp/defs_pkg', 'zip', \
        '.', 'distributed_extraction_framework_spark')" && \
    spark-submit --master local[8] \
        --conf "spark.driver.defaultJavaOptions=-XX:Tier4InvocationThreshold=50000 \
    -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000 \
    -XX:Tier4BackEdgeThreshold=400000" \
        --py-files /tmp/defs_pkg.zip \
        scripts/submit_pipeline.py \
        --pages /path/to/pages_parquet --warehouse /path/to/warehouse

With --synth N (no --pages), generates the deterministic corpus instead —
useful for smoke-testing a new cluster.

Every ``spark.sql.*`` default of ``session.DEFAULT_CONF`` that the
submitter did not pass is set on the session after launch. JVM options
(the driver's one-shot JIT policy) cannot be set after launch, so the
command above passes ``spark.driver.defaultJavaOptions`` itself, with the
same string as ``DEFAULT_CONF``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="input pages table (parquet/iceberg path)")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic pages instead of --pages")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--extractors", default=None,
                    help="comma-separated subset (default: all)")
    ap.add_argument("--no-link", action="store_true")
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument("--ntriples", action="store_true",
                    help="also render dataset-partitioned N-Triples")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("defs-pipeline").getOrCreate()

    from distributed_extraction_framework_spark.session import DEFAULT_CONF

    submitted = spark.sparkContext.getConf()
    for k, v in DEFAULT_CONF.items():
        if k.startswith("spark.sql.") and not submitted.contains(k):
            spark.conf.set(k, v)

    from distributed_extraction_framework_spark.plans.pipeline import (
        Pipeline, PipelineConfig,
    )
    from distributed_extraction_framework_spark.plans import materialize as M
    from distributed_extraction_framework_spark.sources.synth import synth_pages

    if args.synth:
        pages = synth_pages(spark, args.synth)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        print("need --pages or --synth", file=sys.stderr)
        raise SystemExit(2)

    cfg = PipelineConfig(
        warehouse=args.warehouse,
        extractors=args.extractors.split(",") if args.extractors else None,
        link_entities=not args.no_link,
        canonicalize=not args.no_canonicalize,
    )
    outputs = Pipeline(spark, cfg).run(pages)
    if args.ntriples:
        M.write_ntriples(outputs["quads"], f"{args.warehouse}/ntriples")

    summary = {name: df.count() for name, df in outputs.items()}
    conf = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")}
    print(json.dumps({"status": "ok", "counts": summary, "conf": conf}))


if __name__ == "__main__":
    main()
