#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Cluster usage (the BASELINE.json north-rule invocation):

    python -c "import shutil; shutil.make_archive('ocr_platform_spark', \
'zip', '.', 'ocr_platform_spark')"
    spark-submit --py-files ocr_platform_spark.zip \
        run_extract.py --input <pages table path> --output <extracted path> \
        [--buckets 65536] [--no-resume] [--run-id RUN]

(proved end-to-end on local-cluster by tests/test_submit.py). When the
package is also installed on the executor nodes (image/wheel/shared
mount), add the warm-import worker daemon — worth ~200 ms x cores per
executor at startup; it cannot ship via --py-files because Spark spawns
it before the zip reaches a worker's sys.path:

        --conf spark.python.daemon.module=ocr_platform_spark.spark_daemon \
        --conf spark.executorEnv.PYTHONPATH=<dir containing the package>

Sandbox usage (local mode, synthesizes input when --gen N is given):

    python run_extract.py --gen 10000 --output /tmp/extracted

The job: read pages(url, warc_ts, html, text, lang) → place rows by
(bucket, salt), each task a contiguous run of buckets (two tasks per core)
→ mapInPandas(extract) → parquet/Iceberg
partitioned by bucket + per-partition lineage manifest. Re-running after a
failure processes only buckets absent from the manifest (exact
resume-from-checkpoint).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="pages table path (parquet)")
    ap.add_argument("--gen", type=int, default=0,
                    help="synthesize N pages instead of reading --input")
    ap.add_argument("--output", required=True, help="extracted table path")
    ap.add_argument("--buckets", type=int, default=None,
                    help="url-hash bucket count (default: extract_job's)")
    ap.add_argument("--salt", type=int, default=None,
                    help="per-bucket salt fan-out for skew-heavy domains")
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess every bucket even if manifested")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from ocr_platform_spark.plans import extract_job
    from ocr_platform_spark.session import build_spark
    from ocr_platform_spark.sources.pages import pages_df, read_pages

    spark = build_spark("extract-job")
    if args.gen:
        pages = pages_df(spark, args.gen)
    elif args.input:
        pages = read_pages(spark, args.input)
    else:
        ap.error("one of --input / --gen is required")

    kwargs = {}
    if args.buckets is not None:
        kwargs["n_buckets"] = args.buckets
    if args.salt is not None:
        kwargs["salt"] = args.salt
    out = extract_job.run_extraction_job(
        spark, pages, args.output, resume=not args.no_resume,
        run_id=args.run_id, **kwargs)
    n = out.count()
    failed = out.filter(out.failed_stage.isNotNull()).count()
    print(f"extracted table: {n} docs ({failed} flagged) at {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
