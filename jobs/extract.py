#!/usr/bin/env python
"""spark-submit entry for the resumable extraction job.

Cluster:
    python tools/package.py                        # → dist/ocr_image_to_text_spark.zip
    spark-submit --py-files dist/ocr_image_to_text_spark.zip \
        jobs/extract.py --sf-dir ... --out s3://.../extract

Sandbox (local mode, session built here):
    python jobs/extract.py --sf-dir /root/testdata/sf0.001 --out /tmp/exout

Re-running with the same --out resumes from the manifest checkpoint.

JVM start-up: when this script builds the session itself, get_spark starts
the driver JVM from a class-data archive it keeps in
~/.cache/ocr_image_to_text_spark/cds (ocr_image_to_text_spark/session.py).
Under spark-submit the JVM is already running, so pass the archive
yourself: --driver-java-options "-XX:SharedArchiveFile=<key>.jsa -Xshare:auto".
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--input", default=None,
                    help="explicit transcripts parquet path (overrides --sf-dir)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--wave-size", type=int, default=8)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--max-payload-chars", type=int, default=None,
                    help="drop oversized payloads (count logged to manifest)")
    args = ap.parse_args()

    from ocr_image_to_text_spark.session import get_spark
    from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
    from ocr_image_to_text_spark.transcripts import ensure_transcripts_for_sf_dir

    input_path = args.input or ensure_transcripts_for_sf_dir(args.sf_dir)
    spark = get_spark("extract-job", master=f"local[{args.cpus}]")
    summary = run_extract_job(
        spark, input_path, args.out,
        n_buckets=args.n_buckets, wave_size=args.wave_size,
        max_payload_chars=args.max_payload_chars)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
