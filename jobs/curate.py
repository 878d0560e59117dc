#!/usr/bin/env python
"""spark-submit entry for the resumable corpus-curation job.

Cluster:
    python tools/package.py                        # → dist/ocr_image_to_text_spark.zip
    spark-submit --py-files dist/ocr_image_to_text_spark.zip \
        jobs/curate.py --sf-dir ... --out s3://.../curated

Sandbox (local mode, session built here):
    python jobs/curate.py --sf-dir /root/testdata/sf0.001 --out /tmp/curout

Re-running with the same --out resumes from the manifest checkpoint;
the CCNet frequent-line set is committed once under _bp_set/ and
reloaded by every wave of every (re)run.

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
                    help="explicit documents parquet path (overrides --sf-dir)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--wave-size", type=int, default=4)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from ocr_image_to_text_spark.jobs.curate_job import run_curate_job
    from ocr_image_to_text_spark.session import get_spark

    input_path = args.input or os.path.join(args.sf_dir,
                                            "documents.parquet")
    spark = get_spark("curate-job", master=f"local[{args.cpus}]",
                      shuffle_partitions=int(args.cpus))
    summary = run_curate_job(
        spark, input_path, args.out, n_buckets=args.n_buckets,
        wave_size=args.wave_size)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
