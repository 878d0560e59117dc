#!/usr/bin/env python3
"""The extraction job at 100,500 turns: a guard against tuning the launch
for the 6,700-turn benchmark only.

    python3 tools/job_100k.py [--seed 1]

Run from the repository root. The input is 15 job-mixed workloads
(seeds ``--seed`` .. ``--seed + 14``, conv_ids prefixed by their seed)
concatenated: 15 x 6,700 = 100,500 turns. In one session with perfbench's
settings (local[2], 4g driver, 2 shuffle partitions, 2 buckets, one wave)
it runs one cold ``run_extract_job`` and then two warm ones, each into a
fresh directory, and checks the last one against the pure-Python oracle.

Prints one JSON line: set-up, cold and warm wall seconds and CPU seconds
(the driver, the JVM and the Python workers, as perfbench counts them),
and ``mismatch_turns``. Exit code 1 if any turn mismatches.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))  # its modules import each other

from perfbench import check, run as pb, tracing, workloads  # noqa: E402

N_SEEDS = 15
WARM_JOBS = 2


def _rows(seed: int) -> list[dict]:
    rows = []
    for s in range(seed, seed + N_SEEDS):
        for r in workloads.generate("job-mixed", s):
            r["conv_id"] = f"s{s}-{r['conv_id']}"
            rows.append(r)
    return rows


def _timed(fn):
    """(result, wall s, CPU s of this process tree)."""
    cpu0, t0 = tracing.tree_cpu_s(), time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        out = fn()
    return out, time.perf_counter() - t0, tracing.tree_cpu_s() - cpu0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    pb._become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work", f"job100k-{os.getpid()}")
    cpus = min(pb.CPUS, len(os.sched_getaffinity(0)))
    pb._environment(work, cpus)
    rows = _rows(args.seed)
    input_path = os.path.join(work, "warehouse", "transcripts", "bench.parquet")
    workloads.write_parquet(rows, input_path)
    expected = check.oracle(rows)

    from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
    from ocr_image_to_text_spark.session import get_spark

    result = {"turns": len(rows), "seed": args.seed}
    try:
        spark, result["setup_wall_s"], result["setup_cpu_s"] = _timed(lambda: get_spark(
            "job100k", master=f"local[{cpus}]", shuffle_partitions=pb.SHUFFLE_PARTITIONS,
            extra_conf=pb._session_conf(work, event_log=False)))
        walls, cpus_s = [], []
        for i in range(1 + WARM_JOBS):
            out_dir = os.path.join(work, f"out{i}")
            summary, wall, cpu = _timed(lambda: run_extract_job(
                spark, input_path, out_dir, **pb.JOB_ARGS))
            walls.append(wall)
            cpus_s.append(cpu)
            if summary["n_turns"] != len(rows):
                raise RuntimeError(f"job {i} counted {summary['n_turns']} turns")
            if i < WARM_JOBS:
                shutil.rmtree(out_dir)
        result.update({"cold_wall_s": walls[0], "cold_cpu_s": cpus_s[0],
                       "warm_wall_s": walls[1:], "warm_cpu_s": cpus_s[1:],
                       "mismatch_turns": check.mismatched_turns(expected, out_dir)})
        spark.stop()
    finally:
        pb._shutdown_jvm()
        pb._stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 1 if result["mismatch_turns"] else 0


if __name__ == "__main__":
    sys.exit(main())
