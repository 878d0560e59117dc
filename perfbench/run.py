#!/usr/bin/env python3
"""Layered benchmark of the resumable extraction job.

    python3 perfbench/run.py --workload job-mixed --seed 1 --seconds 1 --trace 0

Run from the repository root. One run:

1. Generates the workload's transcripts from ``--seed`` (perfbench/
   workloads.py) and computes the pure-Python oracle for every turn.
   Not timed.
2. Sets up: launches the JVM and starts a session (``session.get_spark``),
   then runs one single-row Python task, which starts the Python worker
   daemon with its preloaded modules. ``setup_s`` is the CPU time this
   takes. With ``--trace 1`` the session writes the Spark event log.
3. Timed: runs ``run_extract_job`` over the whole input, into a fresh
   directory each time, until ``--seconds`` of job wall have passed; the
   first job is a job launch as a user meets it, with a cold JVM.
   ``turns_per_cpu_s`` is the input's turns over the median job's CPU
   time. CPU time, summed over the driver, the JVM and the Python
   workers, is the measure because on a shared 4-vCPU host the hypervisor
   steals 20-30% of the time at random: over ten seeds the quartile
   spread of the launch's wall was 0.30 of its median, that of its CPU
   time 0.10-0.12. The walls (``wall_s``, ``turns_per_s``,
   ``setup_wall_s``) are in the record line.
4. Checks the last job's rollup and spans tables against the oracle, and
   every job's turn count (not timed). Any mismatch makes the run
   incorrect and its exit code 1.
5. With ``--trace 1``: splits the last timed job into phases from the
   event log, then times the single-core kernels, the cumulative
   extraction plans and the 15 headline queries. The result then carries
   the per-layer metrics instead of the end-to-end ones.
6. Stops the session, the JVM and every Python worker, and waits for
   each to exit, on every way out of the run.

stdout ends with a record line (host, traffic, every metric, failures)
and then the result line ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("job-mixed", "job-chat")
# get_spark defaults to 32 CPUs and a 24g heap, more than a 4-CPU, 15 GB
# host has. Two task slots: on a shared 4-vCPU host the job ran faster
# and steadier at local[2] than at local[4], whose four Python workers
# compete with the driver JVM and Python for the same cores.
CPUS = 2
DRIVER_MEMORY = "4g"
# One salt partition and one bucket per task slot, in one wave per job. At
# get_spark's 8 shuffle partitions and 8 buckets, per-task overhead made up
# about 40% of a job-chat job's wall on 4 vCPUs (13 s against 8 s).
SHUFFLE_PARTITIONS = 2
JOB_ARGS = {"n_buckets": 2, "wave_size": 8}
PR_SET_CHILD_SUBREAPER = 36


def _parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _preflight() -> None:
    """Refuse to run outside a checkout of the program."""
    for rel in ("ocr_image_to_text_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            sys.exit(2)


def _environment(work: str, cpus: int) -> None:
    """Keep every file the run writes inside ``work``; size the session."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files in /tmp from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    sys.path.insert(1, ROOT)  # after this script's own directory


def _session_conf(work: str, event_log: bool) -> dict:
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"}
    if event_log:
        # Spark 4 defaults to a rolling, zstd-compressed log
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def _become_subreaper() -> None:
    """Python workers can outlive the daemon that forked them; as a child
    subreaper this process inherits them instead of init, so
    ``_stop_descendants`` sees and waits for every one."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_children() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def _stop_descendants(grace: float = 10.0) -> list[int]:
    """Wait for every process this run started to exit: ``grace`` seconds
    on their own, then as long again after SIGTERM, then after SIGKILL.
    Returns the pids that had to be signalled."""
    from tracing import descendants

    signalled: list[int] = []
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                    signalled.append(pid)
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            _reap_children()
            if not descendants(os.getpid()):
                return signalled
            time.sleep(0.05)
    return signalled


def _git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # the benchmark also runs from plain exports
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _unit(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("us_per_turn", "us"), ("_bytes", "bytes"),
                         ("_mb", "MB")):
        if metric.endswith(suffix):
            return unit
    return "ratio"


class Bench:
    def __init__(self, args: argparse.Namespace, tracer):
        self.args, self.tracer = args, tracer
        self.work = os.path.join(ROOT, ".perfbench_work", tracer.run_id)
        self.cpus = min(CPUS, len(os.sched_getaffinity(0)))
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.mismatch_turns = 0
        self.checked_jobs = 0
        self.walls: list[float] = []
        self.cpus_s: list[float] = []
        self.setup_cpu_s = self.setup_wall_s = 0.0
        self.walls_e2e: dict = {}
        self.last_span = self.last_out = None
        self.signalled: list[int] = []
        self.layers: dict[str, float] = {}
        self.phase_check = None
        self.host = {"nproc": os.cpu_count(), "cpus_used": self.cpus,
                     "driver_memory": DRIVER_MEMORY,
                     "loadavg_before": os.getloadavg()}

    # -- calls into the program --------------------------------------------

    def _job(self, spark, input_path: str, out_dir: str):
        """One run_extract_job call: (span, summary), or None on failure."""
        from ocr_image_to_text_spark.jobs.extract_job import run_extract_job

        self.attempted += 1
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            with self.tracer.span("jobs.extract_job", out=os.path.basename(out_dir)) as sp, \
                    contextlib.redirect_stdout(sys.stderr):
                summary = run_extract_job(spark, input_path, out_dir, **JOB_ARGS)
        except Exception:  # counted in error_rate; the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"job:{os.path.basename(out_dir)}")
            return None
        return sp, summary

    def _check(self, out_dir: str) -> None:
        import check

        self.checked_jobs += 1
        self.mismatch_turns += check.mismatched_turns(self.expected, out_dir)

    def _setup(self) -> float:
        """Session start plus the Python worker daemon; sets self.spark."""
        from ocr_image_to_text_spark.session import get_spark

        conf = _session_conf(self.work, event_log=bool(self.args.trace))
        with self.tracer.span("setup") as sp:
            with self.tracer.span("session.get_spark") as s_sp, \
                    contextlib.redirect_stdout(sys.stderr):
                self.spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                                       shuffle_partitions=SHUFFLE_PARTITIONS,
                                       extra_conf=conf)
            with self.tracer.span("session.warmup") as w_sp:
                self.spark.sparkContext.parallelize([0], 1).map(lambda x: x).collect()
        self.layers = {"session.get_spark_s": s_sp.dur, "session.warmup_s": w_sp.dur}
        return sp.dur

    # -- steps -------------------------------------------------------------

    def prepare(self) -> None:
        import check
        import workloads
        from ocr_image_to_text_spark.operators import htmlx

        self.rows = workloads.generate(self.args.workload, self.args.seed)
        # the path the extraction queries resolve for an "sf0.1" dir
        self.input_path = os.path.join(self.work, "warehouse", "transcripts",
                                       "bench.parquet")
        workloads.write_parquet(self.rows, self.input_path)
        self.expected = check.oracle(self.rows)
        in_order = [self.expected[(r["conv_id"], r["turn_idx"])] for r in self.rows]
        self.kinds = [e["kind"] for e in in_order]
        accepted = sum(1 for r, k in zip(self.rows, self.kinds) if k == "html"
                       and htmlx._scan_fast(r["text"], htmlx._Collector()))
        self.traffic = workloads.traffic(self.rows, in_order, accepted)

    def measure(self) -> dict:
        from tracing import MemorySampler, tree_cpu_s

        # One set-up per run: launching a second JVM does not fit the run's
        # time budget.
        cpu0 = tree_cpu_s()
        self.setup_wall_s = self._setup()
        self.setup_cpu_s = tree_cpu_s() - cpu0
        self.host["java"] = self.spark._jvm.System.getProperty("java.version")

        last_out = None
        with MemorySampler() as mem:
            while sum(self.walls) < self.args.seconds and len(self.failures) < 3:
                out_dir = os.path.join(self.work, f"out{self.attempted}")
                cpu0 = tree_cpu_s()
                done = self._job(self.spark, self.input_path, out_dir)
                if done is None:
                    continue
                sp, summary = done
                self.walls.append(sp.dur)
                self.cpus_s.append(tree_cpu_s() - cpu0)
                self.last_span = sp
                if summary["n_turns"] != len(self.rows):
                    self.mismatch_turns += abs(summary["n_turns"] - len(self.rows))
                if last_out:
                    shutil.rmtree(last_out, ignore_errors=True)
                last_out = out_dir
        self.peak_mb = mem.peak_mb
        if last_out:
            self._check(last_out)
        self.last_out = last_out
        wall = statistics.median(self.walls) if self.walls else 0.0
        cpu = statistics.median(self.cpus_s) if self.cpus_s else 0.0
        self.walls_e2e = {
            "turns_per_s": _metric(len(self.rows) / wall if wall else 0.0, "turns/s"),
            "wall_s": _metric(wall, "s"),
            "setup_wall_s": _metric(self.setup_wall_s, "s"),
        }
        return {
            "turns_per_cpu_s": _metric(len(self.rows) / cpu if cpu else 0.0,
                                       "turns/cpu_s"),
            "setup_s": _metric(self.setup_cpu_s, "s"),
        }

    def traced(self) -> dict:
        import layers
        import tracing
        import workloads

        spark = self.spark
        app_id = spark.sparkContext.applicationId
        m = {**self.layers, "peak_rss_mb": self.peak_mb}
        m.update(layers.kernels(self.rows, self.kinds))
        with contextlib.redirect_stdout(sys.stderr):
            m.update(layers.cumulative_plans(spark, self.input_path, self.tracer))
            sf_dir = os.path.join(self.work, "sf0.1")  # tier "bench": no goldens
            workloads.write_corpus(sf_dir, self.args.seed)
            suite, n = layers.query_suite(spark, sf_dir, self.tracer, self.failures)
        self.attempted += n
        m.update(suite)
        spark.stop()  # flushes the event log
        self.spark = None
        t0 = time.perf_counter()
        if self.last_out is None:  # every job failed and is counted; phases read 0
            m.update({k: 0.0 for k in tracing.JOB_METRICS})
        else:
            sp = self.last_span
            phases = tracing.job_phases(os.path.join(self.work, "eventlog", app_id),
                                        self.last_out, sp.start, sp.end)
            self.phase_check = {
                "traced_job_wall_s": sp.dur,
                "unattributed_stage_s": phases.pop("job.other_s"),
                "phases_plus_floor_share": sum(
                    phases[f"job.{p}_s"] for p in tracing.PHASES + ("serial_floor",)
                ) / sp.dur,
            }
            m.update(phases)
        self.tracer.write(os.path.join(ROOT, ".perfbench_work", "trace",
                                       f"{self.tracer.run_id}.jsonl"))
        # the benchmark's own tracing work: reading the event log back and
        # writing the spans out
        m["trace.overhead_s"] = time.perf_counter() - t0
        return {k: _metric(v, _unit(k)) for k, v in m.items()}

    def close(self) -> None:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        _shutdown_jvm()
        self.signalled = _stop_descendants()


def main() -> int:
    args = _parse_args()
    _preflight()
    _become_subreaper()
    # a termination request still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    from tracing import Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    bench = Bench(args, tracer)
    _environment(bench.work, bench.cpus)
    import pyspark

    steps: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        bench.prepare()
        steps["prepare_s"] = time.perf_counter() - t0
        e2e = bench.measure()
        steps["measure_s"] = time.perf_counter() - t0 - steps["prepare_s"]
        metrics = bench.traced() if args.trace else e2e
        steps["total_s"] = time.perf_counter() - t0
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)
    n_failed = len(bench.failures)
    correct = bench.mismatch_turns == 0 and bench.checked_jobs > 0
    bench.host.update({
        "loadavg_after": os.getloadavg(), "python": platform.python_version(),
        "pyspark": pyspark.__version__, "git_commit": _git_commit()})
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": bench.host, "traffic": bench.traffic,
        "end_to_end": {**e2e, **bench.walls_e2e,
                       "peak_rss_mb": _metric(bench.peak_mb, "MB"),
                       "error_rate": _metric(n_failed / bench.attempted,
                                             "failed/attempted"),
                       "mismatch_turns": _metric(bench.mismatch_turns, "turns")},
        "job_walls_s": bench.walls, "job_cpu_s": bench.cpus_s,
        "checked_jobs": bench.checked_jobs, "failures": bench.failures,
        "signalled_pids": bench.signalled,
        "phase_check": bench.phase_check, "step_walls_s": steps,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": n_failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
