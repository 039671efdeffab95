"""Benchmark entry point.

    python3 graftbench/run.py --workload cdc_trickle --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: it imports the package from there and
keeps every file it makes under ``.graftbench/`` in that root, removed at
exit. The last line on stdout is the JSON result; with ``--trace 0`` its
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones of
a traced run (see ``layers.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the package's 24g default exceeds the physical memory of small hosts
DRIVER_MEM = "3g"

E2E_UNITS = {"setup_s": "s", "run_s_p50": "s", "rows_per_s": "rows/s",
             "write_amp": "ratio", "space_amp": "ratio"}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _start_spark(run_dir: str, cores: int, trace: bool):
    from s3_redshift_backup_tool_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("graftbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "s3_redshift_backup_tool_spark")):
        print(f"graftbench: no package sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import numpy as np

    from layers import PER_LAYER, extract_ratio, layer_metrics
    from workloads import WORKLOADS, end_to_end
    if args.workload not in WORKLOADS:
        print(f"graftbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".graftbench")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = _start_spark(run_dir, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from tracing import Tracer, fetch_jobs_and_stages
            tracer = Tracer(spark)
            tracer.install()
        epoch0 = time.time() - time.perf_counter()
        outcome = WORKLOADS[args.workload](
            spark, np.random.default_rng(args.seed), run_dir, args.seconds, tracer)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        if tracer is not None:
            tracer.uninstall()
            jobs, stages = fetch_jobs_and_stages(spark.sparkContext)
            values = layer_metrics(tracer, jobs, stages, outcome, cores, epoch0)
            values["spark.peak_rss_mb"] = peak_rss
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = end_to_end(outcome, session_s)
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(outcome.units)
    failed = sum(u.failed for u in outcome.units)
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: "
          f"{attempted} units ({', '.join(f'{u.kind} {u.wall_s:.2f}s' for u in outcome.units)})")
    print(f"# session_s={session_s:.2f} setup_s={session_s + outcome.setup_s:.2f} "
          f"failed_ops_share={failed / attempted:.3f} peak_rss_mb={peak_rss:.0f}")
    polls = [u.wall_s for u in outcome.units if u.kind == "poll"]
    if polls:
        print(f"# noop_sync_s={statistics.median(polls):.3f} "
              f"dup_row_versions={outcome.dup_row_versions} "
              f"missing_row_versions={outcome.missing_row_versions} "
              f"extract_ratio={extract_ratio(outcome.syncs):.4f}")
    if args.trace and polls:
        unit_s = statistics.fmean(u.wall_s for u in outcome.units)
        share = values["trace.unaccounted_s"] / unit_s
        within = abs(share) <= values["trace.overhead_share"]
        print(f"# accounting: unaccounted {share:+.4f} of unit wall, tracing "
              f"overhead {values['trace.overhead_share']:.4f}: "
              f"{'within' if within else 'EXCEEDS'} the overhead")
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and not outcome.setup_failed,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
