"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload dq_batch --seed 1 --seconds 16 --trace 0

Run it from the repository root. Every input is generated from
``--seed`` inside ``.perfbench-work/`` under the root, which is removed
on exit. A run:

1. sets up ``SETUP_REPS`` times (Spark session start, input generation
   and staging); only the first start launches the JVM;
2. runs the workload's untimed warm-up, and reports the median set-up
   plus the warm-up as ``setup_s``;
3. measures for ``--seconds`` seconds with tracing off;
4. with ``--trace 1``, measures again for ``--seconds`` seconds with
   layer spans installed and reports the per-layer metrics of that
   second phase instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it carries the run's fingerprint and sample counts. Exit code 2 means
the package or a dependency could not be imported from this checkout.
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
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


@dataclass
class Ctx:
    seed: int
    seconds: float
    scale: float
    inject: bool
    trace: bool
    host: object
    work: object


def _imports_ok() -> bool:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import duckdb  # noqa: F401
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
        import spark_expectations_spark
    except ImportError as exc:
        print(f"perfbench: cannot import {exc.name}", file=sys.stderr)
        return False
    pkg = os.path.dirname(os.path.abspath(spark_expectations_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        # an installed copy elsewhere would be measured instead of this tree
        print(f"perfbench: spark_expectations_spark imported from {pkg}, "
              f"not from {ROOT}", file=sys.stderr)
        return False
    return True


def _workloads() -> dict:
    from curation_ops import CurationOps
    from dq_batch import DQBatch
    from dq_stream import DQStream

    return {w.name: w for w in (DQBatch(), DQStream(), CurationOps())}


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM. A
    JVM that no longer answers (a signal broke a call into it) is
    killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 - the JVM is stopped below
        print(f"# session stop failed: {exc!r}", file=sys.stderr)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args) -> dict:
    import harness
    from harness import Deadline, Host, Work, median_or_zero, timing_stats
    from spans import Tracer, fetch_jobs, layer_metrics

    wl = _workloads()[args.workload]
    host = Host.detect()
    work = Work(os.path.join(ROOT, ".perfbench-work",
                             f"{args.workload}-{os.getpid()}"))
    ctx = Ctx(args.seed, args.seconds, args.scale or wl.default_scale,
              args.inject_mismatch, bool(args.trace), host, work)
    # every temp file of Python, Spark and the JVM stays in the work dir
    os.makedirs(work.root)
    os.environ["TMPDIR"] = work.path("tmp", "")
    os.environ["SPARK_LOCAL_DIRS"] = work.path("spark-local", "")
    tempfile.tempdir = None
    spark = None
    try:
        setup_s = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = harness.start_session(host, work, ui=bool(args.trace))
            staged = wl.stage(spark, ctx)
            setup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(spark, ctx, staged)
        t1 = time.perf_counter()
        j0 = harness.cpu_jiffies()
        plain = wl.measure(spark, ctx, staged, Deadline(args.seconds))
        steal = harness.steal_share(j0, harness.cpu_jiffies())
        # untimed work a phase does before its first operation (the
        # stream's query start and warm-up chunks) is warm-up as well
        warm_up_s = t1 - t0 + plain.extra.get("warm_s", 0.0)
        harness.log(f"set-up {sum(setup_s):.1f}s, warm-up {warm_up_s:.1f}s, "
                    f"measured {time.perf_counter() - t1:.1f}s")
        outcomes = [plain]
        stats = timing_stats(plain.op_s)
        detail = {
            "workload": args.workload,
            "fingerprint": harness.fingerprint(
                spark, host, args.seed,
                f"generated: scale {ctx.scale}", ROOT),
            "setup_s": setup_s,
            "warm_up_s": warm_up_s,
            "steal_share": steal,
            "op_s": stats,
            "twin_s": timing_stats(plain.extra.get("twin_s", [])),
        }
        if args.trace:
            tracer = Tracer()
            tracer.install()
            try:
                p0 = time.time()
                traced = wl.measure(spark, ctx, staged, Deadline(args.seconds),
                                    tracer)
                p1 = time.time()
            finally:
                tracer.restore()
            outcomes.append(traced)
            jobs, stages = fetch_jobs(spark)
            metrics = layer_metrics(tracer.spans,
                                    traced.extra.get("intervals", []),
                                    jobs, stages, host.slots, (p0, p1))
            twin = plain.extra.get("twin_s", [])
            metrics.update({
                "writer.bytes_per_input_byte": median_or_zero(
                    traced.extra.get("bytes_ratio", [])),
                "streaming.queue_s": median_or_zero(
                    traced.extra.get("queue_s", [])),
                "streaming.batches": traced.extra.get("batches", 0),
                "gen.late_s": max(traced.extra.get("late_s", [0.0])),
                "trace.overhead_s": (timing_stats(traced.op_s)["p50"]
                                     - stats["p50"]),
                # fastest engine run over fastest twin run, as the
                # twin's first run is its cold one
                "overhead_ratio": (min(plain.op_s) / min(twin)
                                   if twin and plain.op_s else 0.0),
            })
            detail["traced_op_s"] = timing_stats(traced.op_s)
        attempted = sum(o.attempted for o in outcomes)
        failed = sum(o.failed for o in outcomes)
        if args.trace:
            metrics["fail_frac"] = failed / max(1, attempted)
            units = {k: layer_unit(k) for k in metrics}
        else:
            metrics = {
                "setup_s": statistics.median(setup_s) + warm_up_s,
                "op_s.p50": stats["p50"],
                "op_s.tail": stats["tail"],
                "rows_per_s": plain.rows / plain.wall_s if plain.wall_s else 0.0,
                "peak_rss_mb": harness.peak_rss_mb(spark),
            }
            units = dict(E2E_UNITS)
        detail["fail_frac"] = failed / max(1, attempted)
        print(json.dumps(detail, default=str))
        return {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work.root, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work.root))
            except OSError:
                pass  # another run still uses it


E2E_UNITS = {
    "setup_s": "s", "op_s.p50": "s", "op_s.tail": "s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("jobs", "stages", "batches")):
        return "count"
    return "ratio"


def _exit_on_sigterm(signum, frame) -> None:
    # raising unwinds through run()'s finally, which stops Spark and
    # removes the work directory
    sys.exit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="input scale factor (default: the workload's own)")
    p.add_argument("--inject-mismatch", action="store_true",
                   help="expect one row too many, to test the checks")
    args = p.parse_args(argv)
    if not _imports_ok():
        return 2
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
