#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload catchup_mor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine (``cdc_engine``) and the WAL
generator (``gen/walgen.py``) are imported from that checkout; every input
is generated from ``--seed`` into a private working directory under
``.perfbench_work/`` that is removed on exit; the traced run leaves its
spans in ``.perfbench_traces/``. The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

# the engine must come from the checkout: without it the benchmark fails
# here, before printing anything
import cdc_engine  # noqa: E402,F401
import gen.walgen  # noqa: E402,F401

import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "catchup_to_read_s": "s",
}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _start_session(work: Path, trace: bool):
    from cdc_engine.session import build_session

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workloads.DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the driver JVM unpacks native libraries and keeps scratch files in
    # its temp directory: keep those inside the run's working directory too
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
        })
    return build_session("perfbench", extra=extra)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=sorted(workloads.SCALES), default="full",
        help="input sizes; 'toy' is for the smoke test only",
    )
    a = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"{a.workload}-{os.getpid()}-{time.time_ns()}"
    work.mkdir(parents=True)
    spark = None
    try:
        t0 = time.monotonic()
        spark = _start_session(work, bool(a.trace))
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=a.seed, seconds=a.seconds,
            trace=bool(a.trace), sizes=workloads.SCALES[a.scale],
        )
        wl = workloads.WORKLOADS[a.workload](ctx)
        try:
            wl.setup()
            setup_s = time.monotonic() - t0
            workloads.log(f"setup: {setup_s:.2f} s")
            ctx.measure(wl.unit)
            wl.verify()
        except Exception:
            # a failed operation is counted, never hidden: report and exit
            traceback.print_exc()
            ctx.failed += 1
            setup_s = time.monotonic() - t0
        if a.trace:
            metrics = wl.layer_metrics()
            metrics["python.peak_rss_mb"] = _vm_hwm_mb("self")
            metrics["jvm.peak_rss_mb"] = _vm_hwm_mb(ctx.jvm_pid())
        else:
            metrics = {"setup_s": setup_s, **wl.end_to_end()}
        _stop_session(spark)
        spark = None
        if a.trace:
            metrics.update(ctx.event_log_metrics())
            traces = ROOT / ".perfbench_traces"
            traces.mkdir(exist_ok=True)
            ctx.tracer.dump(str(traces / f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl"))
            out = {k: {"value": float(v), "unit": u} for k, (v, u) in (
                (k, (metrics.get(k, 0.0), u)) for k, u in workloads.PER_LAYER.items()
            )}
        else:
            out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
        for note in ctx.notes:
            print(note, file=sys.stderr)
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": max(1, ctx.attempted, ctx.failed),
            "failed": ctx.failed,
            "metrics": out,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.exit(main())
