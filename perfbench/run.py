"""Benchmark entry point.

    python3 perfbench/run.py --workload build|contract --seed N \
        --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout of the repository. Generates the
workload's inputs from the seed, sets Spark up at local[<cores>] with a
pinned heap, runs the workload, checks its outputs and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(spans go to ``.perfbench_out/``). The end-to-end timings are scaled to
the reference host's speed by the run's host-speed factor (hostspeed.py);
the figures as timed go to stderr. Everything it writes stays under the
checkout (``.perfbench_work/`` is removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HEAP = "3g"


def _env(work: Path) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # -XX:-UsePerfData: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def setup_spark(cores: int):
    """Process start -> session.get_spark and ship_package returned."""
    from perfbench.procs import start_time
    t_start = start_time()
    sys.path.insert(0, str(ROOT))
    from pii_redactor_spark.session import get_spark, ship_package
    retain = "5000"
    t0 = time.time()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_confs={
        "spark.ui.retainedStages": retain, "spark.ui.retainedJobs": retain,
        "spark.sql.ui.retainedExecutions": retain})
    t1 = time.time()
    ship_package(spark)
    t2 = time.time()
    return spark, {"setup_s": t2 - t_start, "get_spark_s": t1 - t0,
                   "ship_package_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait."""
    from perfbench.procs import descendants, reap
    kids = descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap(kids)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (self-tests)")
    args = ap.parse_args(argv)
    if not (ROOT / "pii_redactor_spark").is_dir() or \
            not (ROOT / "scripts" / "check_contract.py").is_file():
        print(f"perfbench: no program under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    from perfbench import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _env(work)
    # on SIGTERM unwind through the finally below: stop Spark, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = os.cpu_count() or 1
    from perfbench.hostspeed import HostSpeed
    from perfbench.procs import IGNORED
    host = HostSpeed(workloads.SPEC["host_speed"]["nominal_ms"])
    spark = None
    try:
        IGNORED.add(host.start().pid)
        spark, setup = setup_spark(cores)
        workloads.phase(f"set up: {setup['setup_s']:.2f}s")
        return _run(args, workloads, spark, setup, work, cores, host)
    finally:
        try:
            host.stop()
            if spark is not None:
                stop_spark(spark)
                workloads.phase("spark stopped")
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads, spark, setup, work, cores, host) -> int:
    from perfbench.procs import PeakMemory
    from perfbench.tracer import Tracer
    ctx = workloads.Ctx(spark=spark, work=work, out=ROOT / ".perfbench_out",
                        seed=args.seed, seconds=args.seconds, tiny=args.tiny)
    ctx.notes["cores"] = cores
    state = None
    if args.trace:
        from perfbench import layers
        ctx.tracer = Tracer()
        state = layers.install(ctx.tracer, spark)
    run, check = workloads.WORKLOADS[args.workload]
    try:
        with PeakMemory() as mem:
            res = run(ctx)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.restore()
        host.stop()
    workloads.phase(f"host speed: loop {host.median_ms:.2f} ms, factor "
                    f"{host.factor:.4f} over {len(host.samples)} samples")
    workloads.read_log(ctx)
    res["failed"] = min(res["failed"] + check(ctx, res), res["attempted"])
    if args.trace:
        metrics = layers.per_layer(ctx, res, state, setup)
        metrics["host.probe_ms"] = (host.median_ms, "ms")
        ctx.tracer.write(ctx.out / f"spans-{args.workload}-seed{args.seed}.json",
                         {"workload": args.workload, "seed": args.seed})
    else:
        metrics = workloads.end_to_end(ctx, res, setup["setup_s"], mem.peak,
                                       host.factor)
    print(json.dumps({
        "correct": res["failed"] == 0 and bool(res["ops"]),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
