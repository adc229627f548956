"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload medallion_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. Everything the run writes goes under
``.perfbench_work/<pid>`` (removed at exit, along with leftovers of
killed runs) and, for traced runs, the span file under
``.perfbench_out/``. Diagnostics go to stderr; the last line of stdout
is ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of
a run whose cycles are all traced. An untraced run brackets its cycles
with samples of the host speed probe (``hostspeed.py``) and reports its
times normalised by it.
Metric definitions are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "instacart_medallion_lakehouse_spark"
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# Driver heap, fixed (``-Xms`` = ``-Xmx``). The package's default is 8g;
# with it the peak resident memory follows when G1 collects rather than
# what the engine holds (2.4-6.3 GB over five seeds, spread 0.23-0.33),
# while at these input sizes 1g runs the same Spark jobs, stages, tasks,
# store builds and cached bytes, and its peak memory repeats within 2 %.
DRIVER_MEMORY = "1g"
# Host speed probe samples taken just before the first cycle and just
# after the last, while the engine's JVM idles (hostspeed.py).
PROBE_SAMPLES_EACH_SIDE = 2


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def make_work_dir() -> str:
    """A private work dir; dirs of runs that no longer exist are removed."""
    os.makedirs(WORK_BASE, exist_ok=True)
    for d in os.listdir(WORK_BASE):
        if d.isdigit() and not os.path.exists(f"/proc/{d}"):
            shutil.rmtree(os.path.join(WORK_BASE, d), ignore_errors=True)
    work = os.path.join(WORK_BASE, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "store", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    return work


def pin_environment(work: str) -> int:
    """Hermetic, recorded environment; must run before pyspark loads."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_TABLE_FORMAT": "parquet",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_SHARED_DIR": os.path.join(work, "store"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    sys.path[:0] = [ROOT, HERE]
    from instacart_medallion_lakehouse_spark import session

    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{session._JVM_OPTS} -Xms{DRIVER_MEMORY} -XX:-UsePerfData '
        f'-Djava.io.tmpdir={os.path.join(work, "tmp")}" pyspark-shell'
    )
    os.chdir(work)
    return cpus


def setup(ctx, workload) -> tuple[float, dict]:
    """Inputs, session and warm-up, timed by phase. Returns the set-up
    time, from process start (so interpreter start and JVM launch are
    in it) to the end of the warm-up, and the phases."""
    from instacart_medallion_lakehouse_spark.session import build_session
    from workloads import warm_up

    phases = {}
    t0 = time.perf_counter()
    workload.prepare(ctx)
    phases["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    ctx.spark = build_session("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    ctx.spark.sparkContext.setLogLevel("ERROR")
    phases["build_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_up(ctx.spark, ctx.work)
    phases["warmup_s"] = time.perf_counter() - t0
    return process_age(), phases


def stop_spark() -> None:
    """Stop the session and the JVM this process launched, and wait
    until the JVM (and the Python workers it forked) have exited."""
    if "pyspark" not in sys.modules:
        return
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = make_work_dir()
    try:
        return _run(args, work)
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    cpus = pin_environment(work)
    import hostspeed
    import metrics
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]()
    tracer = Tracer()
    ctx = workloads.Context(work, args.seed, tracer)
    setup_s, setup_phases = setup(ctx, workload)
    if args.trace:
        import instrument

        instrument.install(tracer)
    probe_times = [] if args.trace else hostspeed.jvm_probe(PROBE_SAMPLES_EACH_SIDE)

    cycles = []
    deadline = time.perf_counter() + args.seconds
    while True:
        k = len(cycles)
        tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        workload.cycle(ctx, k)
        seconds = time.perf_counter() - t0
        tracer.enabled = False
        cycles.append({"cycle": k, "seconds": seconds, "traced": bool(args.trace),
                       "stored_bytes": workload.stored_bytes(ctx),
                       "store_bytes": workloads.store_bytes(ctx)})
        workload.end_cycle(ctx, k)
        if time.perf_counter() >= deadline:
            break
    if not args.trace:
        probe_times += hostspeed.jvm_probe(PROBE_SAMPLES_EACH_SIDE)

    peak_rss = vm_hwm_mb("self") + vm_hwm_mb(ctx.spark.sparkContext._gateway.proc.pid)
    workload.check(ctx)
    import duckdb
    import pyspark

    env = {"host_cpus": os.cpu_count(), "spark_cpus": cpus, "python": platform.python_version(),
           "pyspark": pyspark.__version__, "duckdb": duckdb.__version__, "seed": args.seed,
           "workload": args.workload, "data_dir": ctx.data_dir,
           "input_bytes": ctx.input_bytes, "setup": dict(setup_phases, total_s=setup_s),
           "probe_s": probe_times}

    attempted = len(ctx.ops)
    failed = sum(not o["ok"] for o in ctx.ops)
    for m in ctx.mismatches:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    print(json.dumps({"env": env, "cycles": cycles, "ops": ctx.ops}), file=sys.stderr)
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        values = metrics.per_layer(ctx, cycles, setup_phases)
    else:
        values = metrics.end_to_end(ctx, cycles, setup_s, peak_rss, probe_times)
    print(json.dumps({
        "correct": not ctx.mismatches and not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": values,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
