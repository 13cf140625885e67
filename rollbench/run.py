"""Rollup-engine benchmark: one workload, one process, ``local[nproc]``.

Usage (from the root of a checkout of the repository):

    python3 rollbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0

``--workload`` is ``bulk`` or ``daily``.
With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
instead. The line before it is a JSON report with the host, the Spark
settings, every operation's sample count and the workload's named figures.
Everything the run writes lives under ``.rollbench/`` in the checkout and is
removed at exit. See README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".rollbench"
SETUP_REPEATS = 3
# a run must end within 180 s; past this, stop everything and fail
WATCHDOG_S = 170
# one local-mode JVM is driver and executor; keep its heap well below host
# RAM (the engine's own default of 16g exceeds a 15 GiB host)
DRIVER_MEMORY = "3g"
SPARK_CONF_KEYS = ("spark.master", "spark.driver.memory", "spark.local.dir")


def percentile_report(samples: list[float]) -> dict:
    """Median, sample count and the highest percentile that has at least
    ten samples beyond it (when the sample is large enough for one)."""
    xs = sorted(samples)
    out = {"p50": statistics.median(xs), "n": len(xs), "samples": samples}
    if len(xs) >= 20:
        q = math.floor(100 * (1 - 10 / len(xs)))
        out[f"p{q}"] = xs[min(len(xs) - 1, math.ceil(q / 100 * len(xs)) - 1)]
    return out


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kib / 2**20, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def start_spark(nproc: int):
    import pytimetk_spark as tk

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return tk.get_spark(app_name="rollbench", master=f"local[{nproc}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def measure(wl, tracer, seconds: float, trace: bool):
    """``wl.warmup_cycles`` untimed cycles, then cycles until ``seconds`` of
    measuring have passed. In trace mode cycles alternate untraced and
    traced (at least one of each), so the tracing overhead is measured in
    the same run; slot times come from the untraced cycles only.

    Returns (slot -> op times, (untraced, traced) cycle times, ops attempted,
    errors)."""
    ops = wl.ops()
    times: dict[str, list[float]] = {op.slot: [] for op in ops}
    cycle_times: tuple[list[float], list[float]] = ([], [])
    errors: list[str] = []
    attempted = 0

    def cycle(timed: bool) -> bool:
        nonlocal attempted
        total = 0.0
        with tracer.span("cycle"):
            for op in ops:
                if op.before:
                    op.before()
                for _ in range(op.repeat):
                    attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with tracer.span(f"op.{op.slot}"):
                            op.run()
                    except Exception:  # a failing op ends the run; it is reported
                        errors.append(f"{op.slot}: {traceback.format_exc(limit=3)}")
                        return False
                    dt = time.perf_counter() - t0
                    total += dt
                    if timed and not tracer.enabled:
                        times[op.slot].append(dt)
        if timed:
            cycle_times[tracer.enabled].append(total)
        return True

    tracer.enabled = False
    for _ in range(wl.warmup_cycles):
        t0 = time.perf_counter()
        if not cycle(timed=False):
            return times, cycle_times, attempted, errors
        print(f"rollbench: warm-up cycle {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    start = time.perf_counter()
    n = 0
    while True:
        tracer.enabled = trace and n % 2 == 1
        if not cycle(timed=True):
            break
        n += 1
        if time.perf_counter() - start >= seconds and (n >= 2 or not trace):
            break
    tracer.enabled = False
    return times, cycle_times, attempted, errors


def run(spark, args) -> tuple[dict, dict]:
    from sqlmetrics import StatusStoreReader
    from spans import LAYERS, Tracer, layer_metrics, self_times
    from workloads import SLOTS, WORKLOADS

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, WORK / "data", args.seed, tracer)
    setup_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)
    print(f"rollbench: setup {[round(t, 2) for t in setup_times]} s", file=sys.stderr)
    generate_times = [s.duration for s in tracer.spans if s.name == "sources.generate_webpages"]

    times, cycle_times, attempted, errors = measure(wl, tracer, args.seconds, bool(args.trace))
    failed = len(errors)
    if not errors:
        t0 = time.perf_counter()
        problems = wl.check()
        print(f"rollbench: check {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        if problems:
            errors.extend(problems)
            failed += 1  # the checked output belongs to the last op run

    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_info(),
        "spark_conf": {
            k: v for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith("spark.sql.") or k in SPARK_CONF_KEYS
        },
        "setup_s": percentile_report(setup_times),
        "error_rate": failed / attempted, "errors": errors,
    }
    metrics: dict = {}
    if not errors:
        p50 = {k: statistics.median(v) for k, v in times.items() if v}
        report["ops"] = {k: percentile_report(v) for k, v in times.items() if v}
        report["figures"] = wl.figures(p50)
        metrics = {"setup_s": (statistics.median(setup_times), "s")}
        metrics.update({f"{slot}_s": (p50[slot], "s") for slot in SLOTS})
        if args.trace:
            layers = layer_metrics(tracer, StatusStoreReader(spark))
            layers.update(wl.layer_extras())
            layers["sources.generate_s"] = statistics.median(generate_times)
            untraced, traced = map(statistics.median, cycle_times)
            layers["trace.overhead_s"] = traced - untraced
            metrics = {}
            report["self_s"] = self_times(tracer)
            report["layers"] = {}
            for name, (unit, moves) in LAYERS.items():
                value = layers.get(name, 0.0)
                metrics[name] = (value, unit)
                report["layers"][name] = {"value": value, "unit": unit, "moves": moves}
    return report, {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "pytimetk_spark" / "__init__.py").is_file():
        print(f"rollbench: no pytimetk_spark package in {ROOT}", file=sys.stderr)
        return 2

    # host-safe launcher settings, all inside the checkout: the Python
    # workers import the package from the checkout root; Spark shuffle
    # files, JVM and Python temp files go under WORK
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    sys.path.insert(0, str(ROOT))

    from procs import PeakRss, descendants, kill_descendants_after, wait_for_exit
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"rollbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    from pytimetk_spark.webtext.dedup import BucketShedWarning

    warnings.simplefilter("ignore", BucketShedWarning)
    kill_descendants_after(WATCHDOG_S)
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_spark(len(os.sched_getaffinity(0)))
        print(f"rollbench: spark start {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        try:
            report, result = run(spark, args)
            peak_mb = rss.peak_bytes / 2**20
        finally:
            engine = descendants(os.getpid())
            stop_spark(spark)
            wait_for_exit(engine)
    # reported, not gated: its run-to-run spread (about 0.2) is wider than
    # the largest bound a gated metric may have
    report["peak_rss_mb"] = peak_mb
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
