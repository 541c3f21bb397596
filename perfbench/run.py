"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the workload's inputs from the
seed (cached under ``.perfbench/``), starts a Spark session at
``local[$SPARK_GRAFT_CPUS]`` (default: every core), drains the worker
backlog for ``--seconds``, checks the outputs, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` the per-layer metrics of a traced run. Earlier
lines carry the environment record and the details behind each figure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))


def _configure_env() -> None:
    """Keep every file the run writes inside the checkout, and size the
    session through the program's own variables."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _start_spark():
    from cruncher_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: do not leave it running
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    import resource

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user ... steal)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]


def _environment(spark, load_start: float, cpu_start: list[int]) -> dict:
    import pyspark

    delta = [b - a for a, b in zip(cpu_start, _cpu_times())]
    sysprop = spark._jvm.java.lang.System.getProperty
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "spark_master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "pyspark": pyspark.__version__,
        "jvm": f"{sysprop('java.vendor')} {sysprop('java.version')}",
        "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0],
        # share of CPU time the hypervisor gave to others during the run
        "cpu_steal_frac": delta[7] / max(sum(delta), 1),
    }


#: end-to-end metric -> unit. The tails (the rule in stats.tail) go on
#: the detail line with their sample counts: a run of the length the
#: benchmark can afford holds fewer than 20 batches, so the rule falls
#: back to the maximum, which is too noisy to gate on.
UNITS = {
    "setup_s": "s",
    "ids_per_s": "1/s",
    "batch_p50_s": "s",
    "refresh_p50_s": "s",
    "heap_live_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _configure_env()
    import drain
    import layers
    from stats import check_metric_names, tail

    if args.workload not in drain.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(drain.WORKLOADS)}")
    wl = drain.WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    t_run = time.perf_counter()

    from spans import NullTracer, Tracer

    tracer_factory = Tracer if args.trace else (lambda spark: NullTracer())
    started = []  # so a failing run still stops its JVM

    def start():
        started.append(_start_spark())
        return started[-1]

    try:
        res = drain.run(wl, start, args.seed, args.seconds, WORK, tracer_factory)
        spark = res.spark
        t_check = time.perf_counter()
        check = drain.check(wl, spark, res, WORK)
        check["check_s"] = time.perf_counter() - t_check
        env = _environment(spark, load_start, cpu_start)
        metrics = dict(res.metrics)
        peak_rss_mb = _peak_rss_mb(spark)
        if args.trace:
            trace_file = WORK / "results" / f"spans-{wl.name}-s{args.seed}.json"
            res.tracer.close(trace_file)
            metrics, summary = layers.per_layer(res)
            print(f"# trace: {json.dumps(summary)} (spans in {trace_file.relative_to(ROOT)})")
    finally:
        for session in started:
            _stop_spark(session)

    failed = res.drain.failed + (1 if check["problems"] else 0)
    correct = not check["problems"] and not res.drain.errors
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "run_wall_s": time.perf_counter() - t_run,
        "batches": len(res.drain.batch_s),
        "refresh_reads": len(res.drain.refresh_s),
        "batch_tail_s": tail(res.drain.batch_s),
        "refresh_tail_s": tail(res.drain.refresh_s),
        # printed, not gated: it follows the collector's heap sizing, which
        # moved it by a quarter between runs of the same work
        "peak_rss_mb": peak_rss_mb,
        "batch_s": res.drain.batch_s,
        "refresh_s": res.drain.refresh_s,
        "setup": res.setup,
        "check": check,
        "errors": res.drain.errors[:10],
        "environment": env,
    }
    print("# " + json.dumps(detail, default=str))
    units = UNITS if not args.trace else layers.UNITS
    check_metric_names(metrics)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.drain.attempted + 1,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
