"""Knowledge-graph benchmark: one run of one workload.

    python3 perfbench/run.py --workload build --seed 1 --seconds 3 --trace 0

Run from the root of a checkout.  Inputs come from ``--seed``
(``perfbench/inputs.py``); the timed loop runs for ``--seconds``;
``--trace 0`` prints the end-to-end metrics and ``--trace 1`` the
per-layer ones (``perfbench/metrics.py``).  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Everything the run writes stays under
``.perfbench_work/`` in the checkout; the run's own working directory is
deleted at the end, its spans and result are kept in
``.perfbench_work/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "refresh"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--turns", type=int, default=None,
        help="corpus size in turns (default: the benchmark's size)",
    )
    return p.parse_args(argv)


def calibration() -> dict:
    """The box probes of ``bench.py::_calibration`` (a BLAS matmul:
    memory bandwidth and all cores; a pure-Python hash loop: one core's
    clock; min-of-3 each), taken before the JVM starts, plus what the
    run ran on.  Recorded next to the metrics, never gated on."""
    import platform

    import pyspark

    import bench

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        **bench._calibration(),  # noqa: SLF001
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
    }


def start_session(work: str, nproc: int):
    """``local[nproc]`` with shuffle partitions = nproc and the serial
    collector.  Every file Spark, the JVM or Python write goes under
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from lexicator_spark.session import get_spark

    return get_spark(
        master=f"local[{nproc}]",
        app_name="perfbench",
        shuffle_partitions=nproc,
        extra_conf={
            # the serial collector grows the heap with what the program
            # allocates and holds; G1 also sizes it by how long its
            # pauses take, and its peak RSS varied by 25% across runs
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run for the span counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc  # noqa: SLF001


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    proc = jvm_process()
    spark.stop()
    from pyspark import SparkContext

    SparkContext._gateway.shutdown()  # noqa: SLF001
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lexicator_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 2
    from perfbench import inputs as gen
    from perfbench import metrics, trace, workloads

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    phases = {}  # wall of each phase of this run, for the record
    t0 = time.perf_counter()
    cal = calibration()
    phases["calibration_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    inputs = gen.generate(args.seed, args.turns or gen.CORPUS_TURNS)
    phases["inputs_s"] = time.perf_counter() - t0
    start = workloads.clock()
    spark = start_session(work, cal["nproc"])
    phases["session_s"], session_unstolen_s = workloads.since(start)
    try:
        start = workloads.clock()
        run = workloads.Run(spark, work, inputs, traced=bool(args.trace))
        workloads.WORKLOADS[args.workload](run, args.seconds)
        phases["workload_s"], workload_unstolen_s = workloads.since(start)
        rss = {"jvm": peak_rss_mb(jvm_process().pid), "python": peak_rss_mb(os.getpid())}
        if args.trace:
            t0 = time.perf_counter()
            stages = trace.collect_stages(spark)
            # what tracing adds to a run: the span bookkeeping, and
            # reading the status store once at the end
            run.counts["trace.overhead_s"] = run.tracer.cost_s + time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t0

    if args.trace:
        values = metrics.per_layer(run, stages)
        catalogue = metrics.PER_LAYER
        details = {}
        run.tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    else:
        values, details = metrics.end_to_end(
            run, phases["session_s"] + run.setup_s, session_unstolen_s + run.setup_unstolen_s,
            sum(rss.values()),
        )
        details["peak_rss_mb"] = rss
        # share of the workload's wall the host stole
        details["steal_frac"] = 1.0 - workload_unstolen_s / phases["workload_s"]
        catalogue = metrics.END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, (unit, _better) in catalogue.items()
        },
    }
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus_turns": len(inputs.corpus.rows),
        "inputs_sha256": gen.fingerprint(inputs),
        "calibration": cal,
        "details": details,
        "phases": {**phases, **run.phases},
        "latencies_s": dict(run.lat),
        "unstolen_s": dict(run.unstolen),
        "errors": run.errors,
        "result": result,
    }
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({k: record[k] for k in ("corpus_turns", "inputs_sha256", "calibration", "details")}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
