"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: serve, ingest, catalog (see
workloads.py and README.md). With ``--trace 0`` the last stdout line is
a JSON object with the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` it holds the per-layer metrics instead, from the
outside-in tracer and the Spark event log. Everything the run writes
goes under ``.perfbench_work/`` in the current directory, which is
wiped at the start of each run. Spark's own logging stays on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one fixed JVM heap, ample for these inputs, so GC behaves the same in
# every run whatever the caller's environment sets
DRIVER_MEMORY = "2g"
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_ms": "ms"}


def prepare(work: str) -> None:
    """Point every writer at ``work``: Spark's local dirs and warehouse,
    the collections warehouse, Python's and the JVM's temp dirs; give
    Spark's Python workers the repository on their path; and run BLAS
    single-threaded, the serving regime the repository documents
    (multi-threaded OpenBLAS kept three more cores spinning after every
    small matvec of a search, four busy threads on four cores)."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PGML_SPARK_WAREHOUSE=os.path.join(work, "pgml_warehouse"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        OPENBLAS_NUM_THREADS="1",
    )
    sys.path.insert(0, ROOT)


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work")
    prepare(work)
    os.chdir(work)

    import workloads
    from postgresml_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    tracer = None
    if args.trace:
        import layers
        from tracer import Tracer

        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "events"),
        })
        tracer = Tracer()
        layers.install(tracer)
    traced_from = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    bench = workloads.Bench(spark, args.seed, args.seconds, work, tracer)
    try:
        workloads.WORKLOADS[args.workload](bench)
        bench.extra["peak_rss_mb"] = _hwm_mb("self") + _hwm_mb(jvm_pid)
    finally:
        stop(spark)
    traced_wall = time.perf_counter() - traced_from

    attempted = [o for o in bench.ops if o.measured]
    failed = sum(not o.ok for o in attempted)
    correct = not bench.check_failures and failed == 0
    print(f"setup (s): {bench.setup_s()}; reference (s): "
          f"{bench.extra.get('reference_s')}", file=sys.stderr)
    print("readouts " + json.dumps({
        k: {"value": v, "unit": workloads.READOUTS[k]}
        for k, v in bench.readouts.items()
    }))
    if tracer is None:
        values = {
            "setup_s": bench.setup_s(),
            "throughput_per_s": bench.extra["throughput"],
            "latency_ms": bench.extra["latency_ms"],
        }
        units = E2E_UNITS
    else:
        import eventlog

        tracer.uninstall()
        groups = eventlog.group_stats(
            eventlog.read_events(eventlog.event_files(os.path.join(work, "events")))
        )
        values = layers.metrics(bench, tracer, groups, traced_wall)
        units = {n: layers.unit_of(n) for n in values}
    print(json.dumps({
        "correct": correct,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
