"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints informational JSON lines, then as
the last line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes goes under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import tempfile
import threading
import time

# Operation costs are CPU seconds of the driver, the JVM (less its JIT
# compiler threads) and the Python workers: on a shared virtual machine,
# wall time also counts the time the host gives to other guests. The
# info line carries the wall twins.
E2E_UNITS = {
    "setup_s": "s",
    "index_docs_per_cpu_s": "docs/cpu-s",
    "index_bytes_per_doc": "B/doc",
    "open_cpu_s": "cpu-s",
    "query_p50_cpu_s": "cpu-s",
    "peak_rss_mb": "MB",
}


def _ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _session(work: str, cpus: int, trace: bool):
    """A session fitted to this machine, every directory under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed JIT compiler threads, so tracing.jit_cpu_s sees them all
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            # Spark 4 compresses with zstd by default; keep it readable
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    from search_engine_spark.session import build_session

    driver_gb = max(1, min(8, int(_ram_gb() // 4)))
    spark = build_session(cpus=cpus, shuffle_partitions=cpus,
                          app_name="perfbench",
                          driver_memory=f"{driver_gb}g",
                          local_dir=os.path.join(work, "spark-local"))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, driver_gb


def _stop(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    import tracing as tr

    gw = SparkContext._gateway
    procs = tr.process_tree(spark)[1:]
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)
    for p in procs:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, root]
    try:
        import pyspark
        import search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}",
              file=sys.stderr)
        return 2
    import tracing as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    box = {"nproc": cpus, "ram_gb": round(_ram_gb(), 1),
           "loadavg_before": _loadavg(), "python": platform.python_version(),
           "spark": pyspark.__version__}
    steal0 = _steal_s()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    tracer = tr.Tracer(bool(args.trace))
    prepare, workload, traced_extra = workloads.WORKLOADS[args.workload]
    cfg = workloads.engine_config(cpus)
    prepared: dict = {}

    def prepare_inputs():
        try:
            prepared["data"] = prepare(args.seed, cfg)
        except Exception as e:  # re-raised by the main thread
            prepared["error"] = e

    # seeded inputs and their oracles are built while the JVM starts
    preparer = threading.Thread(target=prepare_inputs)
    preparer.start()
    spark = None
    try:
        spark, box["driver_memory_gb"] = _session(work, cpus, bool(args.trace))
        preparer.join()
        if "error" in prepared:
            raise prepared["error"]
        tracer.attach(spark)
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds,
                            t_start, cfg)
        workload(run, prepared["data"])
        pids = tr.process_tree(spark)
        run.e2e["peak_rss_mb"] = tr.vm_hwm_mb(pids)
        run.info["peak_rss_mb"] = [round(tr.vm_hwm_mb([p])) for p in pids]
        run.info["jit_cpu_s"] = tr.jit_cpu_s(pids[1])
        if args.trace and traced_extra is not None:
            traced_extra(run)
        _stop(spark)
        spark = None
        layers = (tracer.finish(os.path.join(work, "events"))
                  if args.trace else None)
    finally:
        preparer.join()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))
    box["loadavg_after"] = _loadavg()
    box["steal_s"] = round(_steal_s() - steal0, 2)

    e2e = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    names = tr.per_layer_names()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "box": box, "info": run.info, "errors": run.errors[:10],
                      "end_to_end": e2e if args.trace else None}))
    metrics = (e2e if not args.trace else
               {k: {"value": layers[k], "unit": u} for k, u in names.items()})
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
