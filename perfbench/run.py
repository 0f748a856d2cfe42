"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 20 --trace 0

Runs one seeded workload against the package in the checkout that holds
this directory, checks its outputs, prints a readable report and, as the
last line, one JSON object: the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nashville_etl_service_backup_spark"
WORKLOADS = ("etl_refresh", "curate_corpus")


def configure(work: str, cores: int, driver_memory: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    turn on Spark's event log (uncompressed, non-rolling) for traced runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python UDF workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: peak RSS then does not depend on when the JVM
        # decided to grow it.  All JIT compiler threads from the start: the
        # JIT then gets through its queue during set-up whatever the host
        # load, and the CPU the timed operations use varies far less
        # between runs (see README)
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_memory} -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {k}={v!s}" if " " not in str(v) else f"--conf '{k}={v}'"
                    for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft workload benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE}/ not found next to {os.path.basename(HERE)}/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import workloads

    spec = gen.load_spec()
    cores = max(1, min(spec["cores"], len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure(work, cores, spec["driver_memory"], bool(args.trace))
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        spec, work, cores)
    try:
        result = run.execute()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # left alone while other runs use it
        except OSError:
            pass
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(run.trace_record, f, indent=1)
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    for line in run.report:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
