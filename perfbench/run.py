"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload convert --seed 1 --seconds 20 --trace 0

Builds the workload's inputs from --seed, measures for --seconds, checks
every output against the oracle, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .perfbench_out/. See README.md.

Everything it writes stays under the checkout: scratch files in
.perfbench_work/ (removed at exit) and traces in .perfbench_out/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

PACKAGE = "cassandra_sstable_to_protocolbuf_spark"
WORKLOADS = ("convert", "compact")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the program write inside the
    checkout, and give Spark one local core per CPU of this process."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the driver JVM's heap; the inputs are a few MB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # -XX:-UsePerfData: HotSpot would otherwise write its perf-data file
    # to the system temp directory, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"',
        "pyspark-shell"])
    sys.path.insert(1, root)


def main(argv) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(root, work)
        import workloads
        metrics, bench = workloads.run(args.workload, args.seed,
                                       args.seconds, bool(args.trace), work,
                                       T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out = os.path.join(root, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(workloads.trace_report(bench), f, indent=1)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    print("perfbench: " + json.dumps(getattr(bench, "timings", {})),
          file=sys.stderr)
    for e in bench.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
