"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/README.md``) in this process on
``local[<cores>]``, from the root of a checkout of the repository.
Inputs are generated from ``--seed``; everything the run writes stays
under ``.perfbench/`` in the checkout.  The full result (run-conditions
stamp, every round, every check, spans) goes to
``.perfbench/results/<workload>-s<seed>-t<trace>-<time>.json``; the last
line of standard output is the summary::

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics.  Exit code 0 when every check passed, 1 when one
failed, 2 when the run could not start.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_etl", "corpus_mix")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10,
                   help="sizes the fixed count of timed rounds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and pin parallelism and the driver heap so runs repeat."""
    for sub in ("tmp", "spark-local", "warehouse-sql"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse-sql")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no hsperfdata files under /tmp from the launcher or driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops its Spark session and JVM (finally
    # blocks run on SystemExit, not on a bare SIGTERM)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "play_bq_gcp_spark")):
        print(f"perfbench: no play_bq_gcp_spark package under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}"
    work = os.path.join(base, "work", tag)
    _environment(work)
    sys.path[:0] = [HERE, ROOT]
    import harness
    import probes

    try:
        result = harness.run(args, work, T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["stamp"]["host_probe_s"] = probes.host_probe_s()
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
