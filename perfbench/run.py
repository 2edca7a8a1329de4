"""sparklog benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload {ingest_stream,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The inputs are generated from ``--seed``
under ``.perfbench/`` and removed when the run ends; a traced run also
leaves its spans and counters in ``.perfbench/traces/``. The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) listed
in BENCHMARK.json.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_stream", "query_mix")


def _environment(work: str, cpus: int) -> None:
    """Everything Spark, py4j and Python write goes under ``work``; one
    local task thread per core (the session would default to 32)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="3g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    time.tzset()


def _stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _remove_registry_dirs() -> None:
    """The ``queries`` registry builds its at-rest indexes on first use
    under ``/tmp/sparklog_*_p<pid>``, a path it fixes itself; remove this
    process's, so the run leaves nothing behind outside the checkout."""
    for d in glob.glob(f"/tmp/sparklog_*_p{os.getpid()}"):
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "irclogbot_spark", "queries.py")):
        print(f"perfbench: no sparklog sources under {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    _environment(work, cpus)
    sys.path.insert(0, ROOT)

    import layers
    from tracing import Tracer

    tracer = Tracer()
    if args.trace:
        tracer.py4j.install()
        tracer.enabled = True
    try:
        if args.workload == "ingest_stream":
            import ingest_stream

            wl = ingest_stream.Workload(args.seed, work, tracer, args.trace == 1)
        else:
            import query_mix

            wl = query_mix.Workload(args.seed, work, tracer, cpus, args.trace == 1)
        result = wl.run(args.seconds, T_START)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        _remove_registry_dirs()

    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus, **wl.info}
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        metrics = layers.per_layer(tracer)
        tracer.dump(path, {"info": info, "per_layer": metrics})
        info["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
