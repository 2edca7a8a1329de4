"""Interleaved fresh-JVM A/B for any registered query (the
BENCH_AB.md method; ``--query ingest_parse`` is the original
ingest-parse A/B).

Two checkouts — a git worktree pinned at --ref and the current
HEAD working tree — run ALTERNATELY, one fresh JVM per (code,
round) via subprocess, each doing a sf0.001 + sf0.1 warm pass then
timing 3 sf0.1 passes through the noop sink; medians compared.
Interleaving cancels machine drift; fresh JVMs remove suite-level
GC/code-cache pressure. With --ref HEAD the two sides are identical
code: the run measures the box's same-code spread, which is how a
driver-bench anomaly is separated from a code regression (VERDICT
r8 wrong #1: docs_simhash_neardup read 8.6 s in the driver's run vs
2.5 s in the builder's on identical code).

Usage: python ab_query.py --query docs_simhash_neardup
           [--ref HEAD] [--rounds 3] [--timed 3]
Prints the BENCH_AB.md row.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
qname = sys.argv[2]
timed = int(sys.argv[3])
calibrate = sys.argv[4] == "1"
from irclogbot_spark.session import get_spark
from irclogbot_spark.queries import queries

# local[$SPARK_GRAFT_CPUS], the master bench.py and its calibration use
spark = get_spark("ab_worker")
if calibrate:
    import bench

    print("ABCALIB " + json.dumps(bench._calibration(spark)), flush=True)
q = queries()[qname]
for warm_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
    q(spark, warm_dir).write.format("noop").mode("overwrite").save()
times = []
for _ in range(timed):
    t0 = time.perf_counter()
    q(spark, "/root/testdata/sf0.1").write.format("noop").mode("overwrite").save()
    times.append(time.perf_counter() - t0)
print("ABRESULT " + json.dumps(sorted(times)))
spark.stop()
"""


def run_once(
    code_dir: str, query: str, timed: int, calibrate: bool = False
) -> tuple[list[float], float | None]:
    out = subprocess.run(
        [
            sys.executable, "-c", _WORKER, code_dir, query, str(timed),
            "1" if calibrate else "0",
        ],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=code_dir,
    )
    times, calib = None, None
    for line in out.stdout.splitlines():
        if line.startswith("ABRESULT "):
            times = json.loads(line[len("ABRESULT "):])
        elif line.startswith("ABCALIB "):
            calib = json.loads(line[len("ABCALIB "):])
    if times is None:
        raise RuntimeError(
            f"worker failed in {code_dir}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
        )
    return times, calib


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--timed", type=int, default=3)
    ap.add_argument("--worktree", default=None)
    ap.add_argument(
        "--calibrate",
        action="store_true",
        help="run the bench.py calibration microbench in every JVM "
        "and report per-side medians (round 13 — drift vs code is "
        "then classifiable per JVM, not just per run)",
    )
    args = ap.parse_args()

    wt = args.worktree or f"/tmp/ab_{args.query}_worktree"
    if not os.path.isdir(wt):
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, args.ref],
            cwd=REPO,
            check=True,
        )

    ref_times: list[float] = []
    head_times: list[float] = []
    ref_cal: list[float] = []
    head_cal: list[float] = []
    for i in range(args.rounds):
        order = (
            [("ref", wt), ("head", REPO)]
            if i % 2 == 0
            else [("head", REPO), ("ref", wt)]
        )
        for label, d in order:
            ts, cal = run_once(d, args.query, args.timed, args.calibrate)
            (ref_times if label == "ref" else head_times).extend(ts)
            if cal is not None:
                (ref_cal if label == "ref" else head_cal).append(cal)
            cal_s = f" calib {cal:.3f}" if cal is not None else ""
            print(
                f"  round {i} {label}: {[round(t, 3) for t in ts]}{cal_s}",
                flush=True,
            )

    ref_med = statistics.median(ref_times)
    head_med = statistics.median(head_times)
    print(f"\n| query | {args.ref} (median s) | HEAD (median s) | ratio |")
    print("|---|---|---|---|")
    print(
        f"| {args.query} | {ref_med:.3f} | {head_med:.3f} | "
        f"{head_med / ref_med:.2f} |"
    )
    if ref_cal and head_cal:
        print(
            f"calibration medians: {args.ref} "
            f"{statistics.median(ref_cal):.3f}s, HEAD "
            f"{statistics.median(head_cal):.3f}s (reference host 2.0s)"
        )
    all_times = sorted(ref_times + head_times)
    print(
        f"spreads: {args.ref} {min(ref_times):.3f}-{max(ref_times):.3f}, "
        f"HEAD {min(head_times):.3f}-{max(head_times):.3f}; "
        f"pooled median {statistics.median(all_times):.3f}, "
        f"n={len(all_times)}"
    )


if __name__ == "__main__":
    main()
