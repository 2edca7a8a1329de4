"""Interleaved fresh-JVM A/B for any registered query (the
BENCH_AB.md method; ``--query ingest_parse`` is the original
ingest-parse A/B).

Two checkouts — a copy of the tree at --ref (``git archive``, or the
tree at --worktree) and the current working tree — run ALTERNATELY, one
fresh JVM per (code, round) via subprocess, each doing a sf0.001 + sf0.1 warm pass then
timing 3 sf0.1 passes through the noop sink; medians compared.
Interleaving cancels machine drift; fresh JVMs remove suite-level
GC/code-cache pressure. With --ref HEAD the two sides are identical
code: the run measures the box's same-code spread, which is how a
driver-bench anomaly is separated from a code regression (VERDICT
r8 wrong #1: docs_simhash_neardup read 8.6 s in the driver's run vs
2.5 s in the builder's on identical code).

Usage: python ab_query.py --query docs_simhash_neardup
           [--ref HEAD | --worktree DIR] [--rounds 3] [--timed 3]
Prints the BENCH_AB.md row; the other side is labelled with --worktree's
directory when given, else with --ref.

Plan comparison: ``--plans`` builds the named queries (every registered
query when --query is left out) once in each tree, each tree in a fresh
process, and compares their ``optimizedPlan()`` text with expression
ids, lambda-variable suffixes, process ids, RDD ids and temp paths
masked. ``--rows`` also collects every query and compares its rows
(sorted reprs). It prints the names that differ, with a diff, and exits
1 if any do:

    python ab_query.py --plans --sf DATA_DIR [--ref HEAD~1 | --worktree DIR]
           [--query NAME ...] [--rows]
"""

from __future__ import annotations

import argparse
import difflib
import json
import os
import re
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


_PLAN_WORKER = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
sf_dir, names, rows = sys.argv[2], json.loads(sys.argv[3]), sys.argv[4] == "1"
from irclogbot_spark.session import get_spark
from irclogbot_spark.queries import queries

spark = get_spark("ab_plans")
registry = queries()
for name in names or list(registry):
    out = {"name": name}
    try:
        df = registry[name](spark, sf_dir)
        out["plan"] = df._jdf.queryExecution().optimizedPlan().toString()
        if rows:
            out["rows"] = sorted(repr(r) for r in df.collect())
    except Exception as e:  # a failing build is a difference, not a crash
        out["plan"] = f"ERROR {type(e).__name__}: {str(e)[:500]}"
    print("ABPLAN " + json.dumps(out), flush=True)
spark.stop()
"""

#: (pattern, replacement) pairs that make two processes' plans of one
#: query comparable: what differs between JVMs but not between plans
_PLAN_MASKS = [
    (re.compile(r"(lambda \w+?)(_\d+)?#\d+"), r"\1#N"),  # F.transform names x_12
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"_p\d+\b"), "_p<pid>"),  # per-process artifact paths
    (re.compile(r"\[\d+\] at "), "[N] at "),  # RDD ids
    (re.compile(r"/tmp/[\w.-]+"), "/tmp/<tmp>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
]


def mask_plan(plan: str) -> str:
    for pat, rep in _PLAN_MASKS:
        plan = pat.sub(rep, plan)
    return plan


def dump_plans(code_dir: str, sf_dir: str, names: list[str], rows: bool) -> dict:
    """name -> {"plan": masked optimized plan, "rows": sorted reprs}
    of every query, built in one fresh process over ``code_dir``."""
    out = subprocess.run(
        [sys.executable, "-c", _PLAN_WORKER, code_dir, sf_dir, json.dumps(names),
         "1" if rows else "0"],
        capture_output=True, text=True, timeout=3600, cwd=code_dir,
    )
    got = {}
    for line in out.stdout.splitlines():
        if line.startswith("ABPLAN "):
            rec = json.loads(line[len("ABPLAN "):])
            rec["plan"] = mask_plan(rec["plan"])
            got[rec.pop("name")] = rec
    if out.returncode != 0 or (names and set(got) != set(names)):
        raise RuntimeError(
            f"plan worker failed in {code_dir}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
        )
    return got


def compare_plans(ref_dir: str, ref_label: str, sf_dir: str, names: list[str],
                  rows: bool) -> int:
    """Print the queries whose masked plans (or rows) differ between
    the two trees, with a unified diff; 1 if any differ."""
    ref = dump_plans(ref_dir, sf_dir, names, rows)
    head = dump_plans(REPO, sf_dir, names, rows)
    differ = []
    for name in sorted(set(ref) | set(head)):
        a, b = ref.get(name, {}), head.get(name, {})
        for key in ("plan", "rows") if rows else ("plan",):
            if a.get(key) != b.get(key):
                differ.append((name, key))
                if key == "plan":
                    diff = difflib.unified_diff(
                        (a.get(key) or "<missing>").splitlines(),
                        (b.get(key) or "<missing>").splitlines(),
                        ref_label, "HEAD", lineterm="", n=1,
                    )
                    print("\n".join(diff), "\n")
    for name, key in differ:
        print(f"DIFFERS {name}: {key}")
    print(f"{len(set(ref) | set(head))} queries compared, {len(differ)} differences")
    return 1 if differ else 0


def _ref_tree(ref: str) -> str:
    """A plain copy of the tree at ``ref`` (``git archive``), made once
    per commit under /tmp."""
    sha = subprocess.run(
        ["git", "rev-parse", "--short", ref], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    path = f"/tmp/ab_tree_{sha}"
    if not os.path.isdir(path):
        os.makedirs(path)
        archive = subprocess.run(
            ["git", "archive", sha], cwd=REPO, check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", path], input=archive, check=True)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", nargs="+", default=[])
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
    ap.add_argument("--plans", action="store_true",
                    help="compare optimized plans instead of timing")
    ap.add_argument("--rows", action="store_true",
                    help="with --plans: also compare every query's rows")
    ap.add_argument("--sf", help="with --plans: the data directory the queries read")
    args = ap.parse_args()
    if args.plans and not args.sf:
        ap.error("--plans needs --sf")
    if not args.plans and len(args.query) != 1:
        ap.error("timing takes exactly one --query")

    wt = args.worktree or _ref_tree(args.ref)
    ref_label = args.worktree or args.ref
    if args.plans:
        sys.exit(compare_plans(wt, ref_label, args.sf, args.query, args.rows))
    args.query = args.query[0]

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
    print(f"\n| query | {ref_label} (median s) | HEAD (median s) | ratio |")
    print("|---|---|---|---|")
    print(
        f"| {args.query} | {ref_med:.3f} | {head_med:.3f} | "
        f"{head_med / ref_med:.2f} |"
    )
    if ref_cal and head_cal:
        print(
            f"calibration medians: {ref_label} "
            f"{statistics.median(ref_cal):.3f}s, HEAD "
            f"{statistics.median(head_cal):.3f}s (reference host 2.0s)"
        )
    all_times = sorted(ref_times + head_times)
    print(
        f"spreads: {ref_label} {min(ref_times):.3f}-{max(ref_times):.3f}, "
        f"HEAD {min(head_times):.3f}-{max(head_times):.3f}; "
        f"pooled median {statistics.median(all_times):.3f}, "
        f"n={len(all_times)}"
    )


if __name__ == "__main__":
    main()
