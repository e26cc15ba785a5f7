#!/usr/bin/env python3
"""Paired parent/change comparison, by the benchmark's own rules.

    python3 perfbench/compare.py --parent ../parent --change . \\
        --workload corpus --workload dataframe --pairs 10 --out pairs.jsonl

Runs this copy of the benchmark against two program trees (each a
checkout of the repository), so both sides are measured with identical
benchmark code and settings. Pair i uses seed `--seed-base + i` on both
sides and alternates which side runs first. Every run's result line is
appended to `--out`; `--report pairs.jsonl` re-reads such a file without
running anything.

Per workload and end-to-end metric the report gives each side's median and
quartiles, the change's win share over the pairs (ties count for neither)
and a verdict:
  invalid     a run on either side was not correct, the change failed
              more queries than the parent, or the reference job (which
              runs no program code, and by which times are normalized)
              ran more than REFERENCE_MOVE faster or slower on the
              change's side, a JVM-wide effect the normalization would
              hide: no speed claim counts; compare the `wall` figures;
  better      the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile spread;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  either side's quartile spread, as a share of its median,
              exceeds the bound, so a difference within it cannot be told
              from noise (unless every change run beats every parent run);
  same        none of the above: within the bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent

# Largest move of the paired median reference-job time between the sides
# that still counts as the same host speed.
REFERENCE_MOVE = 0.10


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_once(root, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--root", str(root),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"run failed: {root} {workload} seed {seed}")
    res = json.loads(lines[-1])
    # The summary's wall-second figures and the reference job's time.
    for line in lines:
        if line.startswith("# reference_s "):
            res["reference_s"] = float(line.split()[2])
        elif "(wall " in line:
            res.setdefault("wall", {})[line.split()[1]] = float(
                line.split("(wall ")[1].split(")")[0])
    return res


def verdict(metric, parent, change):
    """Compare one metric's paired values (lists in pair order)."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if (c < p if lower else c > p))
    share = wins / len(parent)
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    spread = max((p3 - p1) / pm, (c3 - c1) / cm)
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if share >= 0.9 and abs(cm - pm) > (p3 - p1):
        v = "better"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3],
            "win_share": share, "spread": spread, "verdict": v}


def invalid(full):
    """Why a workload's pairs cannot support a claim, or None."""
    if any(not p[s]["correct"] for p in full for s in ("parent", "change")):
        return "a run was not correct"
    failed = {s: sum(p[s]["failed"] for p in full) for s in ("parent", "change")}
    if failed["change"] > failed["parent"]:
        return f"change failed {failed['change']} queries, parent {failed['parent']}"
    ratios = [p["change"]["reference_s"] / p["parent"]["reference_s"] for p in full]
    move = statistics.median(ratios) - 1
    if abs(move) > REFERENCE_MOVE:
        return f"reference job {move:+.0%} on the change's side"
    return None


def report(rows, bench):
    """One row per workload and end-to-end metric, from the pairs run."""
    by = {}
    for r in rows:
        by.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r
    out = []
    for wl, pairs in sorted(by.items()):
        full = [p for _, p in sorted(pairs.items()) if {"parent", "change"} <= set(p)]
        why = invalid(full)
        for m in bench["end_to_end"]:
            if why:
                v = {"verdict": "invalid", "why": why}
            else:
                vals = {s: [p[s]["metrics"][m["name"]]["value"] for p in full]
                        for s in ("parent", "change")}
                v = verdict(m, vals["parent"], vals["change"])
            out.append({"workload": wl, "metric": m["name"], "pairs": len(full), **v})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", type=Path)
    ap.add_argument("--change", type=Path)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", type=Path, default=Path("pairs.jsonl"))
    ap.add_argument("--report", type=Path, help="report on a saved pairs file")
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    if args.report:
        rows = [json.loads(l) for l in args.report.read_text().splitlines() if l]
    else:
        if not (args.parent and args.change and args.workload):
            ap.error("--parent, --change and --workload are required to run pairs")
        seconds = args.seconds or bench["run_seconds"]
        rows = []
        with open(args.out, "a") as f:
            for i in range(args.pairs):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for wl in args.workload:
                    for side in order:
                        root = args.parent if side == "parent" else args.change
                        res = run_once(root.resolve(), wl, args.seed_base + i, seconds)
                        row = {"workload": wl, "pair": i, "side": side,
                               "first": order[0], **res}
                        rows.append(row)
                        f.write(json.dumps(row) + "\n")
                        f.flush()

    for r in report(rows, bench):
        if r["verdict"] == "invalid":
            print(f"{r['workload']:<10} {r['metric']:<16} n={r['pairs']:<3} "
                  f"invalid: {r['why']}")
            continue
        p, c = r["parent"], r["change"]
        print(f"{r['workload']:<10} {r['metric']:<16} n={r['pairs']:<3} "
              f"parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
              f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  "
              f"wins {r['win_share']:.0%}  spread {r['spread']:.1%}  {r['verdict']}")


if __name__ == "__main__":
    main()
