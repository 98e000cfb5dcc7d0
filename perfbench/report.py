#!/usr/bin/env python3
"""Summarise benchmark run records into markdown tables.

Usage: python3 perfbench/report.py [RUNS_DIR]   (default .perfbench/runs)

Reads every <run>/summary.json (and result.json / trace.json of traced
runs) and prints, per workload:
  - each end-to-end metric over the untraced runs: median, quartiles and
    spread (quartile distance / median, as statistics.quantiles gives it);
  - the per-layer metrics of the traced runs (medians);
  - tracing overhead: traced vs untraced medians over the same seeds;
  - the shares behind the workload choices;
  - per-query latency quartiles.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TRIGGER = {"stream_incremental", "stream_recovery", "stream_file_sink",
           "stream_jdbc_sink", "jdbc_sink"}
LOADER = "bill_pipeline_e2e"
CORES = 4


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def load_runs(runs_dir):
    runs = []
    for d in sorted(Path(runs_dir).iterdir()):
        if (d / "summary.json").exists():
            runs.append((d, json.loads((d / "summary.json").read_text())))
    return runs


def shares(d, workload):
    """Planning share of the timed wall and of the loader calls' wall,
    driver-gap share of the timed wall, and the task-CPU utilisation
    (task CPU / (wall x 4 cores)) of the loader and of the trigger calls."""
    res = json.loads((d / "result.json").read_text())
    trace = json.loads((d / "trace.json").read_text())
    calls = {c["id"]: c for c in res["calls"]}
    plan = {}
    for s in trace["spans"]:
        if s["name"].startswith("plan.") and s["call"] in calls:
            plan[s["call"]] = plan.get(s["call"], 0.0) + (s["end_ms"] - s["start_ms"]) / 1e3
    cpu = res.get("call_task_cpu_s", {})
    out = {}
    lay = res["layers"]
    out["driver_gap_share"] = lay["exec.driver_gap_s"] / res["wall_s"]
    out["plan_share"] = lay["plan.share"]
    loader = [c for c in calls.values() if c["name"] == LOADER]
    if loader:
        out["loader_plan_share"] = (sum(plan.get(c["id"], 0.0) for c in loader)
                                    / sum(c["dur_s"] for c in loader))
        out["loader_cpu_util"] = (sum(cpu.get(str(c["id"]), 0.0) for c in loader)
                                  / sum(c["dur_s"] for c in loader) / CORES)
    trig = [c for c in calls.values() if c["name"] in TRIGGER]
    if trig:
        out["trigger_cpu_util"] = (sum(cpu.get(str(c["id"]), 0.0) for c in trig)
                                   / sum(c["dur_s"] for c in trig) / CORES)
    return out


def main():
    runs = load_runs(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".perfbench" / "runs")
    for w in sorted({s["workload"] for _, s in runs}):
        plain = [s for _, s in runs if s["workload"] == w and s["trace"] == 0]
        traced = [(d, s) for d, s in runs if s["workload"] == w and s["trace"] == 1]
        print(f"\n## {w}\n")
        if plain:
            seeds = sorted({s["seed"] for s in plain})
            print(f"{len(plain)} untraced runs, seeds {seeds[0]}..{seeds[-1]}, "
                  f"{plain[0]['samples']} calls each.\n")
            print("| metric | Q1 | median | Q3 | spread |\n|---|---|---|---|---|")
            for k in plain[0]["e2e"]:
                q1, m, q3 = quart([s["e2e"][k] for s in plain])
                print(f"| {k} | {q1:.4g} | {m:.4g} | {q3:.4g} | {(q3 - q1) / m:.3f} |")
            for k in ("call_p50_s", "call_p90_s", "cpu_s", "peak_rss_mb"):
                q1, m, q3 = quart([s[k] for s in plain])
                print(f"| {k} (per layer) | {q1:.4g} | {m:.4g} | {q3:.4g} "
                      f"| {(q3 - q1) / m:.3f} |")
            q1, m, q3 = quart([s["host"]["steal_s"] for s in plain])
            print(f"| host steal in timed region, s | {q1:.3g} | {m:.3g} | {q3:.3g} | |")
        if traced:
            print(f"\n{len(traced)} traced runs, seeds {sorted(s['seed'] for _, s in traced)}.\n")
            by_seed = {}
            for s in plain:
                by_seed.setdefault(s["seed"], []).append(s)
            print("Tracing overhead (traced median vs untraced median, same seeds):\n")
            print("| metric | untraced | traced | overhead |\n|---|---|---|---|")
            same = [s for _, t in traced for s in by_seed.get(t["seed"], [])]
            for k in traced[0][1]["e2e"]:
                if same:
                    u = statistics.median(s["e2e"][k] for s in same)
                    t = statistics.median(s["e2e"][k] for _, s in traced)
                    print(f"| {k} | {u:.4g} | {t:.4g} | {(t - u) / u:+.3f} |")
            sh = [shares(d, w) for d, _ in traced]
            print("\nShares (median over traced runs):\n")
            for k in sh[0]:
                print(f"- {k}: {statistics.median(x[k] for x in sh):.3f}")
            print("\n| per-layer metric | median |\n|---|---|")
            for k in sorted(traced[0][1]["layers"]):
                print(f"| {k} | {statistics.median(s['layers'][k] for _, s in traced):.4g} |")
        if plain:
            print("\nPer-query latency over all untraced calls, s:\n")
            print("| query | n | min | Q1 | median | Q3 | max | Q3/Q1 | max/min |")
            print("|---|---|---|---|---|---|---|---|---|")
            per = {}
            for s in plain:
                for q, xs in s["per_query"].items():
                    per.setdefault(q, []).extend(xs)
            for q, xs in sorted(per.items()):
                q1, m, q3 = quart(xs)
                print(f"| {q} | {len(xs)} | {min(xs):.3f} | {q1:.3f} | {m:.3f} | {q3:.3f} "
                      f"| {max(xs):.3f} | {q3 / q1:.2f} | {max(xs) / min(xs):.2f} |")


if __name__ == "__main__":
    main()
