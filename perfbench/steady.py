#!/usr/bin/env python3
"""Steadiness record of the benchmark.

Run a set: every workload of BENCHMARK.json once per seed, raw results
appended to perfbench/results/set-<name>.jsonl (one JSON object per run:
workload, seed, trace, wall seconds, the run's result line).

    python3 perfbench/steady.py run --set a --seeds 101-110
    python3 perfbench/steady.py run --set traced --seeds 101 --trace 1

Report: per set, workload and end-to-end metric the median, the quartiles
(Python's statistics.quantiles(values, n=4)) and the spread (q3 - q1) /
median; between sets a and b how far b's median moved against a's, in the
direction the metric counts as worse; for traced runs, each traced value
beside the untraced median (the tracing overhead).

    python3 perfbench/steady.py report > perfbench/results/STEADINESS.md
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RESULTS = BENCH / "results"


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(name, seed_list, trace, workloads):
    b = spec()
    RESULTS.mkdir(exist_ok=True)
    out = RESULTS / f"set-{name}.jsonl"
    names = workloads or [w["name"] for w in b["workloads"]]
    for seed in seed_list:
        for w in names:
            t0 = time.time()
            p = subprocess.run(b["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                               str(b["run_seconds"]), "--trace", str(trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            rec = {"workload": w, "seed": seed, "trace": trace, "wall_s": round(wall, 2),
                   "exit": p.returncode, "result": result}
            with out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def load(name):
    p = RESULTS / f"set-{name}.jsonl"
    return [json.loads(x) for x in p.read_text().splitlines()] if p.exists() else []


def values(recs, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if r["workload"] == workload and r["result"] and metric in r["result"]["metrics"]]


def report():
    b = spec()
    e2e = b["end_to_end"]
    sets = sorted(p.stem[4:] for p in RESULTS.glob("set-*.jsonl"))
    untraced = {s: [r for r in load(s) if r["trace"] == 0] for s in sets}
    print("# Steadiness record\n")
    print("Generated by `python3 perfbench/steady.py report` from the raw runs in this directory.\n")
    for s in sets:
        recs = load(s)
        if not recs:
            continue
        print(f"## Set `{s}`\n")
        fails = sum(1 for r in recs if not r["result"] or r["result"]["failed"] or not r["result"]["correct"])
        walls = [r["wall_s"] for r in recs]
        print(f"{len(recs)} runs, seeds {min(r['seed'] for r in recs)}-{max(r['seed'] for r in recs)}, "
              f"{fails} with a failed operation or no result; wall per run median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s.\n")
        if any(r["trace"] == 0 for r in recs):
            print("| workload | metric | unit | n | median | q1 | q3 | spread | bound |")
            print("|---|---|---|---|---|---|---|---|---|")
            for w in b["workloads"]:
                for m in e2e:
                    v = values(untraced[s], w["name"], m["name"])
                    if len(v) < 2:
                        continue
                    q1, med, q3 = statistics.quantiles(v, n=4)
                    med = statistics.median(v)
                    print(f"| {w['name']} | {m['name']} | {m['unit']} | {len(v)} | {med:.4g} | "
                          f"{q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | {m['bound']} |")
            print()
    if "a" in untraced and "b" in untraced and untraced["a"] and untraced["b"]:
        print("## Set `b` against set `a`\n")
        print("Worse-ward move of b's median as a share of a's (negative: b is better).\n")
        print("| workload | metric | median a | median b | worse by | bound |")
        print("|---|---|---|---|---|---|")
        for w in b["workloads"]:
            for m in e2e:
                va, vb = values(untraced["a"], w["name"], m["name"]), values(untraced["b"], w["name"], m["name"])
                if not va or not vb:
                    continue
                ma, mb = statistics.median(va), statistics.median(vb)
                worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
                print(f"| {w['name']} | {m['name']} | {ma:.4g} | {mb:.4g} | {worse:+.3f} | {m['bound']} |")
        print()
    traced = [r for s in sets for r in load(s) if r["trace"] == 1 and r["result"]]
    base = [r for s in sets for r in untraced[s]]
    if traced:
        print("## Traced runs\n")
        print("Tracing overhead: each end-to-end metric under tracing (`trace.<name>`) "
              "against the median of all untraced runs of the workload.\n")
        print("| workload | seed | metric | traced | untraced median | traced - untraced |")
        print("|---|---|---|---|---|---|")
        for r in traced:
            for m in e2e:
                t = r["result"]["metrics"].get(f"trace.{m['name']}")
                v = values(base, r["workload"], m["name"])
                if t is None or not v:
                    continue
                u = statistics.median(v)
                print(f"| {r['workload']} | {r['seed']} | {m['name']} | {t['value']:.4g} | {u:.4g} | "
                      f"{t['value'] - u:+.4g} ({(t['value'] - u) / u:+.1%}) |")
        print()
        print("Per-layer metrics of the traced runs:\n")
        names = [m["name"] for m in b["per_layer"]]
        print("| metric | unit | " + " | ".join(f"{r['workload']} s{r['seed']}" for r in traced) + " |")
        print("|---|---|" + "---|" * len(traced))
        for n in names:
            unit = traced[0]["result"]["metrics"][n]["unit"]
            print(f"| {n} | {unit} | " + " | ".join(
                f"{r['result']['metrics'][n]['value']:.4g}" for r in traced) + " |")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", required=True, help="N or N-M")
    r.add_argument("--trace", type=int, default=0, choices=[0, 1])
    r.add_argument("--workloads", default="", help="comma list; default: all of BENCHMARK.json")
    sub.add_parser("report")
    a = ap.parse_args()
    if a.cmd == "run":
        run_set(a.set, seeds(a.seeds), a.trace, [w for w in a.workloads.split(",") if w])
    else:
        report()


if __name__ == "__main__":
    sys.exit(main())
