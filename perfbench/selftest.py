#!/usr/bin/env python3
"""Self-test of the benchmark harness.

1. The checkers bite: at tiny scale, every checker passes the engine's real
   result and fails on a corrupted copy (one row dropped, one `text`
   changed, one entry reordered) -- `graftbench.Main --selftest`.
2. Every run prints what BENCHMARK.json promises: each workload, run for one
   second, prints every end-to-end metric with its unit and no failed
   operation; one traced run prints every per-layer metric with its unit.

    python3 perfbench/selftest.py
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def checkers() -> bool:
    jar = build.build()
    work = run.SCRATCH / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        p = subprocess.run(run.java_cmd(jar, work, ["--selftest", str(work)]), cwd=str(work),
                           env=run.jvm_env(), stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(p.stdout, end="")
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-5000:])
    return p.returncode == 0


def prints(workload, trace, wanted) -> bool:
    b = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(b["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                                       "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"MISS {workload} trace={trace}: exit {p.returncode}")
        sys.stderr.write(p.stderr[-5000:])
        return False
    res = json.loads(lines[-1])
    ok = set(res) == {"correct", "attempted", "failed", "metrics"} and res["correct"] \
        and res["failed"] == 0 and res["attempted"] >= 1
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            print(f"MISS {workload} trace={trace}: metric {m['name']} [{m['unit']}] not printed as such")
            ok = False
    extra = set(res["metrics"]) - {m["name"] for m in wanted}
    if extra:
        print(f"MISS {workload} trace={trace}: unlisted metrics {sorted(extra)}")
        ok = False
    print(f"{'ok  ' if ok else 'MISS'} {workload} trace={trace} prints its {len(wanted)} metrics")
    return ok


def main():
    b = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = checkers()
    for w in b["workloads"]:
        ok = prints(w["name"], 0, b["end_to_end"]) and ok
    ok = prints(b["workloads"][0]["name"], 1, b["per_layer"]) and ok
    print("selftest passed" if ok else "selftest FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
