"""Steadiness evidence: run every workload over ten seeds, in two sets, and
record per-pass walls, pass counts, quartiles and the spread of each
end-to-end metric as a share of its median.

    python3 perfbench/steadiness.py --sets 2 --seeds 10 --out perfbench/STEADINESS.json

Run it from the repository root on an otherwise idle host. It takes about
(sets x seeds x workloads) minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    diag = next(
        (json.loads(line.split(":", 1)[1]) for line in proc.stderr.splitlines()
         if line.startswith("diagnostics:")),
        None,
    )
    lines = proc.stdout.strip().splitlines()
    return {
        "seed": seed,
        "exit_code": proc.returncode,
        "run_wall_s": time.perf_counter() - t0,
        "result": json.loads(lines[-1]) if lines else None,
        "diagnostics": diag,
    }


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / statistics.median(values), "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"run_seconds": spec["run_seconds"], "sets": []}
    for s in range(args.sets):
        # workloads alternate seed by seed, so that a spell of host
        # contention lands on both rather than on one workload's ten runs
        runs: dict[str, list] = {w["name"]: [] for w in spec["workloads"]}
        for seed in range(1, args.seeds + 1):
            for name, rs in runs.items():
                r = one_run(name, seed, spec["run_seconds"])
                rs.append(r)
                print(json.dumps({"set": s, "workload": name, "seed": seed,
                                  "exit_code": r["exit_code"],
                                  "run_wall_s": round(r["run_wall_s"], 1)}), flush=True)
        summary = {
            wl: {
                name: spread([r["result"]["metrics"][name]["value"] for r in rs if r["result"]])
                for name in bounds
            }
            for wl, rs in runs.items()
        }
        report["sets"].append({"runs": runs, "summary": summary})
        print(json.dumps(summary, indent=1), flush=True)

    verdict = {}
    for wl in report["sets"][0]["summary"]:
        for name, bound in bounds.items():
            sets = [st["summary"][wl][name] for st in report["sets"]]
            meds = [x["median"] for x in sets]
            verdict[f"{wl}/{name}"] = {
                "bound": bound,
                "iqr_shares": [x["iqr_share"] for x in sets],
                "medians": meds,
                "median_drift": (max(meds) - min(meds)) / min(meds),
            }
    report["verdict"] = verdict
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(verdict, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
