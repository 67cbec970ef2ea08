#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: for each workload and
metric, the distance between the first and third quartile of the runs'
values as a share of their median.

    python3 perfbench/spread.py [--runs N] [--seconds S] [--seed0 K] [workload ...]

Runs each workload N times (default 10) with seeds K, K+1, ... (default
1000) and compares every spread with a third of the metric's bound. With
--from-artifacts it reads the newest untraced artifacts in
perfbench/.runs/ instead of running anything.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

from pb.stats import iqr_share  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--from-artifacts", action="store_true")
    args = ap.parse_args()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    ok = True
    for w in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        if args.from_artifacts:
            for p in sorted((BENCH / ".runs").glob(f"{w}-s*-t0.json")):
                a = json.loads(p.read_text())
                for k in values:
                    values[k].append(a["end_to_end"][k])
        else:
            for i in range(args.runs):
                cmd = spec["command"] + ["--workload", w, "--seed", str(args.seed0 + i),
                                         "--seconds", str(seconds), "--trace", "0"]
                out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
                last = json.loads(out.stdout.strip().splitlines()[-1])
                if not last["correct"]:
                    print(f"{w} seed {args.seed0 + i}: correct=false")
                    ok = False
                for k in values:
                    values[k].append(last["metrics"][k]["value"])
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 4:
                continue
            share = iqr_share(v)
            flag = "" if share < m["bound"] / 3 else "  <-- above a third of the bound"
            if m["name"] != "setup_s" and share > m["bound"]:
                ok = False
            print(f"{w:<18} {m['name']:<12} median {statistics.median(v):10.3f} {m['unit']:<4} "
                  f"spread {share:6.3f} (bound {m['bound']}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
