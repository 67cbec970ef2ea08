#!/usr/bin/env python3
"""The repository benchmark: one command, four workloads.

    python3 perfbench/run.py --workload {suite_sf01,http_read,http_write,http_write_1node}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
benchmark's JVM code from source into .bench_build/. Each run checks the
program's outputs, prints a table of the workload's figures, writes a JSON
artifact (and, traced, its spans) under perfbench/.runs/, and prints one
JSON result object as its last stdout line. It exits 1 if any op failed or
any output check did not pass, 2 if it could not run at all.

With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics, measured from one
client with Spark listeners attached (see README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

from pb import build, procs, stats, workloads  # noqa: E402

REPO = BENCH.parent


def spec():
    return json.loads((REPO / "BENCHMARK.json").read_text())


def provenance(seed, build_out):
    def read(path):
        try:
            return Path(path).read_text()
        except OSError:
            return ""
    mem = next((l.split()[1] for l in read("/proc/meminfo").splitlines()
                if l.startswith("MemTotal:")), "0")
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                                text=True, timeout=10).stdout.strip()
    except OSError:
        commit = ""
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr
    jars = os.listdir(build.jars_dir(build_out))
    spark = next((j[len("spark-core_2.13-"):-4] for j in jars if j.startswith("spark-core_2.13-")), "")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": int(mem),
        "loadavg_before": float(read("/proc/loadavg").split()[0] or 0),
        "git_commit": commit or None,
        "source_hash": build_out.name,
        "seed": seed,
        "jvm": java.splitlines()[0] if java else "",
        "spark": spark,
    }


def end_to_end(res):
    """The end-to-end metrics of BENCHMARK.json, from a workload result."""
    s = stats.summarize(res["ops"], res["seconds"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["rss_mb"], "MB"),
        "p50_ms": (s.get("p50_ms", stats.FAILED_MS), "ms"),
        "tail_ms": (s.get("tail_ms", stats.FAILED_MS), "ms"),
        "ops_per_s": (s.get("ops_per_s", 0.0), "1/s"),
    }, s


def named(workload, res, summary):
    """The named figures (per op class) that apply to this workload."""
    out = {"setup_s": res["setup_s"], "peak_rss_mb": res["rss_mb"],
           "error_share": summary["failed"] / max(1, summary["attempted"])}
    groups = {"query": [o for o in res["ops"] if o["cls"] == "query"],
              "read": [o for o in res["ops"] if not o["cls"].startswith(("write.", "query"))],
              "write": [o for o in res["ops"] if o["cls"].startswith("write.")]}
    for g, ops in groups.items():
        if not ops:
            continue
        s = stats.summarize(ops, res["seconds"])
        out[f"{g}_p50_ms"] = s["p50_ms"]
        out[f"{g}_tail_ms"] = s["tail_ms"]
        if g != "query":
            out[f"{g}_ops"] = s["ops_per_s"]
    if "suite_s" in res["extra"]:
        out["suite_s"] = res["extra"]["suite_s"]
    return out


def by_class(ops):
    classes = {}
    for o in ops:
        c = classes.setdefault(o["cls"], {"attempted": 0, "failed": 0, "causes": {}})
        c["attempted"] += 1
        if not o["ok"]:
            c["failed"] += 1
            cause = (o.get("cause") or "unknown")[:200]
            c["causes"][cause] = c["causes"].get(cause, 0) + 1
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sp = spec()
    build_out = build.build(REPO, BENCH)
    meta = build.meta(build_out)
    prov = provenance(args.seed, build_out)
    cpus = min(prov["nproc"], 4)
    runs = BENCH / ".runs"
    run_dir = runs / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    run = workloads.Run(REPO, BENCH, build_out, meta, procs.java_opts(REPO), args.seed,
                        args.seconds, args.trace, run_dir, cpus)
    try:
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        procs.stop_all()
    prov["loadavg_after"] = float(Path("/proc/loadavg").read_text().split()[0])
    bound = max(m["bound"] for m in sp["end_to_end"])
    # flagged when the box was oversubscribed by more than the bound
    prov["loaded"] = prov["loadavg_before"] > (1 + bound) * prov["nproc"]

    e2e, summary = end_to_end(res)
    figures = named(args.workload, res, summary)
    issues = run.issues
    if not args.trace and not summary["tail_comparable"]:
        # tail_ms is reported at a fixed percentile; too few ops beyond it
        # make the run incomparable rather than moving the percentile
        issues.append(f"only {summary['attempted']} timed ops: fewer than {stats.MIN_BEYOND} "
                      f"beyond p{stats.TAIL_PCT:g}, tail_ms not comparable")
    failed = summary["failed"]
    correct = failed == 0 and not issues
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "provenance": prov, "correct": correct,
        "attempted": summary["attempted"], "failed": failed,
        "classes": by_class(res["ops"]), "issues": issues,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "tail_pct": summary.get("tail_pct"), "figures": figures, "extra": res["extra"],
        "setup": res["setup"], "layers": res["layers"],
    }
    if args.trace:
        prior = runs / f"{args.workload}-s{args.seed}-t0.json"
        if prior.exists():
            base = json.loads(prior.read_text())["end_to_end"]
            artifact["tracing_overhead"] = {k: v - base[k] for k, (v, _) in e2e.items() if k in base}
        run.spans.write(runs / f"{args.workload}-s{args.seed}-spans.jsonl")
    (runs / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(artifact, indent=1, default=str))
    if correct:  # a failed run keeps its logs
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} attempted={summary['attempted']} failed={failed} "
          f"tail=p{summary.get('tail_pct')} nproc={prov['nproc']} load={prov['loadavg_before']}"
          f"->{prov['loadavg_after']}{' LOADED' if prov['loaded'] else ''}")
    for k, v in figures.items():
        print(f"#   {k:<18} {v:.4f}" if isinstance(v, float) else f"#   {k:<18} {v}")
    for k, v in res["extra"].items():
        if k not in figures:
            print(f"#   {k:<18} {v}  (context)")
    for cls, c in sorted(artifact["classes"].items()):
        print(f"#   class {cls:<14} attempted={c['attempted']} failed={c['failed']}")
        for cause, n in c["causes"].items():
            print(f"#     {n} x {cause}")
    for i in issues[:20]:
        print(f"#   issue: {i}")
    if args.trace:
        for k, v in sorted(res["layers"].items()):
            print(f"#   layer {k:<26} {v:.4f}")
        for k, v in artifact.get("tracing_overhead", {}).items():
            print(f"#   overhead {k:<12} {v:+.4f}")
        units = {m["name"]: m["unit"] for m in sp["per_layer"]}
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        units = {m["name"]: m["unit"] for m in sp["end_to_end"]}
        metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": summary["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        procs.stop_all()
        sys.exit(2)
