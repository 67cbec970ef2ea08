"""Traced-run bookkeeping: spans, self time, and attribution of the JVM
listener events (perfbench/jvm/Trace.scala) to op windows.

Times are epoch microseconds on both sides. With one client, every job,
task and query execution whose time falls inside an op's window belongs
to that op.
"""
import bisect
import json
import statistics


class Spans:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self):
        self.items = []

    def add(self, name, start_us, end_us, op, parent=None):
        sid = len(self.items) + 1
        self.items.append({"id": sid, "name": name, "start": start_us, "end": end_us,
                           "parent": parent, "op": op})
        return sid

    def self_us(self, sid):
        """Span duration minus the part of it its child spans cover."""
        span = self.items[sid - 1]
        kids = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                      for c in self.items if c["parent"] == sid)
        covered, cur_s, cur_e = 0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def write(self, path):
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")


def load_events(path):
    out = []
    try:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    except FileNotFoundError:
        pass
    return out


class Events:
    """One JVM's listener events, indexed for window queries."""

    def __init__(self, events):
        self.jobs = {}
        for e in events:
            if e["kind"] == "job_start":
                self.jobs[e["job"]] = dict(e, end=None)
        for e in events:
            if e["kind"] == "job_end" and e["job"] in self.jobs:
                self.jobs[e["job"]]["end"] = e["t"]
        submit = {e["stage"]: e["submit_us"] for e in events if e["kind"] == "stage"}
        self.tasks = [dict(e, delay_us=max(0, e["launch_us"] - submit.get(e["stage"], e["launch_us"])))
                      for e in events if e["kind"] == "task"]
        self.qes = [e for e in events if e["kind"] == "qe"]
        samples = sorted((e["t"], e["compiles"], e["compile_ns"], e["gc_ms"])
                         for e in events if "compiles" in e)
        self._ct = [s[0] for s in samples]
        self._cv = [s[1:] for s in samples]

    def counters_at(self, t):
        i = bisect.bisect_right(self._ct, t) - 1
        return self._cv[i] if i >= 0 else (self._cv[0] if self._cv else (0, 0, 0))

    def window(self, start, end):
        """Totals of everything inside [start, end]."""
        jobs = [j for j in self.jobs.values() if start <= j["t"] <= end]
        tasks = [t for t in self.tasks if start <= t["t"] <= end]
        qes = [q for q in self.qes if start <= q["t"] <= end]
        c0, c1 = self.counters_at(start), self.counters_at(end)
        return {
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "job_ms": sum(((j["end"] or end) - j["t"]) for j in jobs) / 1000.0,
            "tasks": len(tasks),
            "task_delay_ms": sum(t["delay_us"] for t in tasks) / 1000.0,
            "run_ms": sum(t["run_ms"] for t in tasks),
            "cpu_ms": sum(t["cpu_ns"] for t in tasks) / 1e6,
            "shuffle_w": sum(t["shuffle_w"] for t in tasks),
            "shuffle_r": sum(t["shuffle_r"] for t in tasks),
            "spill": sum(t["spill"] for t in tasks),
            "analysis_ms": sum(q["analysis_ms"] for q in qes),
            "optimization_ms": sum(q["optimization_ms"] for q in qes),
            "planning_ms": sum(q["planning_ms"] for q in qes),
            "compiles": c1[0] - c0[0],
            "compile_ms": (c1[1] - c0[1]) / 1e6,
            "gc_ms": c1[2] - c0[2],
        }

    def group_jobs(self, group):
        return [j for j in self.jobs.values() if j["group"] == group]


def layer_totals(events, windows):
    """Per-op averages of the listener counters over op windows."""
    n = max(1, len(windows))
    tot = {}
    for s, e in windows:
        for k, v in events.window(s, e).items():
            tot[k] = tot.get(k, 0) + v
    g = lambda k: tot.get(k, 0)
    return {
        "catalyst.analysis_ms": g("analysis_ms") / n,
        "catalyst.optimization_ms": g("optimization_ms") / n,
        "catalyst.planning_ms": g("planning_ms") / n,
        "codegen.compiles_per_op": g("compiles") / n,
        "codegen.compile_ms": g("compile_ms") / n,
        "sched.jobs_per_op": g("jobs") / n,
        "sched.stages_per_op": g("stages") / n,
        "sched.tasks_per_op": g("tasks") / n,
        "sched.job_ms": g("job_ms") / n,
        "sched.task_delay_ms": g("task_delay_ms") / max(1, g("tasks")),
        "task.run_ms": g("run_ms") / n,
        "task.cpu_ms": g("cpu_ms") / n,
        "task.cpu_share": g("cpu_ms") / g("run_ms") if g("run_ms") else 0.0,
        "shuffle.write_bytes": g("shuffle_w") / n,
        "shuffle.read_bytes": g("shuffle_r") / n,
        "shuffle.spill_bytes": g("spill") / n,
        "jvm.gc_ms_per_op": g("gc_ms") / n,
    }


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0
