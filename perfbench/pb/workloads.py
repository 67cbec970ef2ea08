"""The workloads. Each returns a result dict:

    ops      timed op records (dicts with cls, ms, ok, cause)
    setup_s  process start to the first timed op
    setup    {phase: seconds}
    rss_mb   peak RSS summed over the program's processes
    seconds  the timed span
    extra    workload-specific figures, printed as context
    layers   per-layer metrics (traced runs only)

and appends failures outside the timed ops (set-up, warm-up, checks) to
`Run.issues`.
"""
import json
import os
import socket
import statistics
import threading
import time

from . import gen
from .build import classpath
from .client import Client, closed_loop
from .oracle import Oracle, from_json
from .procs import Proc
from .settings import bench_conf, bench_default
from .stats import TAIL_PCT, percentile
from .trace import Events, Spans, layer_totals, load_events, median_or_zero

READ_CLIENTS = 4
READ_WARMUP = 12
WRITE_WARMUP = 6
SNAPSHOT_EVERY = 10
READERS_1NODE = 3
# With three readers on two one-core followers, a follower applying a
# pushed write under read load passes the leader's 2 s push read timeout
# and majority-ack writes answer 503; two readers keep every op passing.
FOLLOWER_READERS = 2
BENCH_SCALA = "src/main/scala/graft/Bench.scala"
# the write workloads' warm-up table; no prefix of it names another table
WARM_TABLE = f"warm_{gen.WRITE_TABLE}"
TRACE_PROPS = ["-Dspark.extraListeners=perfbench.TraceListener",
               "-Dspark.sql.queryExecutionListeners=perfbench.TraceQeListener"]


class Run:
    def __init__(self, repo, bench_dir, build_out, meta, java_opts, seed, seconds, trace, run_dir, cpus):
        self.repo, self.bench_dir, self.build_out, self.meta = repo, bench_dir, build_out, meta
        self.java_opts, self.seed, self.seconds, self.trace = java_opts, seed, seconds, trace
        self.dir, self.cpus = run_dir, cpus
        # the corpus Bench times by default, unless PERFBENCH_SF_DIR names another
        self.sf_dir = (os.environ.get("PERFBENCH_SF_DIR")
                       or bench_default(repo / BENCH_SCALA, "sfDir"))
        self.procs = []
        self.issues = []
        self.spans = Spans()

    def env(self, **extra):
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_CONF", "SPARK_HOME"))}
        env.update({k: str(v) for k, v in extra.items()})
        return env

    def jvm(self, name, main, args, heap, props=(), **env):
        tmp = self.dir / f"tmp-{name}"
        tmp.mkdir(parents=True, exist_ok=True)
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
               + self.java_opts + list(props))
        if self.trace:
            cmd += TRACE_PROPS + [f"-Dperfbench.trace.out={self.dir / f'trace-{name}.jsonl'}"]
        cmd += ["-cp", classpath(self.build_out), main] + [str(a) for a in args]
        p = Proc(name, cmd, self.env(**env), str(self.dir), self.dir / f"{name}.log")
        self.procs.append(p)
        return p

    def rss_mb(self):
        return sum(p.peak_rss_mb() for p in self.procs)

    def events(self, name):
        return Events(load_events(self.dir / f"trace-{name}.jsonl"))

    def oracle(self):
        return Oracle(self.repo, self.sf_dir, self.bench_dir / ".cache")


def stop_async(procs):
    """Stop processes in the background; join the returned thread."""
    t = threading.Thread(target=lambda: [p.stop() for p in procs])
    t.start()
    return t


def free_ports(n):
    socks = [socket.socket() for _ in range(n)]
    for s in socks:
        s.bind(("localhost", 0))
    ports = [s.getsockname()[1] for s in socks]
    for s in socks:
        s.close()
    return ports


def _check_corpus(run):
    for t in Oracle.TABLES:
        if not os.path.exists(f"{run.sf_dir}/{t}.parquet"):
            raise RuntimeError(f"corpus table missing: {run.sf_dir}/{t}.parquet")


# --------------------------------------------------------------- suite_sf01

def module_split_problems(modules, queries):
    """Why the module split does not cover every query exactly once."""
    seen = {}
    for mod, qs in modules.items():
        for q in qs:
            seen.setdefault(q, []).append(mod)
    out = [f"{q} registered by {', '.join(m)}" for q, m in sorted(seen.items()) if len(m) > 1]
    out += [f"{q} registered by no module" for q in sorted(set(queries) - set(seen))]
    out += [f"{q} is not a registered query" for q in sorted(set(seen) - set(queries))]
    return out


def suite(run):
    _check_corpus(run)
    names = run.meta["queries"]
    run.issues += [f"module split: {p}" for p in module_split_problems(run.meta["modules"], names)]
    order = run.dir / "order.txt"
    order.write_text("\n".join(",".join(p) for p in gen.suite_orders(run.seed, names, 16)) + "\n")
    conf = bench_conf(run.repo / BENCH_SCALA,
                      {"SPARK_GRAFT_CPUS": str(run.cpus)})
    props = [f"-D{k}={v}" for k, v in conf.items()]
    props.append(f"-Dspark.sql.warehouse.dir={run.dir / 'wh'}")
    t0 = time.time()
    p = run.jvm("suite", "perfbench.SuiteRunner", [run.sf_dir, order, run.seconds, run.dir / "out"],
                "4g", props)
    p.wait_line(r"^PB ready$", 600)
    setup_s = time.time() - t0
    if p.p.wait(600) != 0:
        raise RuntimeError(f"suite runner exited {p.p.returncode}; see {p.log_path}")
    meta = json.loads((run.dir / "out/phases.json").read_text())
    for f in meta["failures"]:
        run.issues.append(f"setup: {f}")
    records = [json.loads(l) for l in (run.dir / "out/ops.jsonl").read_text().splitlines() if l]
    warm = [r for r in records if r["pass"] == 0]
    timed = [r for r in records if r["pass"] > 0]
    for r in warm:
        if not r["ok"]:
            run.issues.append(f"warm-up {r['name']}: {r['error']}")

    # output check: every check-pass result against DuckDB's cached answer
    import pyarrow.parquet as pq
    oracle = run.oracle()
    expected = oracle.cached(run.meta["oracle_sql"], wire=False)
    wrong = {}
    for r in (r for r in records if r["pass"] == -1):
        name = r["name"]
        if not r["ok"]:
            wrong[name] = f"check pass failed: {r['error']}"
            continue
        if name not in expected:
            wrong[name] = "no oracle statement"
            continue
        tbl = pq.read_table(run.dir / "out/check" / name)
        cols = tbl.column_names
        rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
        cause = oracle.compare(expected[name], cols, rows)
        if cause:
            wrong[name] = cause
    for name, cause in sorted(wrong.items()):
        run.issues.append(f"check {name}: {cause}")
    ops = []
    for r in timed:
        ok = r["ok"] and r["name"] not in wrong
        cause = None if ok else (r["error"] or wrong.get(r["name"]))
        ops.append({"cls": "query", "name": r["name"], "ms": r["ms"], "ok": ok, "cause": cause,
                    "start_us": r["start_us"], "end_us": r["end_us"]})
    passes = max((r["pass"] for r in timed), default=0)
    per_query = {}
    for o in ops:
        if o["ok"]:
            per_query.setdefault(o["name"], []).append(o["ms"])
    suite_s = sum(statistics.median(v) for v in per_query.values()) / 1000.0
    span_s = ((max(r["end_us"] for r in timed) - min(r["start_us"] for r in timed)) / 1e6
              if timed else run.seconds)
    setup = {f"setup.{k}_s": v for k, v in meta["phases"].items() if k != "check"}
    res = {"ops": ops, "setup_s": setup_s, "setup": setup,
           "rss_mb": run.rss_mb(), "seconds": span_s,
           "extra": {"suite_s": suite_s, "passes": passes, "spark_version": meta["spark_version"],
                     "duckdb_suite_s": sum(v[2] for v in expected.values()) / 1000.0},
           "layers": {}}
    if run.trace:
        ev = run.events("suite")
        windows = [(o["start_us"], o["end_us"]) for o in ops]
        for o in ops:
            run.spans.add("suite.query", o["start_us"], o["end_us"], o["name"])
        layers = layer_totals(ev, windows)
        for mod, qs in run.meta["modules"].items():
            layers[f"{mod}_s"] = sum(statistics.median(per_query[q]) for q in qs
                                     if q in per_query) / 1000.0
        layers.update(setup)
        res["layers"] = layers
    return res


# ---------------------------------------------------------------- http_read

def _serve(run, name, port, heap, args=(), **env):
    main = "perfbench.TracedServe" if run.trace else "graft.http.ServeMain"
    return run.jvm(name, main, [port, *args], heap, **env)


def _check_reads(ops, oracle, fixed):
    """Compare each successful read's JSON with DuckDB's answer; return
    DuckDB's own time over the same ops, in seconds (context only)."""
    oracle.materialize(("orders", "customer", "lineitem"))
    memo = {}
    duck_ms = 0.0
    for o in ops:
        if not o["ok"]:
            continue
        sql = o["sql"]
        if sql not in memo:
            memo[sql] = fixed.get(sql) or oracle.expect(sql)
        duck_ms += memo[sql][2]
        res = o["doc"].get("results", {})
        rows = [tuple(from_json(v) for v in row) for row in res.get("values", [])]
        cause = oracle.compare(memo[sql], res.get("columns", []), rows)
        if cause:
            o["ok"], o["cause"] = False, f"wrong answer: {cause}"
    return duck_ms / 1000.0


def http_read(run):
    _check_corpus(run)
    oracle_sql = run.meta["oracle_sql"]
    stmts = gen.read_statements(run.seed, 20000, oracle_sql)
    # warm-up: other seeded reads, then each analytic statement of the run once
    warm = [op for op in gen.read_statements(f"{run.seed}/warm", READ_WARMUP, oracle_sql)
            if op[0] != "analytic"]
    warm += [("analytic", oracle_sql[n]) for n in gen.analytic_subset(run.seed)]
    t0 = time.time()
    (port,) = free_ports(1)
    node = _serve(run, "node0", port, "2g", [run.sf_dir], SPARK_GRAFT_CPUS=run.cpus,
                  GRAFT_WAREHOUSE=run.dir / "wh0")
    node.wait_line(r"listening on :(\d+)", 300)
    session_s = time.time() - t0
    w0 = time.time()
    wops = closed_loop([(port, "/db/query", iter(warm[i::READ_CLIENTS]), i)
                        for i in range(READ_CLIENTS)], 600)
    warmup_s = time.time() - w0
    setup_s = time.time() - t0
    for o in wops:
        if not o["ok"]:
            run.issues.append(f"warm-up {o['cls']}: {o['cause']}")
    if run.trace:
        # one client, the same op sequence
        ops = closed_loop([(port, "/db/query", iter(stmts), 0)], run.seconds)
    else:
        shared = iter(stmts)
        ops = closed_loop([(port, "/db/query", shared, i) for i in range(READ_CLIENTS)],
                          run.seconds)
    span_s = _span(ops, run.seconds)
    layers = {}
    if run.trace:
        layers = _replay_reads(run, node, ops)
    rss = run.rss_mb()
    stopping = stop_async([node])
    oracle = run.oracle()
    analytic = {oracle_sql[n]: oracle_sql[n] for n in gen.ANALYTIC}
    duck_s = _check_reads(ops, oracle, oracle.cached(analytic, wire=True))
    stopping.join()
    res = {"ops": ops, "setup_s": setup_s,
           "setup": {"setup.session_s": session_s, "setup.warmup_s": warmup_s},
           "rss_mb": rss, "seconds": span_s, "extra": {"duckdb_same_ops_s": duck_s}, "layers": {}}
    if run.trace:
        ev = run.events("node0")
        layers.update(layer_totals(ev, [_window(o) for o in ops]))
        layers.update(_http_layers(ops))
        layers.update(res["setup"])
        res["layers"] = layers
    return res


def _span(ops, seconds):
    if not ops:
        return seconds
    return max(o["start"] + o["ms"] / 1000.0 for o in ops) - ops[0]["start"]


def _window(o):
    s = int(o["start"] * 1e6)
    return s, s + int(o["ms"] * 1000)


def _http_layers(ops):
    ok = [o for o in ops if o["ok"]]
    waits = sorted(o["ms"] - o["server_ms"] for o in ok)
    return {
        "http.wait_p50_ms": percentile(waits, 50.0) if waits else 0.0,
        "http.wait_tail_ms": percentile(waits, TAIL_PCT) if waits else 0.0,
        "http.resp_bytes_per_op": sum(o["bytes"] for o in ops) / max(1, len(ops)),
    }


def _replay_reads(run, node, ops):
    """In-process replay of the sent reads: gateway, Results and Json split."""
    sqls = run.dir / "replay-read.jsonl"
    sqls.write_text("".join(json.dumps(o["sql"]) + "\n" for o in ops))
    out = run.dir / "replay-read.out.jsonl"
    node.command(f"read {sqls} {out}", 600)
    node.command("flush", 60)
    ev = run.events(node.name)
    recs = [json.loads(l) for l in out.read_text().splitlines() if l]
    gw, res_self, enc, rows = [], [], [], []
    for r in recs:
        if not r.get("ok"):
            run.issues.append(f"replay: {r.get('error')}")
            continue
        op = run.spans.add("replay.read", r["t0"], r["t3"], r["i"])
        run.spans.add("gateway.queryDf", r["t0"], r["t1"], r["i"], op)
        rs = run.spans.add("results.fromDataFrame", r["t1"], r["t2"], r["i"], op)
        for j in ev.group_jobs(r["group"]):
            if j["t"] >= r["t1"]:
                run.spans.add("sched.job", j["t"], j["end"] or r["t2"], r["i"], rs)
        run.spans.add("json.encode", r["t2"], r["t3"], r["i"], op)
        gw.append((r["t1"] - r["t0"]) / 1000.0 - r["parse_ms"] - r["analysis_ms"])
        res_self.append(run.spans.self_us(rs) / 1000.0)
        enc.append((r["t3"] - r["t2"]) / 1000.0)
        rows.append(r["rows"])
    return {"gateway.self_ms": median_or_zero(gw), "results.self_ms": median_or_zero(res_self),
            "json.encode_ms": median_or_zero(enc),
            "results.rows_per_op": sum(rows) / max(1, len(rows))}


# --------------------------------------------------------------- http_write

def http_write(run, followers=2):
    """A leader with `followers` log-following followers; the readers go to
    the followers, or to the leader when there are none."""
    ports = free_ports(1 + followers)
    leader_url = f"http://localhost:{ports[0]}"
    log_dir = run.dir / "log0"
    t0 = time.time()
    # Spark task threads over all nodes stay within the box's cores
    cpus = [max(1, run.cpus - followers)] + [1] * followers
    readers_at = ports[1:] or ports[:1]
    n_readers = FOLLOWER_READERS if followers else READERS_1NODE
    heap = "1g" if followers else "2g"
    nodes = [_serve(run, "node0", ports[0], heap, SPARK_GRAFT_CPUS=cpus[0],
                    GRAFT_WAREHOUSE=run.dir / "wh0", GRAFT_NODE_ID="node0",
                    GRAFT_MAJORITY_ACK="true", GRAFT_LOG_DIR=log_dir,
                    GRAFT_SNAPSHOT_EVERY=SNAPSHOT_EVERY)]
    for i in range(1, 1 + followers):
        nodes.append(_serve(run, f"node{i}", ports[i], "1g", SPARK_GRAFT_CPUS=cpus[i],
                            GRAFT_WAREHOUSE=run.dir / f"wh{i}", GRAFT_NODE_ID=f"node{i}",
                            GRAFT_LEADER_URL=leader_url, GRAFT_FOLLOW_LOG="true"))
    for n in nodes:
        n.wait_line(r"listening on :(\d+)", 300)
    session_s = time.time() - t0
    leader = Client(ports[0])
    index = 0  # the leader's log index: one entry per successful execute

    def execute(sql, what):
        nonlocal index
        r = leader.sql("/db/execute", sql)
        if r["ok"]:
            index += 1
        else:
            run.issues.append(f"{what}: {r['cause']}")
        return r

    # The leader alone creates and preloads the table and runs the warm-up
    # writes on a scratch table; the followers then join and catch up by
    # pulling the log (or the snapshot that replaced it), which also warms
    # their DML path before the first timed push reaches them.
    c0 = time.time()
    execute(gen.WRITE_DDL, "create")
    for sql in gen.preload_statements():
        execute(sql, "preload")
    cluster_s = time.time() - c0
    w0 = time.time()
    execute(gen.WRITE_DDL.replace(gen.WRITE_TABLE, WARM_TABLE, 1), "warm-up create")
    for cls, sql in gen.write_ops(f"{run.seed}/warm", WRITE_WARMUP)[0]:
        execute(sql.replace(f" {gen.WRITE_TABLE}", f" {WARM_TABLE}", 1), f"warm-up {cls}")
    warmup_s = time.time() - w0
    j0 = time.time()
    for i in range(1, 1 + followers):
        _, _, _, _, err = leader.call("POST", "/join", {"id": f"node{i}",
                                                        "addr": f"http://localhost:{ports[i]}"})
        if err:
            run.issues.append(f"join node{i}: {err}")
    wreads = closed_loop([(p, "/db/query",
                           iter(gen.follower_reads(f"{run.seed}/warm{i}", 4, gen.PRELOAD_ROWS)), i)
                          for i, p in enumerate(readers_at)], 300)
    for o in wreads:
        if not o["ok"]:
            run.issues.append(f"warm-up read: {o['cause']}")
    cluster_s += time.time() - j0
    setup_s = time.time() - t0

    writes, names = gen.write_ops(run.seed, 5000)
    reads = [gen.follower_reads(f"{run.seed}/{i}", 20000, gen.PRELOAD_ROWS)
             for i in range(n_readers)]
    base_index = index
    if run.trace:
        ops, lags, snaps, log_growth = _traced_write_loop(run, ports[0], ports[1:], readers_at,
                                                          writes, reads, base_index, log_dir)
    else:
        ops = closed_loop([(ports[0], "/db/execute", iter(writes), "writer")] +
                          [(readers_at[i % len(readers_at)], "/db/query", iter(reads[i]),
                            f"reader{i}") for i in range(n_readers)], run.seconds)
    span_s = _span(ops, run.seconds)
    for o in ops:
        o["cls"] = ("write." if o["tag"] == "writer" else "read.") + o["cls"]
    sent = [o for o in ops if o["tag"] == "writer"]

    # output check: the same table on every node, equal to the model of
    # every acked write; each read saw a name its key held at some point
    model, uncertain = {i: f"n{i}" for i in range(gen.PRELOAD_ROWS)}, set()
    for o in sent:
        _apply(model, uncertain, o)
    tables = []
    for i, port in enumerate(ports):
        c = Client(port)
        r = c.sql("/db/query", f"SELECT id, name FROM {gen.WRITE_TABLE} ORDER BY id")
        c.close()
        if not r["ok"]:
            run.issues.append(f"final read node{i}: {r['cause']}")
            tables.append(None)
            continue
        tables.append({row[0]: row[1] for row in r["doc"]["results"]["values"]})
    for i, t in enumerate(tables):
        if t is None:
            continue
        if t != tables[0]:
            run.issues.append(f"check: node{i} table differs from node0")
        for k in set(model) | set(t):
            if k not in uncertain and model.get(k) != t.get(k):
                run.issues.append(f"check: node{i} id {k} holds {t.get(k)!r}, acked writes give "
                                  f"{model.get(k)!r}")
                break
    check_point_reads(ops, names, sent)

    layers = {}
    if run.trace:
        layers = _write_layers(run, nodes, ports, sent, lags, model)
        reader = nodes[ports.index(readers_at[0])]
        layers.update(_replay_reads(run, reader, [o for o in ops if o["tag"] == "reader0"]))
        layers["snapshot.count"] = len(snaps)
        layers["log.bytes_per_write"] = median_or_zero(log_growth)
    rss = run.rss_mb()
    for t in [stop_async([n]) for n in nodes]:
        t.join()
    setup = {"setup.session_s": session_s, "setup.cluster_s": cluster_s, "setup.warmup_s": warmup_s}
    res = {"ops": ops, "setup_s": setup_s, "setup": setup, "rss_mb": rss,
           "seconds": span_s,
           "extra": {"preload_rows": gen.PRELOAD_ROWS, "writes_sent": len(sent),
                     "final_rows": len(tables[0] or {})}, "layers": {}}
    if run.trace:
        layers.update(layer_totals(run.events("node0"), [_window(o) for o in sent]))
        layers.update(_http_layers(ops))
        layers.update(setup)
        res["layers"] = layers
    return res


def check_point_reads(ops, names, sent):
    """Mark wrong every successful point read whose reply its key cannot
    have given. Readers only read preloaded ids, so a reply holds that id
    with a name it held at some point (`names`), or it is empty because a
    DELETE of the id was sent before the read ended; any other empty reply
    is a missing row."""
    deleted_at = {}
    for o in sent:
        if o["sql"].startswith("DELETE"):
            k = int(o["sql"].rsplit("=", 1)[1])
            deleted_at[k] = min(o["start"], deleted_at.get(k, o["start"]))
    for o in ops:
        if not o["ok"] or o["tag"] == "writer":
            continue
        vals = o["doc"]["results"]["values"]
        k = int(o["sql"].rsplit("=", 1)[1])
        if not vals:
            if o["start"] + o["ms"] / 1000.0 < deleted_at.get(k, float("inf")):
                o["ok"], o["cause"] = False, f"wrong answer: no row for live id {k}"
        elif len(vals) != 1 or vals[0][0] != k or vals[0][1] not in names.get(k, ()):
            o["ok"], o["cause"] = False, f"wrong answer: {vals} for id {k}"


def _apply(model, uncertain, o):
    sql = o["sql"]
    touched = []
    if sql.startswith("INSERT"):
        for part in sql.split("VALUES ", 1)[1].split("), ("):
            k, name = part.strip("()").split(", ", 1)
            touched.append((int(k), name.strip("'")))
    elif sql.startswith("UPDATE"):
        name = sql.split("name = '", 1)[1].split("'", 1)[0]
        touched.append((int(sql.rsplit("=", 1)[1]), name))
    else:
        touched.append((int(sql.rsplit("=", 1)[1]), None))
    for k, name in touched:
        if not o["ok"]:
            uncertain.add(k)
        elif name is None:
            model.pop(k, None)
        else:
            model[k] = name


def _traced_write_loop(run, leader_port, follower_ports, readers_at, writes, reads, base_index,
                       log_dir):
    """One client: each write, the wait until every follower reports it
    applied, then one read per reader stream. After each write it also
    lists the leader's snapshot directories, to count snapshots taken, and
    takes the statement log's growth (a snapshot truncates the log, so
    only growing steps count)."""
    deadline = time.time() + run.seconds
    leader = Client(leader_port)
    followers = [Client(p) for p in follower_ports]
    targets = [Client(p) for p in readers_at]
    ops, lags, index, snaps, growth = [], [], base_index, set(), []
    snap_dir = log_dir / "snapshots"
    log = log_dir / "stmtlog.jsonl"
    log_size = log.stat().st_size if log.exists() else 0
    its = [iter(r) for r in reads]
    for cls, sql in writes:
        if time.time() >= deadline:
            break
        r = leader.sql("/db/execute", sql)
        r.update(cls=cls, sql=sql, tag="writer")
        ops.append(r)
        if r["ok"]:
            index += 1
            acked = time.time()
            for f in followers:
                while time.time() - acked < 5:
                    _, doc, _, _, err = f.call("GET", "/status")
                    if not err and int(doc.get("applied_index", 0)) >= index:
                        break
                    time.sleep(0.002)
                lags.append((time.time() - acked) * 1000.0)
            if snap_dir.exists():
                snaps.update(p.name for p in snap_dir.iterdir() if p.name.startswith("snap_"))
            size = log.stat().st_size if log.exists() else 0
            if size > log_size:
                growth.append(size - log_size)
            log_size = size
        for i, it in enumerate(its):
            rcls, rsql = next(it)
            rr = targets[i % len(targets)].sql("/db/query", rsql)
            rr.update(cls=rcls, sql=rsql, tag=f"reader{i}")
            ops.append(rr)
    for c in [leader] + followers + targets:
        c.close()
    return ops, lags, snaps, growth


def _write_layers(run, nodes, ports, sent, lags, model):
    """Replication, storage and standalone-gateway figures of a traced run."""
    # the leader's warehouse less the warm-up table, taken before the
    # replay below adds its own table
    wh = sum(p.stat().st_size for e in (run.dir / "wh0").iterdir()
             if not e.name.startswith(WARM_TABLE)
             for p in ([e] if e.is_file() else e.rglob("*")) if p.is_file())
    leader = Client(ports[0])
    pulls = []
    for since in (0, max(0, len(sent) - 5)):
        t0 = time.perf_counter()
        _, _, _, _, err = leader.call("GET", f"/log?since={since}")
        if not err:
            pulls.append((time.perf_counter() - t0) * 1000.0)
    leader.close()
    # the same write ops on a standalone gateway in the leader's JVM
    table = f"{gen.WRITE_TABLE}_replay"
    stmts = [gen.WRITE_DDL.replace(gen.WRITE_TABLE, table, 1)]
    stmts += [s.replace(f" {gen.WRITE_TABLE}", f" {table}", 1) for s in gen.preload_statements()]
    first = len(stmts)
    stmts += [o["sql"].replace(f" {gen.WRITE_TABLE}", f" {table}", 1) for o in sent]
    f = run.dir / "replay-write.jsonl"
    f.write_text("".join(json.dumps(s) + "\n" for s in stmts))
    out = run.dir / "replay-write.out.jsonl"
    nodes[0].command(f"write {f} {out}", 600)
    recs = [json.loads(l) for l in out.read_text().splitlines() if l][first:]
    by_cls, acks = {}, []
    for o, r in zip(sent, recs):
        if not r.get("ok"):
            run.issues.append(f"replay write: {r.get('error')}")
            continue
        ms = (r["end"] - r["t0"]) / 1000.0
        by_cls.setdefault(o["cls"].split(".")[-1], []).append(ms)
        if o["ok"]:
            acks.append(o["server_ms"] - ms)
        run.spans.add("gateway.execute", r["t0"], r["end"], r["i"])
    user = sum(4 + len(v.encode()) for v in model.values())
    return {
        "gateway.execute_insert_ms": median_or_zero(by_cls.get("insert", [])),
        "gateway.execute_batch_ms": median_or_zero(by_cls.get("batch", [])),
        "gateway.execute_update_ms": median_or_zero(by_cls.get("update", [])),
        "gateway.execute_delete_ms": median_or_zero(by_cls.get("delete", [])),
        "repl.ack_ms": median_or_zero(acks),
        "repl.follower_lag_ms": median_or_zero(lags),
        "repl.log_pull_ms": median_or_zero(pulls),
        "storage.amplification": wh / user if user else 0.0,
    }


WORKLOADS = {"suite_sf01": suite, "http_read": http_read, "http_write": http_write,
             "http_write_1node": lambda run: http_write(run, followers=0)}
