"""DuckDB answers and the comparison every workload's output check uses.

Rows are canonicalized with `tools/oracle_diff.py`'s own `canon` (columns
sorted by name, rows sorted, floats bit-exact). JSON responses are first
mapped to the values DuckDB's Python API returns for the same cells.
Answers to the fixed statements (the suite and the analytic class) are
computed once per corpus and statement set and cached under
`perfbench/.cache`, outside timing.
"""
import datetime
import decimal
import hashlib
import importlib.util
import json
import pickle
import re
import time

import duckdb

_TS = re.compile(r"^(\d{4}-\d\d-\d\d)[T ](\d\d:\d\d)(:\d\d)?(\.\d+)?$")


def load_oracle_diff(repo):
    spec = importlib.util.spec_from_file_location("oracle_diff", repo / "tools" / "oracle_diff.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _ts(text):
    m = _TS.match(text)
    if not m:
        return text
    frac = (m.group(4) or "").rstrip("0").rstrip(".")
    return f"{m.group(1)} {m.group(2)}{m.group(3) or ':00'}{frac if frac != '.' else ''}"


def from_duck(v):
    """A DuckDB cell as the service's JSON would carry it, after parsing."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return _ts(v.isoformat(sep=" "))
    if isinstance(v, (datetime.date, datetime.time)):
        return str(v)
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        return [from_duck(x) for x in v]
    if isinstance(v, dict):
        return {str(k): from_duck(x) for k, x in v.items()}
    return v


def from_json(v):
    if isinstance(v, str):
        return _ts(v)
    if isinstance(v, list):
        return [from_json(x) for x in v]
    if isinstance(v, dict):
        return {k: from_json(x) for k, x in v.items()}
    return v


class Oracle:
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, repo, sf_dir, cache_dir):
        self.od = load_oracle_diff(repo)
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self._tables = set()

    def materialize(self, tables):
        """Copy tables into DuckDB memory, so point lookups skip parquet."""
        for t in tables:
            if t not in self._tables:
                self.con.execute(f"DROP VIEW {t}")
                self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
                self._tables.add(t)

    def run(self, sql):
        t0 = time.perf_counter()
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        return cols, rows, (time.perf_counter() - t0) * 1000.0

    def canon(self, cols, rows):
        return self.od.canon(cols, rows)

    def cached(self, statements, wire):
        """{key: (canon cols, canon rows, duck ms)} for fixed statements;
        `wire` maps cells as the service's JSON carries them."""
        h = hashlib.sha256(json.dumps(sorted(statements.items())).encode())
        h.update(f"{self.sf_dir} wire={wire}".encode())
        path = self.cache_dir / f"duck-{h.hexdigest()[:16]}.pkl"
        if path.exists():
            with open(path, "rb") as f:
                return pickle.load(f)
        out = {}
        for key, sql in statements.items():
            try:
                out[key] = self.expect(sql, wire)
            except Exception as e:  # an oracle that cannot run checks nothing
                out[key] = (None, f"duckdb: {e}", 0.0)
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        with open(tmp, "wb") as f:
            pickle.dump(out, f)
        tmp.rename(path)
        return out

    def compare(self, expected, cols, rows):
        """None if (cols, rows) match the canon `expected`, else a cause."""
        ecols, erows = expected[0], expected[1]
        if ecols is None:
            return erows
        gcols, grows = self.canon(cols, rows)
        if gcols != ecols:
            return f"columns {gcols} != duckdb {ecols}"
        if grows != erows:
            diff = next((i for i, (a, b) in enumerate(zip(grows, erows)) if a != b),
                        min(len(grows), len(erows)))
            got = grows[diff] if diff < len(grows) else "<none>"
            want = erows[diff] if diff < len(erows) else "<none>"
            return f"rows {len(grows)} vs duckdb {len(erows)}; first diff @{diff}: {got} != {want}"
        return None

    def expect(self, sql, wire=True):
        cols, rows, ms = self.run(sql)
        if wire:
            rows = [tuple(from_duck(v) for v in r) for r in rows]
        return (*self.canon(cols, rows), ms)
