"""Closed-loop HTTP load generator on the python stdlib.

Each client owns one keep-alive connection and sends its next request only
after the reply. Every reply is parsed; an HTTP error, a transport error,
or a 200 whose body carries `error` is a failed op.
"""
import http.client
import json
import socket
import threading
import time

from .stats import FAILED_MS


class Client:
    def __init__(self, port, timeout=FAILED_MS / 1000.0):
        self.port = port
        self.timeout = timeout
        self.conn = None

    def _connect(self):
        self.conn = http.client.HTTPConnection("localhost", self.port, timeout=self.timeout)

    def call(self, method, path, body=None):
        """(status, parsed body or None, raw bytes, client ms, error)."""
        data = json.dumps(body).encode() if body is not None else None
        t0 = time.perf_counter()
        try:
            if self.conn is None:
                self._connect()
            headers = {"Content-Type": "application/json"} if data else {}
            self.conn.request(method, path, body=data, headers=headers)
            resp = self.conn.getresponse()
            raw = resp.read()
            ms = (time.perf_counter() - t0) * 1000.0
            status = resp.status
        except (OSError, http.client.HTTPException, socket.timeout) as e:
            self.close()
            return 0, None, b"", (time.perf_counter() - t0) * 1000.0, f"transport: {e}"
        try:
            doc = json.loads(raw)
        except ValueError:
            return status, None, raw, ms, f"HTTP {status}: unparsable body"
        if status != 200:
            return status, doc, raw, ms, f"HTTP {status}: {doc.get('error', '')}"[:300]
        if isinstance(doc, dict) and "error" in doc:
            return status, doc, raw, ms, f"error: {doc['error']}"[:300]
        return status, doc, raw, ms, None

    def sql(self, path, sql):
        """One op record for a /db/query or /db/execute request."""
        start = time.time()
        status, doc, raw, ms, err = self.call("POST", path, {"sql": sql})
        return {"start": start, "ms": ms, "ok": err is None, "cause": err,
                "server_ms": float(doc.get("time", 0) or 0) if isinstance(doc, dict) else 0.0,
                "bytes": len(raw), "doc": doc}

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def closed_loop(streams, seconds):
    """Run one thread per (port, path, ops iterator, tag) stream until
    `seconds` have passed; ops started before the deadline finish and
    count. Returns the op records in start order."""
    deadline = time.time() + seconds
    records = []
    lock = threading.Lock()

    def worker(port, path, ops, tag):
        c = Client(port)
        mine = []
        for cls, sql in ops:
            if time.time() >= deadline:
                break
            r = c.sql(path, sql)
            r.update(cls=cls, sql=sql, tag=tag)
            mine.append(r)
        c.close()
        with lock:
            records.extend(mine)

    threads = [threading.Thread(target=worker, args=s, daemon=True) for s in streams]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    records.sort(key=lambda r: r["start"])
    return records

