"""Child processes: JVM command lines, start-up, peak RSS and shutdown.

Every process started here is registered, and `stop_all` (run at exit and
on SIGTERM/SIGINT) terminates and reaps each one.
"""
import atexit
import os
import re
import signal
import subprocess
import threading
import time

_children = []


def java_opts(repo):
    """The JVM flags build.sbt gives every forked run: the JDK 17
    --add-opens list and its -D defaults, read from build.sbt itself."""
    text = (repo / "build.sbt").read_text()
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    if not block:
        raise RuntimeError("build.sbt: jdk17AddOpens list not found")
    opens = re.findall(r'"(java\.[\w.]+/[\w.]+)"', block.group(1))
    flags = []
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    flags += re.findall(r'"(-Dspark\.[\w.]+=[^"]+)"', text)
    return flags


class Proc:
    def __init__(self, name, cmd, env, cwd, log_path):
        self.name = name
        self.log_path = log_path
        self.log = open(log_path, "wb")
        self.p = subprocess.Popen(cmd, env=env, cwd=cwd, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.log)
        self.lines = []
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        self.hwm_mb = 0.0
        threading.Thread(target=self._sample, daemon=True).start()
        _children.append(self)

    def _sample(self):
        # VmHWM only grows; sampling until exit keeps the peak of a
        # process that ends on its own
        while self.p.poll() is None:
            self.hwm_mb = max(self.hwm_mb, self._vmhwm())
            time.sleep(0.5)

    def _read(self):
        for raw in self.p.stdout:
            with self._cv:
                self.lines.append(raw.decode("utf-8", "replace").rstrip("\n"))
                self._cv.notify_all()
        with self._cv:
            self._cv.notify_all()

    def wait_line(self, pattern, timeout, start=0):
        """Wait for a stdout line matching `pattern`; return (match, index)."""
        rx = re.compile(pattern)
        deadline = time.time() + timeout
        i = start
        with self._cv:
            while True:
                while i < len(self.lines):
                    m = rx.search(self.lines[i])
                    if m:
                        return m, i + 1
                    i += 1
                if self.p.poll() is not None and not self._reader.is_alive():
                    raise RuntimeError(f"{self.name} exited ({self.p.returncode}) "
                                       f"before printing /{pattern}/; see {self.log_path}")
                left = deadline - time.time()
                if left <= 0:
                    raise RuntimeError(f"{self.name}: no /{pattern}/ within {timeout}s; "
                                       f"see {self.log_path}")
                self._cv.wait(min(left, 0.5))

    def command(self, line, timeout):
        """Send one stdin command and wait for its `PB done` answer."""
        start = len(self.lines)
        self.p.stdin.write((line + "\n").encode())
        self.p.stdin.flush()
        self.wait_line(r"^PB done$", timeout, start)

    def peak_rss_mb(self):
        return max(self.hwm_mb, self._vmhwm())

    def _vmhwm(self):
        try:
            with open(f"/proc/{self.p.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def stop(self, grace=20):
        if self.p.poll() is None:
            self.p.send_signal(signal.SIGTERM)
            try:
                self.p.wait(grace)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        self._reader.join(5)
        self.log.close()


def stop_all():
    while _children:
        _children.pop().stop()


atexit.register(stop_all)


def _on_signal(signum, _frame):
    stop_all()
    os._exit(128 + signum)


signal.signal(signal.SIGTERM, _on_signal)
signal.signal(signal.SIGINT, _on_signal)
