"""Builds the program and the benchmark's own JVM code from source.

The Scala compiler that ships with Spark compiles `src/main/scala` and then
`perfbench/jvm` into `.bench_build/perfbench/<hash>/`, where the hash covers
every source file and the jar list, so a checkout builds once and a source
change builds again. `Meta` then dumps the registered queries, their oracle
statements and their module split next to the classes.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess


def spark_jars(repo):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    if "PERFBENCH_SPARK_JARS" in os.environ:
        return os.environ["PERFBENCH_SPARK_JARS"]
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (repo / "build.sbt").read_text())
    if not m:
        raise RuntimeError("build.sbt: unmanagedBase not found")
    return m.group(1)


def _sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def _scalac(jars, out, classpath, sources, log):
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath]
    cmd += [str(s) for s in sources]
    with open(log, "ab") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode}); see {log}")


def build(repo, bench_dir):
    prog_src = _sources(repo / "src" / "main" / "scala")
    bench_src = _sources(bench_dir / "jvm")
    if not prog_src:
        raise RuntimeError("no program sources under src/main/scala")
    jars = spark_jars(repo)
    if not os.path.isdir(jars):
        raise RuntimeError(f"Spark jars not found at {jars}")
    h = hashlib.sha256()
    for p in prog_src + bench_src:
        h.update(str(p.relative_to(repo)).encode())
        h.update(p.read_bytes())
    h.update(jars.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    root = repo / ".bench_build" / "perfbench"
    out = root / h.hexdigest()[:16]
    if (out / "ok").exists():
        return out
    tmp = root / (out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    log = tmp / "build.log"
    tmp.mkdir(parents=True)
    (tmp / "jars").write_text(jars)
    _scalac(jars, tmp / "classes", f"{jars}/*", prog_src, log)
    _scalac(jars, tmp / "bench", f"{tmp / 'classes'}:{jars}/*", bench_src, log)
    meta = tmp / "meta"
    meta.mkdir()
    with open(log, "ab") as f:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(tmp), "perfbench.Meta",
                            str(meta)], stdout=subprocess.DEVNULL, stderr=f)
    if r.returncode != 0:
        raise RuntimeError(f"Meta failed; see {log}")
    (tmp / "ok").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def jars_dir(out):
    return (out / "jars").read_text()


def classpath(out):
    return f"{out / 'bench'}:{out / 'classes'}:{jars_dir(out)}/*"


def meta(out):
    m = out / "meta"
    return {k: json.loads((m / f"{k}.json").read_text())
            for k in ("queries", "modules", "oracle_sql")}
