"""graft.Bench's session settings, read out of Bench.scala on every run.

The suite runner stands in for `graft.Bench`, so it must build its session
with exactly Bench's builder chain. Instead of a copy that could drift,
this module parses the `.config(...)` calls and the `local[...]` master
out of the source and hands them to the runner as `-Dspark.*` properties,
which `SparkSession.builder().getOrCreate()` applies like the builder
calls. A call this parser does not understand fails the run.
"""
import re

_VAL = re.compile(r'val (\w+) = sys\.env\.getOrElse\("(\w+)",\s*("([^"]*)"|\w+)\)')
_CONFIG = re.compile(
    r'\.config\(\s*"([\w.]+)"\s*,\s*'
    r'(?:sys\.env\.getOrElse\(\s*"(\w+)"\s*,\s*(?:"([^"]*)"|(\w+))\s*\)|"([^"]*)"|(\w+))\s*\)',
    re.S)
_MASTER = re.compile(r'\.master\(s"local\[\$(\w+)\]"\)')


def bench_default(bench_scala, name):
    """The default of Bench.scala's `val <name> = sys.env.getOrElse(...)`."""
    for n, _, dflt, lit in _VAL.findall(bench_scala.read_text()):
        if n == name and dflt.startswith('"'):
            return lit
    raise RuntimeError(f"Bench.scala: no literal default for {name}")


def bench_conf(bench_scala, env):
    """Map of spark.* settings Bench would use under `env`."""
    text = bench_scala.read_text()
    vals = {}

    def resolve(env_key, lit, ident):
        if env_key and env_key in env:
            return env[env_key]
        if lit is not None:
            return lit
        if ident in vals:
            return vals[ident]
        raise RuntimeError(f"Bench.scala: cannot resolve {ident!r}")

    for name, key, dflt, lit in _VAL.findall(text):
        quoted = dflt.startswith('"')
        vals[name] = resolve(key, lit if quoted else None, None if quoted else dflt)
    conf = {}
    for key, env_key, env_lit, env_ident, lit, ident in _CONFIG.findall(text):
        if env_key:
            conf[key] = resolve(env_key, None if env_ident else env_lit, env_ident or None)
        else:
            conf[key] = resolve(None, None if ident else lit, ident or None)
    calls = len(re.findall(r"\.config\(", text))
    if calls != len(conf) or not conf:
        raise RuntimeError(f"Bench.scala: parsed {len(conf)} of {calls} .config calls")
    m = _MASTER.search(text)
    if not m:
        raise RuntimeError("Bench.scala: local[...] master not found")
    conf["spark.master"] = f"local[{vals[m.group(1)]}]"
    return conf
