"""Building the engine with the benchmark, and running one benchmark JVM."""

import hashlib
import os
import subprocess

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # perfbench/
ROOT = os.path.dirname(HERE)                                         # checkout
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TRACE_CONF = os.path.join(HERE, "conf-trace")

# The Tier-1 offline flags: everything resolves from the local caches and
# the repositories in the user's sbt config.
SBT_OPTS = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"

HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
    files += [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(log):
    """Compiles the engine and the benchmark when their sources changed
    since the last build in this checkout; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BenchError(f"engine sources not found under {ENGINE_SRC}")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "sources.sha256"), os.path.join(out, "classpath.txt")
    digest = _sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == digest and os.path.exists(cp.split(":")[0]):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(os.path.join(out, "build.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
        logf.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        tail = "\n".join(lines[-20:])
        raise BenchError(f"build failed (sbt exit {proc.returncode}):\n{tail}")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built engine and benchmark ({os.path.relpath(out, ROOT)})")
    return cp


def run(cp, plan_file, result_file, work, traced, timeout_s):
    """Runs perfbench.Main in a fresh JVM and waits for it to end."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    full_cp = (TRACE_CONF + ":" + cp) if traced else cp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + opens + ["-cp", full_cp, "perfbench.Main", plan_file, result_file])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, timeout_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark JVM exceeded {timeout_s:.0f} s")
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if code != 0 or not os.path.exists(result_file):
        with open(log_path, errors="replace") as f:
            tail = "".join(f.readlines()[-30:])
        raise BenchError(f"benchmark JVM exited {code}:\n{tail}")
