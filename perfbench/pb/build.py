"""Builds the engine and the harness from source with sbt (offline), and
launches the harness JVM. Build products are reused while the sources are
unchanged."""
import hashlib
import os
import subprocess
import sys

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def _sources(root, bench):
    roots = [os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")]
    files = [os.path.join(root, "build.sbt"), os.path.join(bench, "build.sbt"),
             os.path.join(bench, "project", "build.properties")]
    proj = os.path.join(root, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp(root, bench):
    h = hashlib.sha256()
    for f in _sources(root, bench):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root, bench, out_dir, log=sys.stderr):
    """Compile engine + harness when their sources changed; return the
    harness's runtime classpath."""
    os.makedirs(out_dir, exist_ok=True)
    stamp_file = os.path.join(out_dir, "stamp")
    cp_file = os.path.join(out_dir, "classpath")
    current = stamp(root, bench)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == current:
                with open(cp_file) as g:
                    return g.read().strip()
    print("[perfbench] building engine and harness with sbt", file=log, flush=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=bench, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log.write(p.stdout[-4000:])
        raise BuildError(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(current)
    return cp


def heap_mb():
    """A quarter of physical memory, between 1 and 4 GiB: the benchmark's
    data needs far less, and the box is shared."""
    total_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 4096)) if total_kb else 2048


def java_cmd(cp, tmp_dir, args):
    """The harness JVM, with the JVM's default (tiered C1 + C2) compilers,
    as the engine's own entry points run."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap_mb()}m",
             f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def clean_env():
    """The parent environment without the engine's SPARK_GRAFT_* settings,
    so a run measures the engine's defaults."""
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def run_java(cmd, cwd, timeout, log=sys.stderr):
    p = subprocess.Popen(cmd, cwd=cwd, env=clean_env(), stdout=log, stderr=log)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise
