"""Builds the benchmark's JVM side from source and launches its mains with
plain ``java`` on the exported classpath (no sbt on the measured path)."""

import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_DIR = os.path.join(HERE, "jvm")
BUILD_DIR = os.path.join(HERE, ".work", "build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def _source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(JVM_DIR, "src")]
    files = [os.path.join(JVM_DIR, "build.sbt"),
             os.path.join(JVM_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The compiled classpath, building first when the sources changed."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=JVM_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        raise SystemExit(f"build failed (rc={rc}); see {log}")
    with open(log) as f:
        cps = [l.strip() for l in f if l.startswith("/") and "scala-2.13/classes" in l]
    if not cps:
        raise SystemExit(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_cmd(cp, tmpdir, heap, *args):
    """The heap is fixed (-Xms = -Xmx) and the metaspace starts large: with
    an adaptive heap and metadata-threshold full GCs the JVM keeps getting
    faster for minutes, and a run's rates would measure how far it got."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:MetaspaceSize=512m",
             "-XX:+UseParallelGC"] + opens +
            [f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
             "graft.perfbench.BenchMain"] + list(args))


def launch(cp, tmpdir, heap, log_path, *args):
    """Starts a JVM main; stdout is piped (protocol lines), stderr logged."""
    os.makedirs(tmpdir, exist_ok=True)
    log = open(log_path, "w")
    p = subprocess.Popen(java_cmd(cp, tmpdir, heap, *args), stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, stderr=log, text=True, bufsize=1)
    p._perfbench_log = log
    return p


def read_line(p, prefix, log_path):
    """Next stdout line starting with ``prefix``; fails if the JVM exits."""
    for line in p.stdout:
        if line.startswith(prefix):
            return line[len(prefix):].strip()
    p.wait()
    tail = ""
    if os.path.exists(log_path):
        with open(log_path, errors="replace") as f:
            tail = "".join(f.readlines()[-20:])
    sys.stderr.write(tail)
    raise RuntimeError(f"JVM exited (rc={p.returncode}) before printing {prefix!r}")


def stop(p, timeout=60):
    try:
        if p.poll() is None and p.stdin and not p.stdin.closed:
            p.stdin.write("STOP\n")
            p.stdin.flush()
            p.stdin.close()
    except (BrokenPipeError, OSError):
        pass
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
    p._perfbench_log.close()


def vm_hwm_mb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None
