#!/usr/bin/env python3
"""Build (when needed) and run one benchmark workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload rest --seed 1 --seconds 1 --trace 0

The program is compiled from the checkout's sources by the repository's
own sbt build (perfbench/build.sbt depends on it as a source project);
the benchmark's classpath is cached in .bench_build/perfbench/ under a
hash of every source and build file, so later runs skip sbt. The run
itself is one JVM; its last line of standard output is the JSON result.
Build output goes to standard error.
"""
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CP_FILE = os.path.join(OUT, "classpath.txt")
STAMP_FILE = os.path.join(OUT, "stamp.txt")
RUN_LIMIT_S = 170  # a run must end within 180 s; the build is not counted
CPUS = "3"  # Spark threads: with the client thread, within a 4-core host
HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"missing {need}: run from the root of a full checkout")
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CP_FILE) as fh2:
                    return fh2.read().strip()
    os.makedirs(OUT, exist_ok=True)
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch"] + opts + ["compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[-40:-1]) + "\n")
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(CP_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    args = sys.argv[1:]
    if "--workload" not in args:
        fail("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    cp = build()
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main"] + args + ["--out", OUT]
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS, SPARK_LOCAL_DIRS=local)
    child = subprocess.Popen(java, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)

    def stop(*_):
        # only signal here: waiting inside a handler that interrupted
        # child.wait() would block on the lock that wait() holds
        try:
            os.kill(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = child.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {RUN_LIMIT_S} s; stopped", file=sys.stderr)
        child.kill()
        child.wait()
        sys.exit(3)
    sys.exit(rc if rc >= 0 else 3)


if __name__ == "__main__":
    main()
