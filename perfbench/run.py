#!/usr/bin/env python3
"""Build (when sources changed) and run one benchmark workload.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The program and the benchmark compile with sbt (offline) into `target/`
and `perfbench/target/`; the classpath and a stamp of the sources go to
`.bench_build/`. Later runs with unchanged sources start the JVM
directly. The run's data, Spark scratch and span file stay under
`.bench_build/run/<workload>/`. The last line of stdout is the result
object; detail lines come before it.
"""
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(STATE, "classpath.txt")
STAMP = os.path.join(STATE, "stamp.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the repository, sorted."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            # sbt's own output under project/ is not a source
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(set(files))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(want):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = [ln for ln in lines if not ln.startswith("[") and "classes" in ln]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(STATE, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(BENCH, "build.sbt"))):
        fail("run from the root of a repository checkout "
             "(build.sbt, src/main/scala and perfbench/ are needed)")
    want = stamp()
    have = open(STAMP).read() if os.path.isfile(STAMP) else ""
    if have != want or not os.path.isfile(CLASSPATH):
        build(want)
    cp = open(CLASSPATH).read().strip()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + sys.argv[1:]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    sys.stdout.write("\n".join(lines[:-1] + [""]) if len(lines) > 1 else "")
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("last line is not a result object: " + lines[-1][:200])
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
