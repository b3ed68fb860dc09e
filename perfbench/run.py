#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <convert|curate|lifecycle|decode> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the repository root. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships with Spark's jars, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. Everything the run writes stays under that directory.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_JARS, $SPARK_HOME/jars, or the unmanagedBase the repository's build.sbt names."""
    dirs = [os.environ.get("SPARK_JARS")]
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if d and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return sorted(glob.glob(os.path.join(d, "*.jar")))
    fail("no Spark jars found (set SPARK_JARS or SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(d):
    if not os.path.isdir(d):
        fail(f"missing source directory {os.path.relpath(d, ROOT)}; run from the repository root")
    files = []
    for dirpath, _, names in os.walk(d):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def compile_once(tag, srcs, classpath, jars):
    """Compile `srcs` against `classpath` once per source state; return the classes dir."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for c in classpath:
        h.update(os.path.basename(c).encode())
    classes = os.path.join(BUILD, f"classes-{tag}-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler, scala-library and scala-reflect jars are needed next to Spark's jars")
    for old in glob.glob(os.path.join(BUILD, f"classes-{tag}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources-{tag}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(classpath), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} {tag} sources", file=sys.stderr)
    t0 = time.time()
    r = run_child(cmd, BUILD_TIMEOUT_S, capture=False)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compile failed with code {r.returncode}")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench: compiled {tag} in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def build(jars):
    """The library's classes, then the benchmark's compiled against them."""
    lib_src, bench_src = SOURCE_DIRS
    lib = compile_once("lib", sources(lib_src), jars, jars)
    bench = compile_once("bench", sources(bench_src), [lib] + jars, jars)
    return [bench, lib]


def run_child(cmd, timeout, capture, env=None, cwd=None):
    """Run a child in its own process group; kill the group on timeout and wait."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, env=env, cwd=cwd, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"child timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, None)


def main():
    # a terminated run still stops and reaps its JVM (run_child's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record", action="store_true", help="print the expected result hashes")
    a = ap.parse_args()
    if not (a.workload or a.selfcheck or a.record):
        ap.error("--workload, --selfcheck or --record is required")

    jars = spark_jars()
    classes = build(jars)
    name = a.workload or ("selfcheck" if a.selfcheck else "record")
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    mem = "3g"
    # -XX:-UsePerfData: no hsperfdata file outside the build directory
    cmd = [java(), f"-Xms{mem}", f"-Xmx{mem}", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Dperfbench.expected={os.path.join(ROOT, 'perfbench', 'expected.txt')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classes + jars), "graft.perfbench.Main", "--work", work]
    if a.selfcheck:
        cmd += ["--selfcheck"]
    elif a.record:
        cmd += ["--record"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    r = run_child(cmd, RUN_TIMEOUT_S, capture=True, env=env, cwd=work)
    lines = [l for l in (r.stdout or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if r.returncode != 0:
        fail(f"benchmark exited with code {r.returncode}")
    if a.selfcheck or a.record:
        if lines:
            print(lines[-1])
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("benchmark printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
