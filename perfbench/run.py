#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload graph_local --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles `src/main/scala` and
`perfbench/src` with the Scala compiler that ships among the Spark jars
(no sbt, no downloads) into two jars in the build directory
(`$CARGO_TARGET_DIR`, else `.bench_build`), and its JVM dumps a class-data
sharing archive of the classes it loaded; later runs reuse the jars and
map the archive while the sources are unchanged, which cuts the JVM's cold
class loading (not measured: it falls in the first, cold set-up, which the
set-up median leaves out). The JVM runs the workload at
local[<usable cores>] and prints its summary lines; the last stdout line is
the result object. Exits non-zero, without a result, when the sources are
missing or the run fails.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys

WORKLOADS = ("graph_local", "graph_distributed", "pipeline_text")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# project's build definition.
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
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt declares as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from a checkout with build.sbt")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def fresh(path, stamp_key):
    stamp = path + ".stamp"
    return os.path.isfile(path) and os.path.isfile(stamp) and open(stamp).read() == stamp_key


def stamp(path, stamp_key):
    with open(path + ".stamp", "w") as f:
        f.write(stamp_key)


def compile_if_stale(jars, srcs, classpath, out, stamp_key):
    """Compile `srcs` into the jar `out`."""
    if fresh(out, stamp_key):
        return
    if os.path.exists(out):
        os.remove(out)
    compiler = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                               if re.match(r"scala-(compiler|library|reflect)-2\.13", j))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compilation of {len(srcs)} sources failed")
    stamp(out, stamp_key)


def main():
    # a SIGTERM unwinds like an exception, so subprocess.run kills and
    # reaps the compiler or JVM it is waiting on before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main_src):
        fail(f"no graft sources under {main_src}: run from the repository root")
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars(root)
    jar_cp = os.path.join(jars, "*")

    main_files = sources(main_src)
    main_key = digest(main_files)
    os.makedirs(build, exist_ok=True)
    main_out = os.path.join(build, "main.jar")
    compile_if_stale(jars, main_files, jar_cp, main_out, main_key)
    bench_files = sources(bench_src)
    bench_out = os.path.join(build, "bench.jar")
    bench_key = main_key + digest(bench_files)
    compile_if_stale(jars, bench_files, os.pathsep.join([main_out, jar_cp]), bench_out,
                     bench_key)
    # class-data sharing: map the archive when it matches these jars, else
    # have this run dump one at exit (under a temporary name, kept only if
    # the run succeeds)
    cds = os.path.join(build, "classes.jsa")
    cds_tmp = cds + ".tmp"
    if fresh(cds, bench_key):
        cds_flag = f"-XX:SharedArchiveFile={cds}"
    else:
        for f in (cds, cds_tmp):
            if os.path.exists(f):
                os.remove(f)
        cds_flag = f"-XX:ArchiveClassesAtExit={cds_tmp}"

    out = os.path.join(build, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    tmp = os.path.join(build, "tmp")
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # JVM log lines (class-data sharing notes among them) go to stderr, so
    # the result stays the last stdout line. A fixed heap and six JIT
    # compiler threads (three by default on four cores) let the heap
    # sizing and the early compile backlog settle during the warm-up
    # instead of drifting through the measured rounds (README: JVM settings)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:CICompilerCount=6", "-XX:-UsePerfData", cds_flag,
           "-Xlog:disable", "-Xlog:all=error:stderr", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([bench_out, main_out, jar_cp]), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--cores", str(cores)]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail(f"benchmark JVM exited with {r.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    if os.path.exists(cds_tmp):
        os.replace(cds_tmp, cds)
        stamp(cds, bench_key)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
