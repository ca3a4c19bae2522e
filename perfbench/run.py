#!/usr/bin/env python3
"""Benchmark entry point: builds the engine plus the benchmark from source,
then runs one workload in a fresh JVM and relays its result.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The build compiles `src/main/scala` and
`perfbench/src` with the Scala compiler that ships among the Spark jars named
by the root `build.sbt` (`unmanagedBase`), into `.bench_build/perfbench`; it
is skipped while the sources are unchanged. The last stdout line is the
result object; every other line is the human-readable report.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit (as in build.sbt)
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
    """The jar directory the root build compiles against."""
    env = os.environ.get("SPARK_HOME")
    if env and os.path.isdir(os.path.join(env, "jars")):
        return os.path.join(env, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory: set SPARK_HOME or run from a checkout with build.sbt")
    return m.group(1)


def build(jars):
    sources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not sources:
        fail("engine sources (src/main/scala) not found; run from the root of a checkout")
    sources += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    classpath = sorted(glob.glob(os.path.join(jars, "*.jar")))
    digest = hashlib.sha256()
    for p in sources:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(classpath).encode())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [os.path.join(jars, f"scala-{m}-*.jar") for m in ("compiler", "library", "reflect")]
    compiler = [g for pat in compiler for g in glob.glob(pat)]
    if len(compiler) != 3:
        fail(f"scala compiler jars not found in {jars}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(classpath)]
                          + sources))
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile],
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["flagship", "curation", "knn-serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="write the full run record (spans, leak probe) here; "
                    "traced runs default to .bench_build/perfbench/traces/")
    a = ap.parse_args()

    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    classes = build(jars)
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    save = a.save
    if save is None and a.trace:
        save = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
    if save:
        os.makedirs(os.path.dirname(os.path.abspath(save)), exist_ok=True)
        cmd += ["--save", os.path.abspath(save)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail(f"workload exited with code {proc.returncode} and no result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
