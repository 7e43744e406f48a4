#!/usr/bin/env python3
"""Builds the library and the benchmark from source, then runs one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record perfbench/expected.tsv

Run from the repository root. Classes go to .bench_build/, keyed by a
hash of their sources, so only the first run after a change compiles.
The JVM prints the result object as its last stdout line; this script
passes the JVM's output and exit code through.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

SCALA_VERSION = "2.13.17"
BUILD = ".bench_build"
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark install's jars/ directory: $SPARK_HOME, else spark-submit's home."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit("run.py: no Spark jars found; set SPARK_HOME to a Spark 4 install")
    return jars


SPARK_JARS = spark_jars()


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def compile_tree(name, srcs, classpath):
    """Compiles srcs into .bench_build/classes/<name>-<hash>; returns the directory."""
    if not srcs:
        sys.exit(f"run.py: no Scala sources for {name}; run from the repository root")
    h = hashlib.sha256()
    for p in srcs + classpath:
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes", f"{name}-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [os.path.join(SPARK_JARS, f"scala-{j}-{SCALA_VERSION}.jar")
                for j in ("compiler", "library", "reflect")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out,
           "-classpath", ":".join(classpath + [os.path.join(SPARK_JARS, "*")])] + srcs
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"run.py: compiling {name} failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


def build(with_tests=False):
    program = compile_tree("program", sources(os.path.join("src", "main", "scala")), [])
    bench = compile_tree("perfbench", sources(os.path.join("perfbench", "src")), [program])
    cp = [program, bench]
    if with_tests:
        cp.append(compile_tree("perfbench-test", sources(os.path.join("perfbench", "test")), cp))
    return cp


def java(cp, main, args, timeout=RUN_TIMEOUT_S):
    tmp = os.path.abspath(os.path.join(BUILD, "tmp", str(os.getpid())))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.abspath(os.path.join("perfbench", "log4j2.properties")),
        "-cp", ":".join([os.path.abspath(c) for c in cp] + [os.path.join(SPARK_JARS, "*")]),
        main] + args
    proc = subprocess.Popen(cmd)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"run.py: {main} did not finish in {timeout} s", file=sys.stderr)
        code = 3
    finally:
        # also on SIGTERM/SIGINT: the JVM must not outlive this script
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return code


def main(argv):
    if argv == ["--selftest"]:
        return java(build(with_tests=True), "perfbench.HelpersTest", [])
    if len(argv) == 2 and argv[0] == "--record":
        return java(build(), "perfbench.Record", [os.path.abspath(argv[1])], timeout=None)
    return java(build(), "perfbench.Main", argv)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
