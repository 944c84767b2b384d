#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload writeback --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The program (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships in
the Spark jar directory the program's build.sbt names (`unmanagedBase`, or
$SPARK_HOME/jars) into .perfbench/build/, once per source state. Every file the
run writes lives under .perfbench/ in the checkout. The last line of stdout
is the result JSON the JVM prints.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")  # data source registry
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# JDK 17 module opens Spark needs outside spark-submit (the program's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def scala_files(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def spark_jars():
    """The jars the program builds against: build.sbt's `unmanagedBase`."""
    jar_dir = None
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        jar_dir = m and m.group(1)
    if not jar_dir and os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    jars = sorted(glob.glob(os.path.join(jar_dir or "", "*.jar")))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        die("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase or $SPARK_HOME)")
    return jars


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files):
    os.makedirs(out)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + files
    p = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        die("compile failed (%d files into %s)" % (len(files), out))


def build_once(name, files, classpath, jars):
    """Compile `files` into .perfbench/build/<name> unless already there."""
    out = os.path.join(STATE, "build", name)
    if not os.path.isfile(os.path.join(out, "OK")):
        tmp = out + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        print("perfbench: compiling %d files into %s" % (len(files), out),
              file=sys.stderr)
        scalac(jars, os.path.join(tmp, "classes"), classpath + jars, files)
        open(os.path.join(tmp, "OK"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return os.path.join(out, "classes")


def build():
    """Compile program and benchmark; return the runtime classpath."""
    program = scala_files(PROGRAM_SRC)
    bench = scala_files(BENCH_SRC) + scala_files(TEST_SRC)
    if not program:
        die("no program sources under " + PROGRAM_SRC)
    if not bench:
        die("no benchmark sources under " + BENCH_SRC)
    jars = spark_jars()
    pkey = "program-" + source_hash(program)
    bkey = "bench-%s-%s" % (pkey[8:], source_hash(bench))
    prog = build_once(pkey, program, [], jars)
    ben = build_once(bkey, bench, [prog], jars)
    # builds of other source states are dead weight
    for old in glob.glob(os.path.join(STATE, "build", "*")):
        if os.path.basename(old) not in (pkey, bkey):
            shutil.rmtree(old, ignore_errors=True)
    return [prog, PROGRAM_RES, ben] + jars


def run_jvm(classpath, main, args):
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    # own process group so a timeout stops the JVM and anything it forked
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("run exceeded %d s and was stopped" % RUN_TIMEOUT_S)
    except KeyboardInterrupt:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    classpath = build()
    if a.self_test:
        sys.exit(run_jvm(classpath, "perfbench.SelfTest", []))
    work = os.path.join(STATE, "work")
    sys.exit(run_jvm(classpath, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work]))


if __name__ == "__main__":
    main()
