#!/usr/bin/env python3
"""Search-lifecycle benchmark of the graft engine.

Builds the benchmark together with the library under test (compiled from
this checkout's own sources) whenever either changed, then runs one
workload in a single JVM, which prints the result as its last stdout line.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <search|batch> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LIBRARY = os.path.join(ROOT, "src", "main")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
# Class-data archive of the JVM's loaded classes, written by the build
# (an untimed self-test run dumps it at exit) and mapped by every timed
# run: it cuts JVM and Spark start-up by seconds. Only jars can be
# archived, hence the package.
ARCHIVE = os.path.join(OUT, "classes.jsa")
# A fixed heap, not pre-touched: its pages become resident as the collector
# first uses them. Left to size itself, the heap's growth follows GC timing,
# and peak RSS then spread by up to a fifth from run to run.
HEAP = ["-Xms2g", "-Xmx2g"]
# Few collector threads, as Spark runs one task slot (Main.Cores): each
# thread the collector wakes may land on an idle vCPU.
GC = ["-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(HERE, "src"), LIBRARY]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def build(env):
    if not os.path.isdir(os.path.join(LIBRARY, "scala", "graft")):
        fail("library sources not found: run from the root of a checkout")
    stamp = os.path.join(OUT, "build.stamp")
    fp = fingerprint()
    if os.path.exists(JAR) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "package"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 3)
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    # The self-test drives the same layers as the workloads, so the archive
    # holds the classes they load. Its verdict is reported, not enforced:
    # each run checks its own outputs.
    r = subprocess.run(java_cmd(env, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                                "perfbench.SelfTest", []),
                       cwd=ROOT, env=env, stdout=sys.stderr, stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        print(f"perfbench: self-test exited with {r.returncode}", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(fp)


def java_cmd(env, flags, main_class, args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cp = JAR + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *HEAP, *GC, *flags, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            *opens, "-cp", cp, main_class, *args]


def main(argv):
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if argv == ["--selftest"]:
        main_class, args = "perfbench.SelfTest", []
    else:
        main_class, args = "perfbench.Main", argv
        keys = argv[0::2]
        if sorted(keys) != ["--seconds", "--seed", "--trace", "--workload"] or len(argv) != 8:
            fail("usage: python3 perfbench/run.py --workload <name> --seed <n> "
                 "--seconds <s> --trace <0|1>")
    build(env)
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(env, cds, main_class, args)
    os.chdir(ROOT)
    sys.stdout.flush()
    os.execvpe(cmd[0], cmd, env)


if __name__ == "__main__":
    main(sys.argv[1:])
