"""Build the benchmark harness together with the program it drives.

Compiles the program's Scala sources (`src/main/scala`) and the harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jars,
packs the classes into one jar, then runs every workload registered in
BENCHMARK.json once at warm-up size with `-XX:ArchiveClassesAtExit` to
write a class-data archive. Benchmark processes start from that archive,
so JVM start and the first use of Spark's few hundred jars are not paid
again by every run, and the first run after a build is no slower than
the others.

The build is skipped when its stamp (a digest of every source file and
of the Spark jar listing) matches the previous build.

Usage: python3 perfbench/build.py
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
OUT = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(OUT, "build")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "stamp")
ARCHIVE = os.path.join(BUILD, "classes.jsa")

HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit; the list matches
# org.apache.spark.launcher.JavaModuleOptions.
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark installation with a jars/ directory")
    jars = os.path.join(home, "jars")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    for d in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
    found = []
    for d in (PROGRAM_SRC, HARNESS_SRC):
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([JAR] + jars)


def jvm_args(jars):
    """JVM command line for a benchmark process, from the class-data
    archive once the build has written it."""
    args = [java(), f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        args += ["--add-opens", o]
    if os.path.exists(ARCHIVE):
        args.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    return args + ["-cp", classpath(jars)]


def run_logged(cmd, log, **kw):
    with open(log, "w") as out:
        r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise BuildError(f"{os.path.basename(cmd[0])} failed ({r.returncode}):\n{tail}")


def build():
    """Build if the sources changed; return the Spark jar list."""
    srcs = sources()
    jars = spark_jars()
    want = stamp(srcs, jars)
    if os.path.exists(STAMP) and os.path.exists(JAR):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return jars
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} Scala sources", file=sys.stderr, flush=True)
    run_logged([java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
                "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                "-cp", os.pathsep.join(jars), "@" + argfile],
               os.path.join(BUILD, "compile.log"))
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    print("perfbench: writing the class-data archive", file=sys.stderr, flush=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    run_logged(jvm_args(jars) + [
        f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(train, 'tmp')}",
        "perfbench.Main", "--workload", names[0], "--train", ",".join(names),
        "--seed", "1", "--seconds", "0", "--trace", "1",
        "--cores", str(len(os.sched_getaffinity(0))), "--work", train,
        "--out", os.path.join(train, "out.json")],
        os.path.join(BUILD, "train.log"), cwd=ROOT)
    shutil.rmtree(train)
    with open(STAMP, "w") as f:
        f.write(want)
    return jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
