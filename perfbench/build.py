"""Build file of the benchmark package.

Compiles the program under test (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships with the Spark distribution (`$SPARK_HOME/jars`),
packs the classes into `perfbench/.build/perfbench.jar`, and records a
class-data-sharing archive (`perfbench/.build/app.jsa`) from a short
training run, which roughly halves JVM and Spark start-up in every run.
No build tool, no network, and nothing is written outside the checkout.

A stamp over every source file's path and content hash makes the build
incremental at the granularity that matters here: an unchanged tree is
not rebuilt, any edit rebuilds everything.

Usage: python3 perfbench/build.py   (from the repository root)
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
STAMP = os.path.join(BUILD, "stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RESOURCES = os.path.join(HERE, "resources")
COMPILE_TIMEOUT_S = 420
TRAIN_TIMEOUT_S = 180

# Spark on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        raise BuildError("SPARK_HOME is not set to a Spark distribution with a jars/ dir")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def inputs():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {os.path.relpath(PROGRAM_SRC, ROOT)}")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC, RESOURCES):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for p in files + [__file__]:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jvm(tmp, archive=None):
    """The JVM command line every benchmark process starts with."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cds = []
    if archive == "dump":
        cds = [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    elif os.path.isfile(ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    # no hsperfdata file: the JVM would put it in the system temp dir
    return [java(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", *cds,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *opens,
            "-cp", os.pathsep.join([JAR, os.path.join(spark_jars(), "*")]), "perfbench.Main"]


def compile_jar(srcs, log):
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(p for p in srcs if p.endswith(".scala")) + "\n")
    cmd = [java(), "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    try:
        r = subprocess.run(cmd, stdout=log, stderr=log, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if r.returncode != 0:
        raise BuildError(f"compile failed (exit {r.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, RESOURCES):
            for d, _, files in os.walk(base):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, base))
    shutil.rmtree(classes)


def train(log):
    """Record the class-data-sharing archive. Optional: without it runs
    are slower to start but otherwise identical."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = jvm(os.path.join(work, "tmp"), archive="dump") + ["--train", "--work", work]
    print("[perfbench] recording the class-data-sharing archive", file=log, flush=True)
    proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=env)
    try:
        ok = proc.wait(timeout=TRAIN_TIMEOUT_S) == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build(log=sys.stderr):
    """Build if the inputs changed since the last build."""
    files = inputs()
    stamp = stamp_of(files)
    os.makedirs(BUILD, exist_ok=True)
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isfile(JAR):
        return
    for p in (STAMP, JAR, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    compile_jar(files, log)
    train(log)
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
