#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the benchmark's own (`perfbench/src`) with the Scala compiler that
ships in Spark's `jars` directory, against the same jars the engine's sbt
build uses, and packs the classes into `.bench_build/perfbench/perfbench.jar`.

It then makes one short training run that records the classes a run loads
in a class-data-sharing archive (`perfbench.jsa`). Later runs map that
archive instead of loading and verifying some 20,000 classes from jars,
which otherwise takes a large share of a run's first seconds. The archive
only shortens JVM start-up and the first set-up; runs without it measure
the same work. A stamp over the sources skips all of this when nothing
changed.

    python3 perfbench/build.py        # prints the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally passes (the same list the engine's sbt build uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The `jars` directory of the Spark install: `$SPARK_HOME`, else the
    install that `spark-submit` on the PATH belongs to, else pyspark's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
            return jars
    raise BuildError("no Spark jars directory with a Scala 2.13 compiler found")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable found")
    return exe


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return engine + bench


def jvm(work, archive=None):
    """The JVM command line of a benchmark run whose scratch dir is `work`."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java(), f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", "-Xlog:disable",
           "-Xlog:all=error:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if archive:
        cmd.append(archive)
    return cmd + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.Main",
    ]


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def compile_jar(srcs):
    classes = fresh_dir(os.path.join(OUT, "classes"))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for d, _, files in os.walk(classes):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, classes))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)


def train_archive():
    """One short run that dumps the classes it loaded; on failure the
    benchmark runs without an archive."""
    work = fresh_dir(os.path.join(OUT, "work", "train"))
    cmd = jvm(work, f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp") + [
        "--workload", "search_selective", "--seed", "0", "--seconds", "2", "--trace", "0",
        "--work", work]
    print("[perfbench] training the class-data-sharing archive", file=sys.stderr, flush=True)
    try:
        ok = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=600).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if ok and os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    else:
        print("[perfbench] no archive; runs load classes from the jars", file=sys.stderr)


def build():
    """Compile and train if the sources changed; return the archive option
    for `jvm`, or None when there is no archive."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    digest.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    stamp_path = os.path.join(OUT, "stamp")
    stamp = ""
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = f.read()
    if stamp != digest.hexdigest() or not os.path.exists(JAR):
        os.makedirs(OUT, exist_ok=True)
        for path in (stamp_path, ARCHIVE):
            if os.path.exists(path):
                os.remove(path)
        compile_jar(srcs)
        train_archive()
        with open(stamp_path, "w") as f:
            f.write(digest.hexdigest())
    return f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else None


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
