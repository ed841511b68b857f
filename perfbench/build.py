#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution into one jar under .bench_build/, then
records a class-data-sharing archive of a short training run, which cuts
every later JVM's start-up by seconds.

A build is keyed by a hash of every source file, so an unchanged tree is
not rebuilt. Usage: python3 perfbench/build.py  (prints the build dir).
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found: {main}")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def java_cmd(build_dir, jvm_args, main_args):
    """The command line that runs graftbench.Main from a build."""
    jars = spark_jars()
    archive = os.path.join(build_dir, "classes.jsa")
    share = ([f"-XX:SharedArchiveFile={archive}"]
             if os.path.isfile(archive) else [])
    # -UsePerfData: no hsperfdata files outside the checkout
    return (["java", "-XX:-UsePerfData"] + share + jvm_args + ADD_OPENS +
            ["-cp", os.path.join(build_dir, "bench.jar") + os.pathsep +
             os.path.join(jars, "*"), "graftbench.Main"] + main_args)


# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def build(root):
    """Returns the build directory, building first if needed. Concurrent
    callers wait for one build instead of racing on the same directory."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    with open(os.path.join(root, BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(root)


def _build(root):
    files = sources(root)
    jars = spark_jars()
    key = hashlib.sha256()
    for f in files:
        key.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_DIR, "build-" + key.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile])
    os.remove(argfile)
    run(["jar", "-J-XX:-UsePerfData", "cf", os.path.join(out, "bench.jar"),
         "-C", classes, "."])
    shutil.rmtree(classes)
    # the archive records the jar's path, so it is made in the final place
    train_archive(out)
    open(os.path.join(out, ".complete"), "w").close()
    for old in glob.glob(os.path.join(root, BUILD_DIR, "build-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def run(cmd, **kw):
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, **kw)
    if proc.returncode != 0:
        raise BuildError(f"{cmd[0]} failed:\n" + proc.stdout[-4000:])


def train_archive(build_dir):
    """Dumps the classes a short generation run loads into classes.jsa.
    A missing or stale archive only costs start-up time: the JVM then
    loads classes as usual."""
    work = os.path.join(build_dir, "train")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(build_dir, [
        "-XX:ArchiveClassesAtExit=" + os.path.join(build_dir, "classes.jsa"),
        "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"], [
        "--workload", "curate", "--seed", "0", "--seconds", "0",
        "--trace", "0", "--cores", "2", "--work", work,
        "--out", os.path.join(work, "digest.json"), "--digest"])
    try:
        run(cmd, cwd=work, timeout=300)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
