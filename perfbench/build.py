#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala at the repository root) together with
the benchmark's own code (perfbench/src) with the Scala compiler that ships
among the Spark jars, packs the classes into one jar, and records a JVM
class-data archive from a short search_hot run on a 2,000-doc corpus. The
archive lets every measured JVM map the engine's and Spark's classes
instead of loading and verifying them one by one (about 8 s less per run
on a 4-core machine). No build tool and no dependency resolution: the
Spark jars are the whole classpath.

    python3 perfbench/build.py        # prints the jar path

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
repository root, and is rebuilt only when a source file changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")

# JDK 17 module flags Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory that the engine's build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c):
            return c
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def jar_path():
    return os.path.join(build_dir(), "graftbench.jar")


def archive_path():
    return os.path.join(build_dir(), "graftbench.jsa")


def java_cmd(work, args, archive_opt):
    """The benchmark JVM: fixed heap, temp files under `work`, the given
    class-data archive option, the benchmark's main class with `args`."""
    return (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", archive_opt,
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([jar_path(), os.path.join(spark_jars(), "*")]),
               "graftbench.Main", "--work", work] + args)


def run_java(work, args, archive_opt, timeout):
    """Run the benchmark JVM in a fresh `work` dir; return (rc, log path)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd(work, args, archive_opt), stdout=log,
                             stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc, log_path


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources missing ({ENGINE_SRC})")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def compile_jar(srcs):
    jars = spark_jars()
    classes = os.path.join(build_dir(), "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{c}-*.jar"))
                for c in ("compiler", "library", "reflect")]
    if not all(len(c) == 1 for c in compiler):
        raise SystemExit("perfbench: scala compiler jars not found among the Spark jars")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar_path(), "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)


def record_archive():
    work = os.path.join(build_dir(), "train")
    args = ["--workload", "search_hot", "--seed", "0", "--trace", "0", "--docs", "2000", "--out", os.path.join(work, "record.json")]
    rc, log = run_java(work, args, f"-XX:ArchiveClassesAtExit={archive_path()}", 600)
    if rc != 0 or not os.path.exists(archive_path()):
        sys.stderr.write(tail(log))
        raise SystemExit(f"perfbench: class-data archive run ended with {rc}")
    shutil.rmtree(work)


def build():
    """Compile and record the archive when the sources changed; return the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(build_dir(), "build.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest and \
            os.path.exists(jar_path()) and os.path.exists(archive_path()):
        return jar_path()
    os.makedirs(build_dir(), exist_ok=True)
    for f in (stamp, jar_path(), archive_path()):
        if os.path.exists(f):
            os.remove(f)
    compile_jar(srcs)
    record_archive()
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar_path()


if __name__ == "__main__":
    print(build())
