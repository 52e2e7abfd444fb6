#!/usr/bin/env python3
"""Build file of the benchmark.

1. Compiles graft's library sources (src/main/scala) together with the
   benchmark's own sources (perfbench/src) into one jar, with the Scala
   compiler that ships in Spark's jar directory. No dependency
   resolution, no network.
2. Runs every workload once at a tiny scale with
   -XX:ArchiveClassesAtExit, leaving a class-data-sharing archive that
   every benchmark JVM maps at start, which takes class loading off each
   run's start and set-up. A failed archive fails the build, so every run
   starts the same way.

Usage (from the repository root):  python3 perfbench/build.py
Output goes under $CARGO_TARGET_DIR (default .bench_build). Nothing is
rebuilt unless a source file changed.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jar directory found (set SPARK_HOME)")
    return jars


def driver_mem():
    # set explicitly: build.sbt's 16g default does not fit a 15 GiB machine
    return os.environ.get("SPARK_DRIVER_MEM", "4g")


def java_command(jar, run_dir, archive=None, dump_archive=None):
    """The JVM command line every benchmark JVM starts with."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    # a fixed-size heap: no resizing between runs
    cmd = ["java", f"-Xms{driver_mem()}", f"-Xmx{driver_mem()}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if dump_archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump_archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.system.home={run_dir}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", os.pathsep.join([jar, os.path.join(spark_jars(), "*")]),
        "graftbench.Main",
    ]
    return cmd


def cores():
    return len(os.sched_getaffinity(0))


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {lib}; "
                         "run from the root of a graft checkout")
    out = []
    for base in (lib, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, d, "perfbench")


def compile_jar(srcs, out, jar):
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)


def train_archive(jar, out, archive):
    run_dir = os.path.join(out, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    print("perfbench: writing the class-data-sharing archive", file=sys.stderr)
    try:
        r = subprocess.run(java_command(jar, run_dir, dump_archive=archive + ".tmp") +
                           ["--train", "--root", run_dir, "--cores", str(cores())],
                           stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir, timeout=600)
        if r.returncode != 0 or not os.path.exists(archive + ".tmp"):
            raise SystemExit(f"perfbench: class-data-sharing archive failed ({r.returncode})")
        os.replace(archive + ".tmp", archive)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.exists(archive + ".tmp"):
            os.remove(archive + ".tmp")


def ensure(root):
    """Build if any source changed; return (jar, archive)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    jar = os.path.join(out, "graftbench.jar")
    archive = os.path.join(out, "graftbench.jsa")
    with open(os.path.join(out, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "stamp")
        current = False
        if os.path.exists(jar) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                current = f.read().strip() == stamp
        if not current:
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            if os.path.exists(archive):
                os.remove(archive)
            compile_jar(srcs, out, jar)
            train_archive(jar, out, archive)
            with open(stamp_file, "w") as f:
                f.write(stamp + "\n")
    return jar, archive


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
