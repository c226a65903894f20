#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/src) into
.bench_build/perfbench/perfbench.jar, with the Scala compiler that ships
in the Spark distribution's jars directory ($SPARK_HOME/jars, or the
distribution holding the spark-submit on PATH). Nothing is downloaded.

The build then runs every workload once on small inputs (`perfbench.Main
--workload train`, nothing measured) and has the JVM write the classes it
loaded to a class-data-sharing archive (.bench_build/perfbench/
classes.jsa). Measured runs map that archive instead of loading and
verifying Spark's and graft's classes from the jars again, which takes
several seconds off every JVM start. A stamp over every source file skips
the whole build when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
DOCS = os.path.join(HERE, "corpus", "documents.parquet")
JVM_HEAP = "3g"
YOUNG_GEN = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, work, *flags):
    """The JVM command line that runs perfbench.Main with its files in `work`.
    The heap may grow to 3 GB from the JVM's default start size, and the
    young generation is fixed at 512 MB: G1 then grows the heap as the old
    generation fills, so peak RSS follows what the program holds rather
    than how G1 sized its young generation in that run."""
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Xmn{YOUNG_GEN}", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath), "perfbench.Main"]


def spark_env(work):
    """Keeps every file Spark writes in the work dir."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise SystemExit(f"build: graft sources not found under {graft}")
    own = os.path.join(HERE, "src")
    files = sorted(glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))
    return files


def write_archive(classpath):
    """Runs the small training pass and keeps the archive its JVM writes at exit."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = ARCHIVE + ".tmp"
    cmd = java_cmd(classpath, work, f"-XX:ArchiveClassesAtExit={tmp}") + [
        "--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--work", work, "--docs", DOCS]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=work, env=spark_env(work), timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(tmp):
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: class-data archive run failed with code {r.returncode}")
    os.replace(tmp, ARCHIVE)


def runtime_flags():
    """JVM flags of a measured run: map the class-data archive."""
    return [f"-XX:SharedArchiveFile={ARCHIVE}"]


def build():
    """Builds if needed; returns the runtime classpath as a list."""
    jars = spark_jars()
    srcs = sources()
    os.makedirs(OUT, exist_ok=True)
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    classpath = [JAR] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    if os.path.exists(stamp_file):
        os.remove(stamp_file)

    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    # scalac writes a jar when -d names one; the archive only takes
    # classes from jars, not from directories
    tmp = os.path.join(OUT, "perfbench-new.jar")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-cp", os.pathsep.join(jars), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    os.replace(tmp, JAR)
    write_archive(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
    print("build: ok", file=sys.stderr)
