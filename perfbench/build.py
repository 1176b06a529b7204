#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) into one jar with the Scala
compiler that ships among Spark's jars, then dumps a class-data archive
of the classes a run starts with (perfbench.Startup), which cuts the
JVM's start-up by a few seconds per run.

A stamp of the sources' contents is kept beside the jar, so an unchanged
tree is not built twice.

Usage: python3 perfbench/build.py [BUILD_DIR]   (default: .bench_build)
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


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME/jars, else
    the one beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("build: no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + own


JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(jar, archive, *opts):
    """The java command line for the built jar on Spark's classpath."""
    return (["java", "-XX:-UsePerfData"] + list(opts)
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + [f"-XX:SharedArchiveFile={archive}"] * os.path.exists(archive)
            + ["-cp", os.pathsep.join([jar, os.path.join(spark_jars(), "*")])])


def build(build_dir):
    """Returns (jar, class-data archive), building first if the sources
    changed. The archive may be missing; runs then start without it."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir, "perfbench")
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "perfbench.jsa")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return jar, archive
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit("build: compilation failed")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in os.walk(tmp):
            for n in sorted(files):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)
    for f in (archive, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(out, "startup")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        subprocess.run(java_cmd(jar, archive, f"-XX:ArchiveClassesAtExit={archive}",
                                f"-Djava.io.tmpdir={work}")
                       + ["perfbench.Startup", work], cwd=work,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, archive


if __name__ == "__main__":
    print(*build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
