#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's main
sources (src/main/scala) together with the benchmark's own sources
(perfbench/src) with the Scala compiler that ships among the Spark jars.

The output is one jar, <build dir>/perfbench/perfbench-<source hash>.jar
(a jar rather than a class directory, so the JVM can map it into a
class-data-sharing archive), and the archive of the classes a Spark
session start loads, <build dir>/perfbench/cds-<source hash>.jsa. Every
run starts with that archive, so the build fails when it cannot be
written. An existing jar and archive for the same sources are reused.
Run from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def java():
    """$JAVA_HOME/bin/java when JAVA_HOME is set, else java on the PATH."""
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(repo):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase (the build's own source of the Spark jars)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(repo, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(repo):
    main = os.path.join(repo, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit("perfbench: no sources to compile")
    return files


def build(repo="."):
    """Compile and record the class-data archive if needed; returns
    (jar, class-data archive, Spark jar dir, source hash)."""
    repo = os.path.abspath(repo)
    jars = spark_jars(repo)
    files = sources(repo)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()[:16]
    base = os.path.join(build_dir(), "perfbench")
    jar = os.path.join(base, f"perfbench-{digest}.jar")
    cds = os.path.join(base, f"cds-{digest}.jsa")
    if not os.path.exists(jar):
        compile_jar(files, jars, base, jar)
    if not os.path.exists(cds):
        archive(jar, jars, cds)
    return jar, cds, jars, digest


def compile_jar(files, jars, base, jar):
    classes = os.path.join(base, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compilation failed")
    for old in glob.glob(os.path.join(base, "perfbench-*.jar")) + \
            glob.glob(os.path.join(base, "cds-*.jsa")):
        os.remove(old)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                path = os.path.join(root, n)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(jar + ".tmp", jar)


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_cmd(jar, jars, tmp, *jvm_args):
    """The JVM command line the benchmark runs Spark with. No perf-data
    file: the JVM would write it outside the checkout."""
    cmd = [java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={tmp}", *jvm_args]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}{os.pathsep}{os.path.join(jars, '*')}"]


def archive(jar, jars, cds):
    """Record the classes a session start loads into a class-data-sharing
    archive, which runs then map instead of loading them one by one. It
    halves session start, which is part of setup_s, so a build without it
    is an error rather than a slower run."""
    scratch = os.path.join(os.path.dirname(cds), "archive.tmp")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = java_cmd(jar, jars, os.path.join(scratch, "tmp"),
                   f"-XX:ArchiveClassesAtExit={cds}.tmp")
    cmd += ["perfbench.Main", "--start-only", "--root", scratch]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=300)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(cds + ".tmp"):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: could not record the class-data archive")
    os.replace(cds + ".tmp", cds)


if __name__ == "__main__":
    print(build()[0])
