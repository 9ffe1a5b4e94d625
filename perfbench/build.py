#!/usr/bin/env python3
"""Builds the program and the benchmark from source: compiles
src/main/scala and perfbench/src with the Scala compiler that ships in
Spark's jar directory (build.sbt's unmanagedBase, the jars the program's
build compiles against) into <build dir>/perfbench.jar. A stamp of
the source contents skips the compile when nothing changed. (A jar, not a
class directory, so the JVM's class-data sharing archive can cover it.)

Usage: python3 perfbench/build.py   (from the repository root)
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
ROOT = os.path.dirname(HERE)
SCALA = "2.13.17"


def spark_jars():
    """The jars the program's own build compiles against: build.sbt's
    unmanagedBase."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        sys.exit(f"perfbench: no unmanagedBase in {ROOT}/build.sbt")
    jars_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        sys.exit(f"perfbench: no Spark jars in {jars_dir}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        srcs += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(srcs)


def build():
    """Returns the program jar, compiling first if sources changed."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        sys.exit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    stamp = hashlib.sha256()
    for s in srcs:
        stamp.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            stamp.update(f.read())
    stamp = stamp.hexdigest()
    out = os.path.join(build_dir(), "perfbench.jar")
    stamp_file = os.path.join(build_dir(), "perfbench.stamp")
    if os.path.exists(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out
    jars = spark_jars()
    by_name = {os.path.basename(j): j for j in jars}
    compiler = [by_name[f"scala-{n}-{SCALA}.jar"] for n in ("compiler", "library", "reflect")]
    tmp = os.path.join(build_dir(), "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars), "-d", tmp,
           "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, tmp))
    os.replace(out + ".tmp", out)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out


if __name__ == "__main__":
    print(build())
