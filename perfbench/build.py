#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/src) into one class directory.

Usage, from the root of a checkout:  python3 perfbench/build.py

The output goes to $CARGO_TARGET_DIR/perfbench/classes (default
.bench_build/perfbench/classes). A build is skipped when a stamp of every
source file's path and content matches the previous one. The Scala
compiler and the Spark jars come from the directory that build.sbt names
as its unmanagedBase (SPARK_HOME/jars when SPARK_HOME is set).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time


def target_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def sources():
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise SystemExit("no program sources under src/main/scala: "
                         "run from the root of a graft checkout")
    return found + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build():
    """Compile if the sources changed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(target_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    jars = spark_jars()
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    p = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=sys.stderr)
    if p.returncode:
        raise SystemExit(f"[perfbench] compilation failed (exit {p.returncode})")
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


if __name__ == "__main__":
    print(build())
