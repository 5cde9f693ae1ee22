#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's JVM harness (perfbench/src) with the Scala compiler that ships
in the Spark distribution's jars, without sbt.

Outputs go to perfbench/.build/<kind>-<source digest>/, so an unchanged tree
is compiled once and a changed one never runs stale classes.

Usage: python3 perfbench/build.py        (prints the runtime classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, or the directory
    build.sbt takes its unmanaged jars from."""
    candidates = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        candidates.append(m and m.group(1))
    except OSError:
        pass
    for d in candidates:
        if d and os.path.isdir(d) and any(
                f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    raise BuildError("no Spark jars directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def files(top, suffixes=("",)):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, f) for f in names if f.endswith(suffixes)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_to(kind, srcs, classpath, resources=None):
    stamp = digest(srcs + (files(resources) if resources else []),
                   extra=classpath)
    dest = os.path.join(BUILD, f"{kind}-{stamp}")
    if os.path.isdir(dest):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", classpath, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {kind} failed")
    if resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    # drop builds of older trees of the same kind
    for old in os.listdir(BUILD):
        if old.startswith(kind + "-") and os.path.join(BUILD, old) != tmp:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def build():
    """Compile what is missing; return the runtime classpath entries."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError(f"graft sources not found at {main_src}")
    os.makedirs(BUILD, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    main = compile_to("main", files(main_src, (".scala",)), jars,
                      resources=os.path.join(ROOT, "src", "main", "resources"))
    bench = compile_to("bench", files(os.path.join(BENCH, "src"), (".scala",)),
                       os.pathsep.join([main, jars]))
    return [bench, main, jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
