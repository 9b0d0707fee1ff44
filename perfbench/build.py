#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles graft's sources (src/main/scala at the repository root) and the
harness's (perfbench/src/main/scala) in one scalac run, with the Scala
compiler and the Spark jars of the directory the root build names as its
`unmanagedBase`. Nothing is resolved or downloaded, and everything the
build writes goes under .bench_build/perfbench/. The classes are cached by
a fingerprint of the sources and the root build file, so a checkout builds
once.

    python3 perfbench/build.py      # builds, prints the runtime classpath
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCES = (os.path.join("src", "main", "scala"), os.path.join("perfbench", "src", "main", "scala"))
COMPILER = ("scala-compiler", "scala-library", "scala-reflect")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jar_dir():
    """The jar directory of the root build's `unmanagedBase := file("...")`."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise SystemExit("perfbench: no build.sbt next to perfbench/")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: the root build names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    """Every .scala file of graft and of the harness, relative to ROOT."""
    out = []
    for d in SOURCES:
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, d)):
            dirs.sort()
            out += [os.path.relpath(os.path.join(dirpath, f), ROOT)
                    for f in sorted(files) if f.endswith(".scala")]
    return out


def build():
    """Compiles graft and the harness if needed; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources not found next to perfbench/")
    jars_at = jar_dir()
    jars = sorted(glob.glob(os.path.join(jars_at, "*.jar")))
    srcs = sources()
    h = hashlib.sha256()
    for p in ["build.sbt"] + srcs:
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    fp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("fingerprint") == fp:
                return os.pathsep.join([classes] + jars)
        os.remove(stamp)
    compiler = [j for j in jars if os.path.basename(j).startswith(COMPILER)]
    if len(compiler) != len(COMPILER):
        raise SystemExit(f"perfbench: the Scala compiler jars are not in {jars_at}")
    log(f"compiling {len(srcs)} Scala sources")
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", classes, "-nowarn"]
                          + [os.path.join(ROOT, p) for p in srcs]) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", f"@{args}"]
    rc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                        stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp}, f)
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    print(build())
