#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (perfbench/src) into .bench_build/classes with the Scala compiler
that ships among the Spark jars, so no sbt run is needed. The Spark jar
directory is the one build.sbt names as `unmanagedBase` (or
$SPARK_HOME/jars). A stamp over every source file skips the compile when
nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def jar_dir(root):
    """The Spark jar directory of this checkout."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s: run from the root of a graft checkout" % root)
    with open(sbt, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("cannot find the Spark jars (build.sbt unmanagedBase; or set SPARK_HOME)")
    return m.group(1)


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    for d in (main, bench):
        if not os.path.isdir(d):
            raise BuildError("missing source directory %s" % d)
    out = []
    for d in (main, bench):
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def build(root):
    """Compile if needed; returns (classes dir, jar dir, build id)."""
    jars = jar_dir(root)
    files = sources(root)
    sid = stamp(root, files, jars)
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == sid:
                return classes, jars, sid
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-nowarn", "-encoding", "UTF-8", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(sid + "\n")
    return classes, jars, sid


if __name__ == "__main__":
    try:
        c, _, sid = build(os.getcwd())
    except BuildError as e:
        sys.exit("build: %s" % e)
    print("built %s (%s)" % (c, sid))
