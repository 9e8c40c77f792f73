#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/scala) against Spark's jars, with the Scala compiler
that ships among them, into one jar under `.bench_build/` at the
repository root.

The jar is named by a hash of every source file, so an unchanged tree is
built once. Run it directly to build ahead of time:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside
    spark-submit on the PATH, else the build's `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        raise BuildError(f"no graft sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                       if os.path.isfile(p))
    return graft + harness, resources


def build(root):
    """Returns the jar for the tree at `root`, compiling if needed."""
    srcs, resources = sources(root)
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    jar = os.path.join(root, BUILD_DIR, "graft-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(jar):
        return jar
    for old in glob.glob(os.path.join(root, BUILD_DIR, "graft-*")):
        os.remove(old)
    out = os.path.join(root, BUILD_DIR, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    res_root = os.path.join(root, "src/main/resources")
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(out):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, out))
        for p in resources:
            z.write(p, os.path.relpath(p, res_root))
    os.replace(tmp, jar)
    shutil.rmtree(out, ignore_errors=True)
    return jar


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
