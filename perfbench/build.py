#!/usr/bin/env python3
"""Builds graft and the benchmark's JVM program from source.

Compiles src/main/scala and perfbench/src together with the Scala
compiler that ships in Spark's jars directory (the version Spark runs
on), into .bench_build/classes-<hash of the sources>. The jars directory is the
root build's `unmanagedBase` (its whole compile classpath), or
$SPARK_HOME/jars. A finished build is reused until a source changes.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def jars_dir(root):
    """The root build's `unmanagedBase`, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def spark_jars(root):
    d = jars_dir(root)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {d}")
    return jars


def scala_version(jars):
    """The Scala version of the compiler that ships with Spark's jars."""
    for j in jars:
        m = re.fullmatch(r"scala-compiler-(.+)\.jar", os.path.basename(j))
        if m:
            return m.group(1)
    raise SystemExit("build: no Scala compiler among Spark's jars")


def classpath(root):
    """Runtime classpath of graft: Spark's jars plus the optional lib-aws jars."""
    return spark_jars(root) + sorted(glob.glob(os.path.join(root, "lib-aws", "*.jar")))


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
    if not os.path.isdir(main):
        raise SystemExit(f"build: {main} not found; run from the repository root")
    files = []
    for d in (main, bench):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def resources(root):
    res = os.path.join(root, "src", "main", "resources")
    out = []
    for dirpath, _, names in os.walk(res):
        out += [os.path.join(dirpath, n) for n in names]
    return res, sorted(out)


def ensure(root):
    """Returns the classes directory, compiling first if it is missing."""
    srcs = sources(root)
    res_dir, res = resources(root)
    jars = spark_jars(root)
    scala = scala_version(jars)
    h = hashlib.sha256(str(scala).encode())
    for f in srcs + res + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    build_dir = os.path.join(root, ".bench_build")
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{scala}.jar", f"scala-library-{scala}.jar", f"scala-reflect-{scala}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"build: Scala {scala} compiler jars not found with Spark's jars")
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath(root)),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed")
    for f in res:
        dst = os.path.join(out, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure(os.getcwd()))
