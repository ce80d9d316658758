#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
the Spark jar directory, into `.bench_build/` at the checkout root.

Each output directory is keyed by a hash of its sources, so a later run
in the same checkout reuses it.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_tree(name, srcs, classpath):
    # relative paths and classpath entry names only, so the same sources
    # get the same name in any checkout
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(":".join(os.path.basename(e) for e in classpath.split(os.pathsep)).encode())
    dest = os.path.join(OUT, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(dest, ".done")):
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath] + srcs
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise SystemExit(f"perfbench: compiling {name} failed")
    open(os.path.join(dest, ".done"), "w").close()
    return dest


def build():
    """Returns the runtime classpath: harness, program, resources, jars."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no program sources next to the benchmark "
                         "(expected src/main/scala and build.sbt)")
    jars = spark_jars()
    jar_cp = os.pathsep.join(sorted(os.path.join(jars, j) for j in os.listdir(jars)
                                    if j.endswith(".jar")))
    main = compile_tree("main", sources(main_src), jar_cp)
    bench = compile_tree("bench", sources(os.path.join(BENCH, "src")),
                         os.pathsep.join([main, jar_cp]))
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench, main, resources, jar_cp])


if __name__ == "__main__":
    print(build())
