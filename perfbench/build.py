#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's main
sources (`src/main/scala`) together with the harness
(`perfbench/harness`) with the Scala compiler that ships in the Spark
distribution the program builds against (the `unmanagedBase` of
`build.sbt`, or `$SPARK_HOME/jars`). Output goes to
`.bench_build/classes-<hash of the sources>`; an existing output for
the same sources is reused.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# the module opens Spark needs on JDK 17 outside spark-submit, as in
# build.sbt
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def add_opens():
    return [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars(root):
    """The jar directory build.sbt compiles against."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("[perfbench] no Spark jars: build.sbt has no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        sys.exit("[perfbench] no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def ensure(root, build_dir):
    """Returns the class directory for the current sources, compiling
    it first when it does not exist yet."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = os.path.join(spark_jars(root), "*")
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, cwd=root, stdout=sys.stderr).returncode != 0:
        sys.exit("[perfbench] compilation failed")
    os.rename(tmp, out)
    # outputs of earlier sources are never read again
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    print(ensure(root, os.path.join(root, ".bench_build")))
