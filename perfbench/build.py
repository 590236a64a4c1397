#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala)
and the benchmark (perfbench/src) with the Scala compiler that ships
in Spark's jars directory ($SPARK_HOME/jars, else build.sbt's
unmanagedBase), into .bench_build/classes at the root of the
checkout. A stamp of the sources skips the build when nothing changed.

    python3 perfbench/build.py      # from the root of a checkout
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")
RESOURCES = "src/main/resources"
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# No hsperfdata file under the system temp dir: a run writes only
# inside its checkout.
JVM_LOCAL = ["-XX:-UsePerfData"]


class BuildError(Exception):
    pass


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jars directory")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory at {jars}")
    return jars


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {d}")
        found += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    if not os.path.isdir(os.path.join(root, RESOURCES)):
        raise BuildError(f"missing resource directory {RESOURCES}")
    return found


def build(root):
    """Compile if the sources changed; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars(root)
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")))
    if not compiler:
        raise BuildError(f"no scala-compiler-2.13 jar in {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(os.path.basename(compiler[-1]).encode())
    stamp = h.hexdigest()

    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")) +
        glob.glob(os.path.join(jars, "scala-library-2.13*.jar")) +
        glob.glob(os.path.join(jars, "scala-reflect-2.13*.jar")))
    cmd = ["java", *JVM_LOCAL, "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-cp", scala_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*")] + srcs
    try:
        r = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_command(root, classes):
    """The java invocation (up to the main class) that runs the build."""
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(root, RESOURCES),
                          os.path.join(spark_jars(root), "*")])
    return ["java", *JVM_LOCAL, "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *opens, "-cp", cp]


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
