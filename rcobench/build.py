"""Build file of the benchmark: compiles the program's sources
(src/main/scala) and the benchmark's own (rcobench/src) with the Scala
compiler that ships in the Spark distribution, against the jar
directory the program's build.sbt names as `unmanagedBase`. The output
goes to
.bench_build/rcobench/<hash of every input>/classes, so a checkout is
built once and an edited source is rebuilt.

Usage: python3 rcobench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALAC_TIMEOUT_S = 800

# build.sbt's javaOptions: the module opens Spark needs on JDK 17 when
# started outside spark-submit, UTC sessions, no UI. No perf-data file:
# the run writes nothing outside its checkout.
JVM_OPTIONS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.callstack.depth=200", "-Xmx2g", "-XX:-UsePerfData"]


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, bench


def jar_dir(root):
    """build.sbt's `unmanagedBase := file("...")`: the Spark jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def jars(root):
    d = jar_dir(root)
    return sorted(glob.glob(os.path.join(d, "*.jar"))) if d else []


def classpath(root, classes):
    return os.pathsep.join([classes] + jars(root))


def ensure_built(root):
    main, bench = sources(root)
    if not main:
        sys.stderr.write("no program sources under src/main/scala\n")
        sys.exit(2)
    if not jars(root):
        sys.stderr.write("no jars in build.sbt's unmanagedBase\n")
        sys.exit(2)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars(root)).encode())
    out = os.path.join(root, ".bench_build", "rcobench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(staging, "classes"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jar_dir(root), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(staging, "classes"),
           "-classpath", os.pathsep.join(jars(root))] + main + bench
    r = subprocess.run(cmd, capture_output=True, text=True,
                       timeout=SCALAC_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.stderr.write("build failed\n")
        sys.exit(1)
    os.rename(staging, out)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
