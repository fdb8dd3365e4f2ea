"""Build file of the benchmark package: compiles the project's sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/src`) into `perfbench/.build/perfbench.jar`, with the Scala
compiler and Spark jars that ship with the toolchain (`$SPARK_HOME/jars`,
else the `unmanagedBase` directory `build.sbt` names).

The build is skipped when a stamp of every source file's content matches
the last successful build, so only a checkout's first run pays it.

Usage: python3 perfbench/build.py      (prints the classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


# JVM options every benchmark JVM gets: the module opens Spark needs on
# JDK 17 outside spark-submit (build.sbt's list), and no hsperfdata files.
JVM_OPTS = ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Build if needed; return the JVM options and classpath of a run."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise SystemExit("perfbench: no project sources under src/main/scala")
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp(files)
    cp = f"{jar}:{spark_jars()}/*"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        compile_jar(files, jar, log)
        with open(stamp_file, "w") as f:
            f.write(want)
    return JVM_OPTS, cp


def compile_jar(files, jar, log):
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    jars = f"{spark_jars()}/*"
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars,
         f"@{argfile}"],
        check=True, stdout=log, stderr=log, timeout=840)
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", classes, "."],
                   check=True, timeout=120)
    shutil.rmtree(classes)


if __name__ == "__main__":
    print(ensure()[1])
