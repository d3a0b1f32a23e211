"""Build step of the benchmark: compiles the engine's sources together with
the benchmark's own Scala program.

The classes live under `.bench_build/` at the repository root, keyed by a
hash of the sources, so a checkout builds once and a source change
rebuilds. The compiler is the Scala 2.13 compiler jar that
ships among the Spark jars the engine's own build uses (`build.sbt`:
`unmanagedBase`); no network, no sbt.

Usage: python3 perfbench/build.py   (prints the classes dir)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildFailed(Exception):
    pass


def spark_jars():
    """The jar directory: `$SPARK_HOME/jars`, else the engine build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildFailed("no Spark jars: set SPARK_HOME")


def _sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise BuildFailed("engine sources not found under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def _hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _replace_dir(tmp, final, prefix):
    """Moves a finished build output into place and drops stale siblings."""
    os.replace(tmp, final)
    for old in glob.glob(os.path.join(BUILD, prefix + "*")):
        if old != final:
            shutil.rmtree(old, ignore_errors=True)


def classes():
    srcs = _sources()
    out = os.path.join(BUILD, "classes-" + _hash(srcs))
    if os.path.exists(os.path.join(out, ".done")):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildFailed("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    _replace_dir(tmp, out, "classes-")
    return out


def java_command(classes_dir, heap="3g"):
    """`java` with the module opens Spark needs outside spark-submit, the
    heap cap, and the engine + benchmark classpath."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + opens +
            [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", classes_dir + os.pathsep + os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    try:
        print(classes())
    except BuildFailed as e:
        print(e, file=sys.stderr)
        sys.exit(2)
