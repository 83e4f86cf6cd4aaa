#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the benchmark's own (`perfbench/src/main/scala`) into
`perfbench/.build/classes`, with the Scala compiler that ships among the
Spark jars. A stamp of every source's content skips the compile when
nothing changed.

    python3 perfbench/build.py          # build (no-op when up to date)
    python3 perfbench/build.py --test   # build and run the bench's own tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HOME = Path(__file__).resolve().parent
REPO = HOME.parent
BUILD = HOME / ".build"
CLASSES = BUILD / "classes"
TEST_CLASSES = BUILD / "test-classes"
STAMP = BUILD / "stamp"
# -XX:-UsePerfData: the JVM would otherwise write its counters under the
# system temp directory, outside the checkout
JAVA_OPTS = ["-XX:-UsePerfData"] + [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def spark_jars():
    """The jar directory the program's own build uses (`unmanagedBase` in
    build.sbt), else `$SPARK_HOME/jars`."""
    sbt = REPO / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                    sbt.read_text())
    for d in ([Path(m.group(1))] if m else []) + (
            [Path(os.environ["SPARK_HOME"]) / "jars"]
            if "SPARK_HOME" in os.environ else []):
        jars = sorted(d.glob("*.jar"))
        if jars:
            return jars
    sys.exit("perfbench: no Spark jars found (build.sbt unmanagedBase or SPARK_HOME)")


def sources(*roots):
    out = []
    for r in roots:
        if not r.is_dir():
            sys.exit(f"perfbench: missing source directory {r}")
        out += sorted(str(p) for p in r.rglob("*.scala"))
    return out


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    return h.hexdigest()


def compile_into(dest, files, classpath):
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", str(tmp)] + files
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def ensure():
    """Build if needed; return the runtime classpath."""
    jars = spark_jars()
    jar_cp = os.pathsep.join(str(j) for j in jars)
    main = sources(REPO / "src" / "main" / "scala", HOME / "src" / "main" / "scala")
    stamp = stamp_of(main, jars)
    if not (STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir()):
        print("perfbench: compiling", len(main), "sources", file=sys.stderr)
        BUILD.mkdir(exist_ok=True)
        STAMP.unlink(missing_ok=True)
        compile_into(CLASSES, main, jar_cp)
        STAMP.write_text(stamp)
    resources = REPO / "src" / "main" / "resources"
    return os.pathsep.join([str(CLASSES), str(resources), jar_cp])


def test():
    cp = ensure()
    compile_into(TEST_CLASSES, sources(HOME / "src" / "test" / "scala"), cp)
    cp = os.pathsep.join([str(TEST_CLASSES), cp])
    return subprocess.run(["java"] + JAVA_OPTS + ["-cp", cp,
                          "graft.perfbench.SelfTest"]).returncode


if __name__ == "__main__":
    if sys.argv[1:] == ["--test"]:
        sys.exit(test())
    ensure()
