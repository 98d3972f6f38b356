"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/scala) with the Scala compiler that ships
among Spark's jars, into .bench_build/ at the repository root, and packs
the classes into .bench_build/perfbench.jar, the jar run.py runs.

    python3 perfbench/build.py          # build if any source changed

A build is skipped when a stamp over every source file and the Spark jar
list matches the last build. The Spark jars are found through
$SPARK_HOME/jars, else through the `unmanagedBase` line of build.sbt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
JAR = BUILD / "perfbench.jar"
# Class-data-sharing archive of the classes a run loads (see run.py); a
# JVM maps it instead of loading and verifying Spark's classes again. It
# holds classes from jars only, hence JAR.
ARCHIVE = BUILD / "classes.jsa"


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The directory holding Spark's jars (Scala compiler included)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def jar_list():
    return sorted(str(p) for p in spark_jars().glob("*.jar"))


def sources():
    engine = ROOT / "src" / "main" / "scala"
    bench = HERE / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the benchmark's jar, then Spark's jars."""
    return os.pathsep.join([str(JAR)] + jar_list())


def pack(classes, jar):
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file() and f.name != ".stamp":
                z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(jar)


def build(log=sys.stderr):
    files = sources()
    jars = jar_list()
    want = stamp(files, jars)
    mark = CLASSES / ".stamp"
    if mark.is_file() and mark.read_text() == want and JAR.is_file():
        return False
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(jars)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD / 'tmp'}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-20000:], file=log)
        raise BuildError("scalac failed")
    ARCHIVE.unlink(missing_ok=True)
    pack(tmp, JAR)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return True


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        built = build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print("built" if built else "up to date")
