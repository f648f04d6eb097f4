"""Build file of the benchmark package: compiles the program (`src/main`)
and the benchmark JVM (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution's jars, into `.bench_build/perfbench`.

    python3 perfbench/build.py        # from the root of a checkout

The project's own Spark jars are its whole runtime classpath (the sbt
build reads them from the same directory), so no dependency is fetched.
A stamp of the sources' hash skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
OUT = Path(".bench_build") / "perfbench"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark distribution
    whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + sorted((BENCH / "src").glob("*.scala"))


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.resolve()).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(root=Path(".")):
    """Return the classes dir, compiling first if the sources changed."""
    root = Path(root)
    files = sources(root)
    out = root / OUT
    classes, stamp = out / "classes", out / "classes.stamp"
    want = stamp_of(files)
    if classes.is_dir() and stamp.exists() and stamp.read_text() == want:
        return classes
    jars = spark_jars()
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", cp, "-nowarn"] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    resources = root / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(want)
    return classes


if __name__ == "__main__":
    print(ensure())
