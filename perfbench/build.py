"""Build step of the benchmark: compile the engine's sources (src/main/scala)
together with the benchmark's own Scala files (perfbench/scala) into
.bench_build/perfbench/classes, with the Scala compiler that ships in the
Spark distribution. A stamp over every source file's path and bytes makes a
rebuild happen only when a source changed.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The jars of the Spark distribution: SPARK_HOME's, else those of a
    distribution whose bin/ on PATH holds spark-submit. The first that ships
    a Scala compiler wins."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler*.jar")):
            return home / "jars"
    return Path("spark-jars-not-found")


SPARK_JARS = spark_jars()
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    own = sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))
    return engine + own


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return str(SPARK_JARS / "*")


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    files = sources()
    want = stamp(files)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    if not SPARK_JARS.is_dir():
        raise BuildError(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}",
           "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(), "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
