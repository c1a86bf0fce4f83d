"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark driver (`perfbench/src`)
with the Scala compiler that ships in Spark's jars, into
`.bench_build/classes`. A stamp over every source file's path and bytes
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = Path(__file__).resolve().parent / "src"
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(Path(spec.origin).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if list(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(PROGRAM_SRC.rglob("*.scala")):
        raise BuildError(f"no Scala sources under {PROGRAM_SRC}")
    return files


def ensure_built() -> Path:
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = BUILD_DIR / "classes"
    stamp_file = BUILD_DIR / "classes.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(str(e))
