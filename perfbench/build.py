"""Builds the benchmark program: the engine's main sources plus the
benchmark's own Scala sources, compiled with the Scala compiler that ships
in Spark's jars directory. Output goes to `<build dir>/perfbench/classes`,
where the build dir is `$CARGO_TARGET_DIR` if set, else `.bench_build`,
relative to the repository root. A build whose inputs are unchanged is
reused.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"


def build_root():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars():
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources missing at {ENGINE_SRC.relative_to(ROOT)}")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def java_version():
    r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return (r.stderr or r.stdout).splitlines()[0] if (r.stderr or r.stdout) else ""


def build():
    """Compiles if needed; returns the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(java_version().encode())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    digest = h.hexdigest()
    root = build_root()
    classes, stamp = root / "classes", root / "classes.sha256"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = root / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, "@" + str(argfile)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: compile failed")
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build())
