"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/scala`) with the Scala compiler that
ships in the Spark distribution's jars, into `<build dir>/classes`. The
build dir is `$CARGO_TARGET_DIR` (relative to the checkout) or
`.bench_build`. A build is skipped when the sources' digest matches the
last one.

    python3 perfbench/build.py        # build, print the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
MAIN_SOURCES = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> str:
    """`$SPARK_HOME/jars/*`, else the jars of the first Spark distribution
    on PATH; either must ship the Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return str(home / "jars" / "*")
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    if not (MAIN_SOURCES / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {MAIN_SOURCES}")
    return sorted(MAIN_SOURCES.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(RESOURCES), spark_jars()])


def build() -> tuple:
    """Compile if needed; return (runtime classpath, sources digest)."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath(classes), stamp
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = out / "scalac.args"
    args.write_text("\n".join(f'"{f}"' for f in srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", str(tmp),
           "-classpath", spark_jars(), f"@{args}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classpath(classes), stamp


if __name__ == "__main__":
    print(build()[0])
