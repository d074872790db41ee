"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into one class
directory, keyed by a hash of every source file so an unchanged tree is
never recompiled.

Needs a JDK and a Spark distribution whose jars include the Scala
compiler (found through SPARK_HOME, else next to `spark-submit` on PATH).

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    """Where builds and run scratch go: $CARGO_TARGET_DIR if set (the
    harness convention), else .bench_build at the checkout root."""
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"graft sources not found at {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build() -> Path:
    """Compile if needed; return the class directory."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = build_dir()
    classes = out / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".ok").exists():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    for old in out.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(exist_ok=True)
    staging = out / "classes-staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging), "-classpath", cp,
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    staging.rename(classes)
    (classes / ".ok").write_text("")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
