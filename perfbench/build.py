"""Build file of the perfbench package.

Compiles the engine's main sources (``src/main/scala`` of the checkout)
together with the harness (``perfbench/scala/main``) with the Scala
compiler that ships in the Spark distribution's jar directory, into
``.bench_build/perfbench/classes``. A stamp of every source's content
skips the compile when nothing changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "scala" / "main"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: ``$SPARK_HOME/jars``, or the
    one next to ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not list(jars.glob("spark-core_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def classpath(extra: list) -> str:
    return os.pathsep.join([str(p) for p in extra] + [str(spark_jars() / "*")])


def sources(dirs: list) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        out += sorted(str(p) for p in d.rglob("*.scala"))
    return out


def compile_scala(srcs: list, out: Path, deps: list) -> None:
    """Compile ``srcs`` into ``out`` unless the content stamp matches."""
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(Path(s).read_bytes())
    for d in deps:
        h.update(str(d).encode())
    stamp = out.parent / (out.name + ".stamp")
    if out.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".sources")
    argfile.write_text("\n".join(srcs) + "\n")
    cp = os.pathsep.join([str(d) for d in deps] + sorted(str(j) for j in spark_jars().glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    stamp.write_text(h.hexdigest())


def build() -> Path:
    """Build the engine plus harness; return the classes directory."""
    classes = BUILD_DIR / "classes"
    compile_scala(sources([ENGINE_SRC, HARNESS_SRC]), classes, [])
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
