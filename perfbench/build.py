"""Build file of the benchmark: compiles graft and the benchmark from source.

The program (``src/main/scala``) and the benchmark (``perfbench/src``) are
compiled with the Scala compiler that ships in the Spark distribution's
``jars`` directory, so no build tool and no network are needed. Everything
is written under ``.bench_build/`` at the root of the checkout; a stamp over
the sources' content makes a second call a no-op.

    python3 perfbench/build.py        # build (or confirm the build is current)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's own build.sbt names, else the distribution that holds the
    `spark-submit` found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    exe = shutil.which("java")
    if not exe:
        raise BuildError("no java on PATH (set JAVA_HOME)")
    return exe


def _sources(base: Path):
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def _stamp(files, jars: Path) -> str:
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(jars: Path, extra_cp, out: Path, files):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.pathsep.join([str(jars / "*")] + [str(p) for p in extra_cp])
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out), "@" + str(argfile)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError(f"scalac failed on {out.name} (exit {r.returncode})")


def build() -> list:
    """Compile if the sources changed; return the run-time classpath."""
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    bench_files = _sources(BENCH_SRC)
    if not bench_files:
        raise BuildError(f"benchmark sources missing: {BENCH_SRC}")
    program_files = _sources(PROGRAM_SRC)
    jars = spark_jars()
    program_out = BUILD / "classes" / "program"
    bench_out = BUILD / "classes" / "bench"
    program_stamp = _stamp(program_files, jars)
    bench_stamp = program_stamp + _stamp(bench_files, jars)
    for out, files, extra, stamp in (
            (program_out, program_files, [], program_stamp),
            (bench_out, bench_files, [program_out], bench_stamp)):
        stamp_file = out.parent / (out.name + ".stamp")
        if stamp_file.is_file() and stamp_file.read_text() == stamp:
            continue
        if stamp_file.exists():
            stamp_file.unlink()
        sys.stderr.write(f"[perfbench] compiling {len(files)} sources into {out.name}\n")
        _scalac(jars, extra, out, files)
        stamp_file.write_text(stamp)
    return [str(bench_out), str(program_out), str(jars / "*")]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        sys.exit(2)
