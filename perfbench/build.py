"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/scala) with the Scala compiler that ships in the Spark
distribution, into .bench_build/<content hash>/classes. A build is reused
while no source file changes. Needs java on PATH and the Spark jars: those
of $SPARK_HOME, else the `unmanagedBase` directory build.sbt declares.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    candidates = [Path(os.environ["SPARK_HOME"]) / "jars"] if os.environ.get("SPARK_HOME") else []
    sbt = root / "build.sbt"
    if sbt.is_file():
        declared = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if declared:
            candidates.append(Path(declared.group(1)))
    for jars in candidates:
        if jars.is_dir():
            return jars
    raise BuildError("no Spark jars found; set SPARK_HOME")


def _sources(root: Path) -> tuple[list[Path], list[Path]]:
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "scala").glob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}")
    if not bench:
        raise BuildError(f"no benchmark sources under {root / 'perfbench/scala'}")
    return program, bench


def _digest(root: Path, files: list[Path]) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(root: Path) -> list[str]:
    """Returns the runtime classpath, compiling first when needed."""
    program, bench = _sources(root)
    jars = spark_jars(root)
    out = root / BUILD_DIR / _digest(root, program + bench)
    classes = out / "classes"
    resources = root / "src" / "main" / "resources"
    classpath = [str(classes), str(resources), str(jars / "*")]
    if (out / "ok").is_file():
        return classpath

    compiler = [str(jars / f"{name}-2.13.17.jar")
                for name in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(Path(j).is_file() for j in compiler):
        found = sorted(p.name for p in jars.glob("scala-compiler*.jar"))
        raise BuildError(f"expected the Scala 2.13.17 compiler in {jars}, found {found}")
    staging = root / BUILD_DIR / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in program + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(staging / "classes"), f"@{argfile}"]
    t0 = time.monotonic()
    print(f"[perfbench] compiling {len(program)} program and {len(bench)} benchmark sources",
          file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    (staging / "ok").write_text(f"{time.monotonic() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    staging.rename(out)
    for old in (root / BUILD_DIR).iterdir():  # builds of earlier sources
        if old != out and len(old.name) == 16 and (old / "ok").is_file():
            shutil.rmtree(old, ignore_errors=True)
    print(f"[perfbench] compiled in {time.monotonic() - t0:.1f} s", file=sys.stderr, flush=True)
    return classpath


if __name__ == "__main__":
    repo = Path(__file__).resolve().parent.parent
    try:
        print(os.pathsep.join(build(repo)))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
