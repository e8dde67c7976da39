#!/usr/bin/env python3
"""Paper-path benchmark: runs one workload of the fraud pipeline and prints
one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload fraud_batch --seed 1 --seconds 12 --trace 0

Builds the program from source on first use (see build.py), then runs the
workload in one single-process local[n] Spark session, n = min(4, cores).
--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics and writes the spans to .bench_build/traces/. Workloads, metrics
and the layer map are described in perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
from build import BUILD_DIR, BuildError, build  # noqa: E402

WORKLOADS = ("fraud_batch", "serve_closed")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def metrics_arg(root: Path, trace: bool) -> str:
    """The metrics BENCHMARK.json names for this mode, as name:unit,..."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return ",".join(f"{m['name']}:{m['unit']}" for m in spec["per_layer" if trace else "end_to_end"])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", help="FROM:TO — print the pinned counts of these seeds instead")
    a = p.parse_args()

    root = Path(__file__).resolve().parent.parent
    try:
        classpath = build(root)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = root / BUILD_DIR / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.PerfBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
              "--out", str(result), "--trace-dir", str(root / BUILD_DIR / "traces"),
              "--pinned", str(root / "perfbench" / "pinned.tsv"),
              "--metrics", metrics_arg(root, bool(a.trace))]
           + (["--pin", a.pin] if a.pin else []))
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def terminate(*_):
        stop()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminate)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s; stopped", file=sys.stderr)
        stop()
        shutil.rmtree(work, ignore_errors=True)
        return 3
    except KeyboardInterrupt:
        stop()
        raise
    stop()  # reaps anything the JVM left in its process group
    try:
        if a.pin:
            return code
        if code != 0 or not result.is_file():
            print(f"[perfbench] benchmark process exited with {code} and no result", file=sys.stderr)
            return 4
        sys.stdout.flush()
        print(result.read_text().strip(), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
