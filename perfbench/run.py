#!/usr/bin/env python3
"""One benchmark run of the crystal-ball engine.

    python3 perfbench/run.py --workload crystalball_text --seed 1 \
        --seconds 15 --trace 0

Builds the engine and the benchmark from source (``perfbench/build.py``),
starts one JVM that drives the engine in ``local[N]`` (N = min(4, nproc))
and relays its output. The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``); the line before it holds the run context, the generated
input's properties and the workload's detailed figures. The exit code is
non-zero when an output check fails, an operation throws, or the build
or the JVM fails.

Every file the run writes lives under ``.bench_build/`` in the checkout
and the run's own directory is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_SECONDS = 170  # the whole run must end within 180 s once built
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# what spark-submit passes on JDK 17 (JavaModuleOptions); the engine's
# build.sbt forks its mains with the same list
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(build.ENGINE_SRC):
        print("run: no engine sources (src/main/scala) beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"run: {e}", file=sys.stderr)
        return 1

    work = os.path.join(build.BUILD_DIR, "runs",
                        f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work, "--heap", HEAP]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=work, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(1)))
    try:
        out, _ = proc.communicate(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        stop()
        print(f"run: JVM did not finish within {JVM_SECONDS} s",
              file=sys.stderr)
        return 1
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == RESULT_KEYS
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        print("run: the JVM printed no result line", file=sys.stderr)
        return 1
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    if proc.returncode != 0:
        return proc.returncode
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
