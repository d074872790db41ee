"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload geojoin --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), runs
the workload in one JVM on local[nproc], and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes the run's spans to <build dir>/traces/. Exits non-zero if the
build fails or any output check fails. See README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "3g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes: Path, work: Path, main: str, args: list) -> list:
    jars = build.spark_jars()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={build.BENCH / 'conf' / 'log4j2.properties'}"]
            + opens + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", main] + args)


def run_jvm(cmd: list, timeout: float) -> int:
    """Run the JVM, pass its stdout through, and make sure it is gone
    (and waited for) before returning."""
    p = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {timeout:.0f} s", file=sys.stderr)
        return 124
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    # SIGTERM unwinds through the finally blocks below, which kill and
    # reap the compiler or the benchmark JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    out = build.build_dir()
    work = out / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.selftest:
            cmd = java_cmd(classes, work, "graftbench.SelfTest", [str(work)])
        else:
            trace_out = out / "traces" / f"{a.workload}-seed{a.seed}.json"
            cmd = java_cmd(classes, work, "graftbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--trace-out", str(trace_out)])
        sys.stdout.flush()
        return run_jvm(cmd, RUN_TIMEOUT_S if not a.selftest else 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
