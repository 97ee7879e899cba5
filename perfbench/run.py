#!/usr/bin/env python3
"""Benchmark command: `replicate` and `analytics` workloads.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM at local[N], N = usable cores, and prints as
its last stdout line one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). Everything it writes stays under the checkout:
`.bench_build/` (classes) and `.bench_work/` (per-run data, removed on
exit, and `traces/` with the spans of traced runs). Exits non-zero when
a correctness check fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # JVM log warnings go to stderr, never into the stdout that carries
    # the result line
    return ["java", "-Xmx3g", "-Xlog:disable", "-Xlog:all=warning:stderr", *opens,
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, main, *args]


def run_jvm(cmd):
    """Run the JVM in its own process group; kill the group on timeout,
    on an interrupt, or when this process is asked to terminate."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["replicate", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    # turn SIGTERM into an exception, so the JVM group is killed and the
    # run's directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    work_root = ROOT / ".bench_work"
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = work_root / f"run-{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(classpath, work, "perfbench.SelfTest", [str(work)]))
            print(out, end="")
            return code
        threads = len(os.sched_getaffinity(0))
        code, out = run_jvm(java_cmd(classpath, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--expected", str(ROOT / "perfbench" / "expected_analytics.txt"),
            "--threads", str(threads)]))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        print(out, end="")
        print(f"perfbench: no result (JVM exit code {code})", file=sys.stderr)
        return code or 4
    print("\n".join(lines))
    return code if code else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main())
