"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), then runs the workload in one JVM
(Spark local[4]) and relays its output; the last line of stdout is the
JSON result. Exits non-zero, without a result line, if the build or the
run fails; exits non-zero after the result line if an output check failed.
Everything it writes stays under perfbench/.build, perfbench/.work and
perfbench/.out.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (the package's build file, next to this one)

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
WORKLOADS = ("medallion_daily", "curation_dedup", "vector_serving")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    # a signal ends the run through SystemExit, which stops any child first
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    try:
        build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = "self_test" if a.self_test else f"{a.workload}_seed{a.seed}_trace{a.trace}"
    work = os.path.join(WORK, f"{tag}_{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    cmd = build.jvm(tmp)
    if a.self_test:
        cmd += ["--self-test", "--work", work]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--trace-file", os.path.join(OUT, f"trace_{a.workload}_seed{a.seed}.jsonl")]

    # own process group, so a timeout can stop the JVM and anything it forked
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if a.self_test:
        print(out, end="")
        return proc.returncode
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for line in (lines[:-1] if result else lines):
        print(line)
    if proc.returncode not in (0, 1) or result is None:
        print(f"[perfbench] run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(result, flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
