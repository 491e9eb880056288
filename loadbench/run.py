"""Run one benchmark workload against the engine, built from source.

    python3 loadbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ingest_full, trickle_cascade, serve_mix (see README.md).
Prints progress and a readable report on stderr, and as the last line
of stdout one JSON object: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero, printing no result, when the build or the run fails.
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

WORKLOADS = ("ingest_full", "trickle_cascade", "serve_mix")
# Spark runs local[4] whatever the machine: results stay comparable.
SPARK_CPUS = "4"
# A run must end within this many seconds, or 900 when it builds first.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890


def heap_gb():
    """MemTotal/2 in GiB, clamped to [2, 8] (the engine's test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    # SIGTERM unwinds like Ctrl-C, so the finally blocks stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    t0 = time.time()
    try:
        compiled = build.build()
    except build.BuildError as e:
        print("loadbench: build failed: %s" % e, file=sys.stderr)
        return 2
    limit = (BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S) - (time.time() - t0)

    # one directory per run: concurrent runs in one checkout stay apart
    run_dir = os.path.join(build.WORK, "run-%d" % os.getpid())
    try:
        return launch(a, run_dir, limit)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def launch(a, run_dir, limit):
    """Run the benchmark JVM in `run_dir`; print its result, return the exit code."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xmx%dg" % heap_gb(), "-Xss16m"]
    for o in build.ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.local.dir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "loadbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(run_dir, "stores"), "--out", out]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the run
    env = dict(os.environ, SPARK_GRAFT_CPUS=SPARK_CPUS,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            cwd=run_dir, start_new_session=True)
    try:
        code = proc.wait(timeout=max(10, limit))
    except subprocess.TimeoutExpired:
        print("loadbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.isfile(out):
        print("loadbench: benchmark process exited with %d" % code, file=sys.stderr)
        return 4
    with open(out) as f:
        result = json.load(f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
