"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Workloads: extract, corpus_queries (see BENCHMARK.json).
Runs from the root of a checkout of the repository. Sizes the run from the
machine (cores from `nproc` without OMP_NUM_THREADS, driver heap from
MemTotal), starts one fresh worker process on local[cores], and keeps every
file it writes under .perfbench-runs/ in the checkout. The last line of
standard output is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it names the full report (settings, sample
counts, percentiles, warm-up runs, spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "space_launch_telemetry_analyzer_spark")
RUNS = os.path.join(ROOT, ".perfbench-runs")
WORKLOADS = ("extract", "corpus_queries")
WORKER_TIMEOUT_S = 150           # the whole run must end within 180 s
STOP_GRACE_S = 15                # time the worker gets to stop after its result


def machine_settings() -> dict:
    cores = int(subprocess.run(["env", "-u", "OMP_NUM_THREADS", "nproc"],
                               capture_output=True, text=True, check=True).stdout)
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of the machine's memory, at most the library's 24g default.
    # With a quarter, the JVM's resident size after a pass went one of two
    # ways (about 1.5 or 2.1 GB on a 15 GB machine) depending on when it grew
    # its young generation; with an eighth it stayed within a few percent.
    heap_mb = max(1024, min(24 * 1024, mem_kib // 1024 // 8))
    return {"cores": cores, "mem_total_mb": mem_kib // 1024, "driver_mem": f"{heap_mb}m"}


def session_pids(sid: int) -> list[int]:
    """Processes still running in session `sid` (the worker and all it
    started); zombies have ended and only wait to be reaped."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
                if os.getsid(int(name)) == sid and state != "Z":
                    pids.append(int(name))
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                pass
    return pids


def stop_session(sid: int) -> None:
    """Kill whatever the worker left behind and wait until it has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not session_pids(sid):
            return
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def wait_for_result(proc: subprocess.Popen, out: str) -> None:
    """Wait until the worker exits, or has written its result and had
    STOP_GRACE_S to stop its session, or has run out of time. A worker out
    of time gets SIGQUIT sent to its JVM first, which prints the JVM's
    thread stacks to standard error."""
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    written = None
    while proc.poll() is None:
        now = time.monotonic()
        if written is None and os.path.exists(out):
            written = now
        if written is not None and now - written > STOP_GRACE_S:
            print("perfbench: worker did not stop after writing its result",
                  file=sys.stderr)
            return
        if now > deadline:
            print(f"perfbench: worker still running after {WORKER_TIMEOUT_S} s",
                  file=sys.stderr)
            for pid in session_pids(proc.pid):
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        if f.read().strip() == "java":
                            os.kill(pid, signal.SIGQUIT)
                except (FileNotFoundError, ProcessLookupError):
                    pass
            time.sleep(2)
            return
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: library package not found at {PACKAGE}", file=sys.stderr)
        return 2

    settings = machine_settings()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(settings["cores"]),
        SPARK_GRAFT_DRIVER_MEM=settings["driver_mem"],
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        # local mode needs only the loopback interface; without these Spark
        # resolves the host name, which fails where /etc/hosts lacks it
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_LOCAL_HOSTNAME="localhost",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, env=env, cwd=work, start_new_session=True,
                            stdout=sys.stderr)
    try:
        wait_for_result(proc, out)
    finally:
        stop_session(proc.pid)
        proc.wait()
    if not os.path.exists(out):
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    with open(out) as f:
        res = json.load(f)
    report = res.pop("report")
    report["machine"] = settings
    report["command"] = vars(args)
    path = os.path.join(RUNS, f"report-{tag}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    share = report["failed_share"]
    print(f"perfbench {tag}: failed_share={share} "
          f"warmup_runs={report['warmup']['count']} "
          f"op_wall_s={report['op_wall_s']} op_wall_ref={report['op_wall_ref']} "
          f"reference_s={report['reference_s']} samples={json.dumps(report['samples'])}")
    print(f"perfbench report: {os.path.relpath(path, ROOT)}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
