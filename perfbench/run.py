"""Layer-by-layer benchmark of the KQL engine: one command, one run.

Usage, from the repository root:
    python3 perfbench/run.py --workload interactive_corpus|olap_sf1|llm_dedup
        --seed N --seconds S --trace 0|1

Starts one worker process (perfbench/worker.py) in a new session with a
temporary working directory under `.perfbench_work/`, samples the memory
(PSS) of every process in that session from /proc, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones; a traced run also writes its spans to `.perfbench_out/`. Before it
returns, the command stops any process of the session still alive, removes
the working directory, and fails if a process had to be killed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOADS = ("interactive_corpus", "olap_sf1", "llm_dedup")
RUN_TIMEOUT_S = 150


def driver_memory() -> str:
    """Spark driver heap sized to the machine: a quarter of physical memory,
    clamped to 2-6 GiB (the engine's default is 48g)."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    gib = min(6, max(2, total_kb // (4 * 1024 * 1024)))
    return f"{gib}g"


def session_pids(sid: int) -> list[int]:
    """Processes whose session id is `sid` (the worker and its children)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def pss_bytes(pids) -> int:
    """Summed proportional set size: a page shared by forked Python
    workers counts once across them, not once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(
                    int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")
                ) * 1024
        except (OSError, StopIteration):
            pass
    return total


class MemSampler(threading.Thread):
    """Peak summed PSS of this process and the worker's session."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            pids = session_pids(self.sid) + [os.getpid()]
            self.peak = max(self.peak, pss_bytes(pids))
            self.done.wait(0.1)


def worker_env(work: str) -> dict[str, str]:
    """The engine at its defaults: tuning knobs inherited from the caller's
    environment are dropped; only deployment settings are set."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "KQL_ENGINE_", "SPARK_DRIVER_MEM"))
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update({
        # Python UDF workers do not inherit sys.path edits of the Spark driver
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return env


def stop_session(sid: int, log, grace: float) -> list[int]:
    """Wait up to `grace` seconds for the worker's session to empty, then
    kill what is left and wait for it; return the pids that were killed."""
    deadline = time.monotonic() + grace
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.2)
    left = session_pids(sid)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if left:
        log(f"killed processes left running by the worker: {left}")
    return left


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    # a terminated run still stops its worker session and removes its files
    signal.signal(signal.SIGTERM, interrupted)

    if not os.path.isfile(os.path.join(ROOT, "kql_engine_spark", "translator.py")):
        log("kql_engine_spark/ not found: run from a checkout of the engine")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result,
    ]
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")]
    out = None
    killed: list[int] = []
    try:
        env = worker_env(work)
        log(f"Spark driver memory {env['SPARK_DRIVER_MEM']}, "
            f"cores {env['SPARK_GRAFT_CPUS']}, work dir {work}")
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
            stdout=sys.stderr, start_new_session=True,
        )
        sampler = MemSampler(proc.pid)
        sampler.start()
        code = None
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"worker exceeded {RUN_TIMEOUT_S} s")
        finally:
            killed = stop_session(proc.pid, log, 15 if code is not None else 0)
            if proc.poll() is None:
                proc.wait()
            sampler.done.set()
            sampler.join()
        if code == 0 and os.path.isfile(result):
            with open(result) as fh:
                out = json.load(fh)
            if not args.trace:
                out["metrics"]["peak_pss_mb"] = {
                    "value": sampler.peak / 2**20, "unit": "MB"
                }
        else:
            log(f"worker exited with {code}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if out is None or killed:
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
