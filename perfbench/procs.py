"""Child processes of the benchmark.

Every process the benchmark starts (universe generator, worker) runs in
its own session, so it and everything it starts in turn
(the JVM, PySpark's Python workers) form one process group that can be
measured and stopped as a unit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time


class BenchError(RuntimeError):
    pass


def spawn(args: list[str], env: dict, cwd: str, log: str) -> subprocess.Popen:
    """``python3 *args`` in a new session, stdout and stderr to ``log``."""
    with open(log, "w") as out:
        return subprocess.Popen(
            [sys.executable, *args], env=env, cwd=cwd, stdout=out,
            stderr=subprocess.STDOUT, start_new_session=True,
        )


def group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(pid))
    return out


def group_rss_kib(pgid: int) -> int:
    tot = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmRSS:"):
                        tot += int(ln.split()[1])
        except OSError:
            continue
    return tot


def stop_group(proc: subprocess.Popen) -> None:
    """Stop a child and everything it started, and wait until no live
    process of its group is left: SIGTERM, then SIGKILL after 15 s."""
    deadline = time.time() + 15
    sig = signal.SIGTERM
    while True:
        if proc.poll() is None or group_pids(proc.pid):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        try:
            proc.wait(timeout=0.2)
        except subprocess.TimeoutExpired:
            pass
        if proc.poll() is not None and not group_pids(proc.pid):
            return
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                raise BenchError(f"processes of group {proc.pid} survive SIGKILL")
            sig, deadline = signal.SIGKILL, time.time() + 10
