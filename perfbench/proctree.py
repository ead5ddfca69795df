"""Run one child process in its own session and measure its whole
process tree from outside: wall time, CPU time and peak resident
memory, counting the JVM, the Python driver and the Python workers the
JVM forks (all of them stay in the child's session).

Linux only: the sampler reads ``/proc``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str):
    """(session, starttime, cpu ticks, rss pages) of one live process, or
    None when it is gone, a zombie or unreadable."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(b")") + 2:].split()
    if rest[0] == b"Z":
        return None
    # fields after the command name, numbered from field 3 (state)
    return int(rest[3]), int(rest[19]), int(rest[11]) + int(rest[12]), int(rest[21])


def session_members(sid: int) -> list:
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None and st[0] == sid:
                out.append(int(pid))
    return out


class TreeSampler:
    """Polls ``/proc`` for every process in session ``sid``.  CPU is the
    sum over processes of their last sampled user+system time (a
    process's final interval after its last sample is missed); peak RSS
    is the largest sum of resident sets seen at one instant."""

    def __init__(self, sid: int, period_s: float = 0.05):
        self.sid = sid
        self.period_s = period_s
        self.cpu_ticks: dict = {}
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        rss = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            st = _stat(pid)
            if st is None or st[0] != self.sid:
                continue
            self.cpu_ticks[(pid, st[1])] = st[2]
            rss += st[3]
        self.peak_rss = max(self.peak_rss, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu_ticks.values()) / _TICK

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss * _PAGE / 2**20


@dataclass
class TreeRun:
    rc: int
    wall_s: float
    ready_s: float | None
    cpu_s: float
    peak_rss_mb: float
    ready_peak_rss_mb: float | None  # peak up to the ready line
    timed_out: bool


def _kill_session(sid: int) -> list:
    left = session_members(sid)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return left


def _reap_session(sid: int, deadline_s: float = 30.0) -> None:
    """Kill whatever is left of the session and wait until it is gone
    (orphans re-parented away from us cannot be waited on, so poll)."""
    end = time.monotonic() + deadline_s
    while True:
        left = _kill_session(sid)
        if not left:
            return
        if time.monotonic() > end:
            raise RuntimeError(f"processes {left} of session {sid} survive SIGKILL")
        time.sleep(0.05)


def run_tree(
    argv: list,
    *,
    cwd: str,
    env: dict,
    log_path: str,
    timeout_s: float,
    ready_marker: str | None = None,
) -> TreeRun:
    """Run ``argv`` to completion in a new session; stderr goes to
    ``log_path``.  With ``ready_marker``, ``ready_s`` is the time from
    launch until the child prints a line starting with it, and
    ``ready_peak_rss_mb`` the peak resident memory until then."""
    with open(log_path, "wb") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            argv,
            cwd=cwd,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=log,
            start_new_session=True,
        )
        timed_out = False
        ready_s = ready_peak = None

        def on_timeout() -> None:
            nonlocal timed_out
            timed_out = True
            _kill_session(proc.pid)

        timer = threading.Timer(timeout_s, on_timeout)
        timer.start()
        try:
            with TreeSampler(proc.pid) as sampler:
                for line in proc.stdout:
                    if ready_s is None and ready_marker and line.startswith(
                        ready_marker.encode()
                    ):
                        ready_s = time.perf_counter() - t0
                        sampler.sample()
                        ready_peak = sampler.peak_rss_mb
                    log.write(line)
                _, status, usage = os.wait4(proc.pid, 0)
                wall_s = time.perf_counter() - t0
                proc.returncode = os.waitstatus_to_exitcode(status)
        finally:
            timer.cancel()
            proc.stdout.close()
            if proc.returncode is None:  # unwinding: kill and reap the child
                _kill_session(proc.pid)
                proc.wait()
            _reap_session(proc.pid)
    # descendants reaped by their parents are folded into the child's
    # rusage; the sampler also sees orphans.  Each is a lower bound.
    cpu_s = max(sampler.cpu_s, usage.ru_utime + usage.ru_stime)
    return TreeRun(
        rc=proc.returncode,
        wall_s=wall_s,
        ready_s=ready_s,
        cpu_s=cpu_s,
        peak_rss_mb=sampler.peak_rss_mb,
        ready_peak_rss_mb=ready_peak,
        timed_out=timed_out,
    )
