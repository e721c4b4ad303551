"""CPU time and peak memory of a process session, read from ``/proc``.

The benchmark starts the measured driver as a session leader, so the
Python driver, its JVM and the JVM's Python workers share one session id.
"""

from __future__ import annotations

import os
import signal
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # fields after the command name, starting with field 3 (state)
    return data[data.rfind(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None and int(st[3]) == sid and st[0] != "Z":
                out.append(int(pid))
    return out


def session_cpu_s(sid: int) -> float:
    """User + system seconds of every live process in the session, plus
    those of its exited children that their parents have reaped."""
    ticks = 0
    for pid in session_pids(sid):
        st = _stat(str(pid))
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / TICK


def session_peak_rss_mb(sid: int) -> float:
    """Sum over the session's live processes of each one's peak RSS."""
    total_kb = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def stop_session(sid: int, grace_s: float = 15.0) -> None:
    """Wait up to ``grace_s`` for the session's processes to exit, then
    kill the rest and wait until they are gone."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for _ in range(100):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)
