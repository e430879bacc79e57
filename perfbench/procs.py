"""Process-tree bookkeeping from ``/proc``: which processes belong to a
child's session, their summed memory, and killing them.

Every workload run is started as the leader of a new session, so the
driver JVM, the PySpark daemon and its Python workers all carry the
child's pid as their session id — that is the handle used to sample
memory and to find survivors after the child exits.
"""

from __future__ import annotations

import os
import signal
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, session id) of a live process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return rest[0], int(rest[3])


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None and st[1] == sid and st[0] not in ("Z", "X"):
            out.append(int(name))
    return out


def mem_bytes(pid: int) -> int:
    """Resident memory of one process. Python processes report their
    proportional set size, so pages the forked PySpark workers share with
    their daemon are split between them instead of counted once each;
    the JVM reports plain RSS, which is cheap to read for a multi-GB
    address space."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as st:
                    return int(st.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def kill_session(sid: int) -> None:
    """SIGKILL the session's process group and any straggler that left it."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except OSError:
        pass
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def wait_gone(sid: int, timeout_s: float) -> list[int]:
    """Poll until session ``sid`` has no live process; returns whatever
    is still alive when ``timeout_s`` runs out."""
    end = time.monotonic() + timeout_s
    while True:
        left = session_pids(sid)
        if not left or time.monotonic() >= end:
            return left
        time.sleep(0.2)
