"""The process table, read from ``/proc``: the launcher uses it to stop
every process of a run, the memory sampler to find the JVM's workers."""

from __future__ import annotations

import os


def proc_stats() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, parent pid, session id) of every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    # the command name may contain spaces; the fields
                    # resume after its closing parenthesis: state, ppid,
                    # pgrp, session
                    f = fh.read().rsplit(")", 1)[1].split()
                out[int(name)] = (f[0], int(f[1]), int(f[3]))
            except (OSError, IndexError, ValueError):
                pass
    return out


def kb_field(path: str, key: str) -> int:
    """The ``key: <n> kB`` figure of a ``/proc`` status file, 0 if absent."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0
