"""Scratch-dir helper for demo/lifecycle operators.

Streaming checkpoints and the IO-lifecycle demos (snapshot txn-log,
vacuum, copy-roundtrip) create short-lived scratch stores. On a local
bench box those are pure fixed cost — checkpoint dirs are small-file-
and-fsync-heavy — so scratch space goes to tmpfs (/dev/shm) when one
is writable; only the backing medium changes, never the file layout or
the plan. A real deployment points streaming checkpoints at durable
shared storage instead (they must survive driver loss) and backup
stores at the lake — both are constructor/argument-level choices in
the operators that use this helper.

Every scratch directory lives under one root per process, made on first
use (again if something removed it) and removed when the interpreter
exits, so no call leaves tmpfs (that is, RAM) behind past its process.
``scratch_dir`` leaves its directory in place until then: a streaming or
sink entry returns a lazy read of it. A process killed by a signal runs
no exit hook, so the first process to make its root afterwards removes
the roots of processes that no longer exist, never a live one's. An
entry whose result is built on the driver uses ``scratch_store``, which
removes the directory when its block exits, so repeated calls do not
accumulate within a process.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

_root: tuple[int, str] | None = None  # (pid, path) of this process's root


def scratch_root() -> str | None:
    """tmpfs when it is writable, else None (the default temp dir)."""
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else None


def _process_root() -> str:
    """This process's directory under ``scratch_root()``. A forked child
    makes its own, so it never removes its parent's."""
    global _root
    pid = os.getpid()
    if _root is None or _root[0] != pid or not os.path.isdir(_root[1]):
        parent = scratch_root() or tempfile.gettempdir()
        if _root is None or _root[0] != pid:
            _remove_dead_roots(parent)
        _root = (pid, tempfile.mkdtemp(prefix=f"scratch_{pid}_", dir=parent))
    return _root[1]


def _remove_dead_roots(parent: str) -> None:
    """Remove the roots in ``parent`` whose process no longer exists."""
    for name in os.listdir(parent):
        m = re.fullmatch(r"scratch_(\d+)_\w+", name)
        try:
            if m:
                os.kill(int(m[1]), 0)  # signal 0 only asks if it exists
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except PermissionError:  # it exists, as another user's process
            pass


@atexit.register
def _remove_root() -> None:
    if _root is not None and _root[0] == os.getpid():
        shutil.rmtree(_root[1], ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new directory under this process's root, left for the caller."""
    return tempfile.mkdtemp(prefix=prefix, dir=_process_root())


def scratch_store(prefix: str) -> tempfile.TemporaryDirectory:
    """A context manager yielding a new directory under this process's
    root and removing it when the block exits."""
    return tempfile.TemporaryDirectory(prefix=prefix, dir=_process_root())
