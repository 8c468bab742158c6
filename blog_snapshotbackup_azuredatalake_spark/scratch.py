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

``scratch_dir`` leaves its directory in place: a streaming or sink entry
returns a lazy read of it. An entry whose result is built on the driver
uses ``scratch_store``, which removes the directory when its block exits,
so repeated calls do not accumulate tmpfs (that is, RAM).
"""

from __future__ import annotations

import os
import tempfile


def scratch_root() -> str | None:
    """tmpfs when it is writable, else None (the default temp dir)."""
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else None


def scratch_dir(prefix: str) -> str:
    """A new directory under ``scratch_root()``, left for the caller."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def scratch_store(prefix: str) -> tempfile.TemporaryDirectory:
    """A context manager yielding a new directory under
    ``scratch_root()`` and removing it when the block exits."""
    return tempfile.TemporaryDirectory(prefix=prefix, dir=scratch_root())
