"""Scratch directories for files a lazily-read DataFrame points at: they
must outlive the call that wrote them, so they live under one root per
process, removed at exit."""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile


@functools.cache
def _root() -> str:
    root = tempfile.mkdtemp(prefix="ss_spool_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def spool_dir(prefix: str) -> str:
    """A fresh directory under this process's spool root."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root())
