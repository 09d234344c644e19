"""Derived on-disk fixtures for the gates.

A gate that needs a relayout, a snapshot table or a file set made from its
inputs gets it from :func:`derived`. The directory name carries a digest of
the fixture name and the ``(file, size, mtime)`` of every input parquet file
(``catalog.files_key``), so inputs rewritten at the same path get a new
directory instead of a stale layout. The fixture is built in a private temp
directory and published with one ``os.rename``: a half-built fixture is
never visible, and of two processes racing on one key the loser drops its
own build and uses the winner's. Gates that must write fresh on every call
take a private :func:`run_dir` instead.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable

from ..sources.catalog import files_key


def derived(name: str, inputs: Iterable[str], build: Callable[[str], None]) -> str:
    """Directory holding ``build``'s output for ``name`` over ``inputs``
    (parquet files or directories of part files). ``build(d)`` fills the
    empty directory ``d`` and runs only while no fixture for this key is
    published."""
    key = repr((name, files_key(*(os.path.abspath(p) for p in inputs))))
    tag = f"{name}_{hashlib.sha256(key.encode()).hexdigest()[:16]}"
    root = tempfile.gettempdir()
    final = os.path.join(root, tag)
    if os.path.isdir(final):
        return final
    work = tempfile.mkdtemp(prefix=f".{tag}_", dir=root)
    try:
        build(work)
        try:
            os.rename(work, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        # After a successful rename ``work`` is gone and this is a no-op.
        shutil.rmtree(work, ignore_errors=True)
    return final


def run_dir(name: str) -> str:
    """A fresh private directory for a gate that writes on every call. It
    outlives the call, since the gate's lazy result reads from it, and is
    removed at interpreter exit (or by the OS tmp reaper after a crash)."""
    d = tempfile.mkdtemp(prefix=f"{name}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
