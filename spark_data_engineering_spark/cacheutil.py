"""Derived-state caches under /tmp: one key recipe, one publish protocol.

Roots. Every cache or scratch directory lives under
``cache_root(namespace)`` = ``/tmp/spark_de_<namespace>``. A namespace
may nest (``fmt/json``); no code sweeps a root's parent.

Key recipe (``cache_path``). A cached build lives at
``<root>/<tag>-<key>``, where ``key`` is the md5 of

- the tag and ``sf_dir``;
- ``(name, mtime_ns, size)`` of every listed input table
  ``<sf_dir>/<name>.parquet``;
- the repr of every extra param (a sketch's ``k``, say);
- the source bytes of every listed module AND of the module that
  defines the build function.

Caches of DERIVED state must key on the code that derived it: without
that, a code change silently reuses state the old code computed, and
the correctness gate records green evidence for a path that never ran.
The build function's own module is always folded in, so an edit to the
query that drives a build invalidates it too.

Publish (``build_once``). Claim the path if it is there (a hit), then
sweep the parent. On a miss, build into ``<path>.build-<uuid>`` and
rename it into place. A build that raises publishes nothing and its
scratch is removed, so the next call builds again. When two processes
build at once the first rename wins and the loser discards its copy.

Sweep (``sweep_stale``). Entries of a root older than an hour are
removed, tombstone-first: rename away, re-check the mtime, and only
then delete. ``claim`` refreshes an entry's mtime, so an entry in use is
never older than the cutoff; a claim that lands between the sweeper's
rename and its re-check restores the entry, one after the rename fails
and the caller rebuilds.

Scratch (``scratch_dir``). Per-call directories (fresh tables, stream
checkpoints, exports) are created under a root that is swept first, so
repeated runs cannot slowly fill /tmp.

In-place state (``resume_dir``). A stream replay that resumes its own
exactly-once state keeps it at a keyed path that is swept and claimed
like a build, but updated in place rather than published.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time
import uuid
from typing import Callable, Iterable


def cache_root(namespace: str) -> str:
    """The directory that holds every entry of ``namespace``."""
    return f"/tmp/spark_de_{namespace}"


def cache_path(
    namespace: str,
    tag: str,
    sf_dir: str,
    build: Callable,
    *,
    tables: Iterable[str] = (),
    modules: Iterable = (),
    params: Iterable = (),
) -> str:
    """Path of the cached build ``tag`` (see the module docstring for
    the recipe). ``build`` is the function that derives the state; only
    its module is read here."""
    h = hashlib.md5(f"{tag}:{sf_dir}".encode())
    for name in tables:
        st = os.stat(f"{sf_dir}/{name}.parquet")
        h.update(f":{name}:{st.st_mtime_ns}:{st.st_size}".encode())
    for p in params:
        h.update(f":{p!r}".encode())
    for m in (*modules, sys.modules[build.__module__]):
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return f"{cache_root(namespace)}/{tag}-{h.hexdigest()[:16]}"


def build_once(path: str, build: Callable[[str], object]) -> str:
    """Return ``path``, first running ``build(scratch)`` and publishing
    the scratch directory there unless a published entry exists."""
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    hit = claim(path)  # before the sweep, so a hit is never reaped by it
    sweep_stale(parent)
    if hit:
        return path
    tmp = f"{path}.build-{uuid.uuid4().hex}"
    try:
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not claim(path):  # not a racer's publish: a real failure
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def cached(
    namespace: str,
    tag: str,
    sf_dir: str,
    build: Callable[[str], object],
    **key,
) -> str:
    """``build_once`` at ``cache_path(namespace, tag, sf_dir, build,
    **key)``."""
    return build_once(cache_path(namespace, tag, sf_dir, build, **key), build)


def resume_dir(path: str) -> str:
    """Sweep ``path``'s parent and keep ``path`` out of the sweep; the
    caller updates the state there in place."""
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    claim(path)
    sweep_stale(parent)
    return path


def scratch_dir(namespace: str, prefix: str = "") -> str:
    """A fresh, empty per-call directory under the swept root of
    ``namespace``."""
    root = cache_root(namespace)
    os.makedirs(root, exist_ok=True)
    sweep_stale(root)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def claim(root: str) -> bool:
    """Cache-hit check that KEEPS the entry alive: True iff the
    published root exists, with its mtime refreshed so a concurrent
    process's ``sweep_stale`` (1h cutoff) is very unlikely to reap it
    between this check and the read. Without the utime, two
    overlapping runs race wide open: run A finds a >1h-old root and
    skips the build, run B's sweep deletes it, run A's read crashes.
    The sweep side cooperates: it renames a stale entry to a tombstone
    FIRST, then re-checks the tombstone's mtime — a utime that landed
    before the rename restores the entry; one that lands after fails
    with ENOENT and this function returns False, so the caller
    rebuilds (always safe). The residual window is the instant between
    a successful utime here and the sweeper's post-rename re-check —
    microseconds against a 1h cutoff."""
    if not os.path.isdir(root):
        return False
    try:
        os.utime(root)
    except OSError:
        return False  # reaped/tombstoned in the window: rebuild
    return True


def sweep_stale(parent: str, max_age_s: float = 3600.0) -> None:
    """Best-effort removal of ``parent``'s entries older than
    ``max_age_s``. Never raises — a racing run's dir mid-build is simply
    skipped (it is younger than the cutoff by construction).

    Deletion is tombstone-first (see ``claim``). Orphaned tombstones (a
    sweeper killed mid-rmtree) are reaped only once older than the
    cutoff — a fresh tombstone is a live sweeper's pending
    restore-or-delete decision and must be left to it."""
    if not os.path.isdir(parent):
        return
    cutoff = time.time() - max_age_s
    for d in os.listdir(parent):
        path = os.path.join(parent, d)
        if ".sweeping-" in d:
            try:
                if os.path.getmtime(path) < cutoff:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                pass
            continue
        tomb = f"{path}.sweeping-{os.getpid()}"
        try:
            if os.path.getmtime(path) >= cutoff:
                continue
            os.rename(path, tomb)
            if os.path.getmtime(tomb) >= cutoff:
                os.rename(tomb, path)  # claimed in the window: restore
            else:
                shutil.rmtree(tomb, ignore_errors=True)
        except OSError:
            pass
