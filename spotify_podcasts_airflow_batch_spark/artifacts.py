"""Derived-artifact store: the one place that decides how a derived
artifact is keyed, named, stored, validated and cleaned up.

Trained quantizers, served ANN indexes, streamed state tables,
bucketed join tables and scan-layout probes are pure functions of the
input tables they are built from. Production builds each once per
input dataset and serves the frozen result; re-deriving it inside
every query would re-run a build job per report. Because every build
is deterministic, reuse can skip work but never change a result.

Contract:

- **Key.** ``(table_fingerprint(sf_dir, *tables), name, args)``: the
  stat-level identity (path, mtime_ns, size) of every data file of
  every table the artifact derives from, plus the artifact's name
  (unique across all ``memo`` and ``store`` callers) and its build
  arguments. Rewriting an input at the same path changes the key, so
  the next call rebuilds instead of serving a stale artifact. Reading
  the key costs one stat per data file and no data reads.
- **Memo.** ``memo`` keeps an in-process value and returns the same
  object on every hit.
- **Directory store.** ``store`` keeps an on-disk artifact in one
  directory per key, ``<name>_<digest of key>``, under one
  process-wide temporary root (``store_root``). The directory is
  cleared before ``build(path)`` writes into it.
- **Commit rule.** An entry is recorded only after its build returns;
  for a directory the store then writes the ``_ARTIFACT_COMMITTED``
  marker into it (Spark's file listing skips ``_``-prefixed names).
  A build that raises records nothing, so the next call rebuilds. A
  recorded directory is served only while its marker exists.
- **Validity hook.** A ``store`` caller may pass ``valid(path)`` for
  state the marker cannot see (a sub-directory removed from outside,
  a catalog table a new session forgot, a version pointer); an entry
  that fails it is rebuilt in place rather than served as a dangling
  read. A served call costs one fingerprint plus this check.
- **Cleanup.** The root is created on first use and removed at
  interpreter exit; artifacts write nowhere else.

Calls are expected from one driver thread: nothing serialises two
threads that miss the same key at once.
"""

from __future__ import annotations

import atexit
import functools
import glob
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable, Sequence
from typing import Any, TypeVar

T = TypeVar("T")

_COMMIT_MARKER = "_ARTIFACT_COMMITTED"
_CACHE: dict[tuple, Any] = {}


def table_fingerprint(sf_dir: str, *names: str) -> tuple:
    """Stat-level identity of one or more dataset tables: (path,
    mtime_ns, size) for every data file of each named table under
    ``sf_dir``. Cheap: a stat per file, no reads."""
    out = []
    for name in names:
        root = os.path.join(sf_dir, f"{name}.parquet")
        paths = (
            sorted(glob.glob(os.path.join(root, "*.parquet")))
            if os.path.isdir(root)
            else [root]
        )
        for p in paths:
            try:
                st = os.stat(p)
                out.append((p, st.st_mtime_ns, st.st_size))
            except OSError:
                out.append((p, 0, 0))
    return tuple(out)


@functools.cache
def store_root() -> str:
    """The process-wide directory every stored artifact lives under."""
    root = tempfile.mkdtemp(prefix="artifact_store_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def memo(
    name: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], T],
    args: tuple[Hashable, ...] = (),
) -> T:
    """The value ``build()`` derives from ``tables`` under ``sf_dir``,
    built on the first call per key and returned as the same object
    after."""
    key = (table_fingerprint(sf_dir, *tables), name, args)
    if key not in _CACHE:
        _CACHE[key] = build()
    return _CACHE[key]


def store(
    name: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[str], object],
    valid: Callable[[str], bool] | None = None,
) -> str:
    """Directory of the ``name`` artifact derived from ``tables`` under
    ``sf_dir``; ``build(path)`` fills a freshly cleared directory on
    the first call per key, or when the recorded one fails the commit
    check or ``valid``."""
    key = (table_fingerprint(sf_dir, *tables), name, ())
    path = _CACHE.get(key)
    if (
        path is not None
        and os.path.isfile(os.path.join(path, _COMMIT_MARKER))
        and (valid is None or valid(path))
    ):
        return path
    _CACHE.pop(key, None)
    digest = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    path = os.path.join(store_root(), f"{name}_{digest}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(os.path.join(path, _COMMIT_MARKER), "w"):
        pass
    _CACHE[key] = path
    return path
