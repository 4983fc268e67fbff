"""The engine's one memo: values derived from a table file, held per
live session.

Every artifact worth reusing across queries — a loaded table frame, the
shared LSH candidate frame, a trained LM, a DSIR ratio table, a
centroid table — is a deterministic function of one parquet table. It
is stored under ``(artifact, <abs table path>, file_sig)``, the engine's
counterpart of the reference's Redis dim KV ``DIM:{TABLE}:{id}``
(`app/ods_BaseDBApp.scala:111-114`): one keyed store instead of a
memo per caller.

- Staleness: the key carries the file's storage signature, so an
  in-place regeneration of the table misses and rebuilds instead of
  serving a value whose footer or contents are stale.
- Lifetime: entries live in a ``WeakKeyDictionary`` keyed by the
  session, so they die with it, and a restarted session can never
  collide with a dead one's entries the way ``id()`` reuse could.
- Bound: each session keeps at most :data:`MAX_ENTRIES`, evicting the
  least recently used. Dropping an entry drops the engine's last
  reference to it; Spark's ContextCleaner then reclaims any blocks it
  had persisted.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import Counter, OrderedDict
from typing import Callable, TypeVar

T = TypeVar("T")

#: entries kept per session; one sf dir needs 14 (10 table frames +
#: candidates, LM, DSIR ratio, centroids), so several dirs fit
MAX_ENTRIES = 64

_sessions: "weakref.WeakKeyDictionary[object, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_lock = threading.Lock()


def file_sig(path: str) -> tuple:
    """(mtime_ns, size) fingerprint of a table's backing storage; for a
    parquet *directory*, the sorted per-entry fingerprints (a replaced,
    added, or removed part-file changes the signature)."""
    if os.path.isdir(path):
        return tuple(
            sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in os.scandir(path)
            )
        )
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def memo(
    spark, sf_dir: str, table: str, artifact: str, build: Callable[[], T]
) -> T:
    """``build()``, the ``artifact`` derived from
    ``<sf_dir>/<table>.parquet``, reused while that file is unchanged
    and ``spark`` is alive.

    ``build`` runs outside the lock (it may call :func:`memo` itself, and
    may run Spark jobs); two threads that miss together both build and
    the last one stored wins, which is harmless for deterministic
    artifacts."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    key = (artifact, path, file_sig(path))
    with _lock:
        entries = _sessions.setdefault(spark, OrderedDict())
        if key in entries:
            entries.move_to_end(key)
            return entries[key]
    value = build()
    with _lock:
        entries[key] = value
        while len(entries) > MAX_ENTRIES:
            entries.popitem(last=False)
    return value


def clear() -> None:
    """Drop every entry of every session."""
    with _lock:
        _sessions.clear()


def entries() -> dict[str, int]:
    """Live entry count per artifact, over all sessions."""
    with _lock:
        return dict(Counter(k[0] for e in _sessions.values() for k in e))
