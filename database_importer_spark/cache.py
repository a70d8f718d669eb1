"""The engine's one file fingerprint and one memo.

A catalog resolves schemas, layouts and manifests from metadata; this
engine does that work in-process and memoizes it. Every memo key that
depends on files on disk carries :func:`fingerprint` of them, so a
rewrite of any byte-bearing file (including a part file inside a
directory-shaped table) misses. Every memo is a :func:`memo` dict:
FIFO-bounded, and either process-wide or owned by one live session.
"""

from __future__ import annotations

import hashlib
import os
import weakref

# One cap for every namespace, above the largest namespace measured at
# the end of a full oracle sweep (44), of each benchmark workload (15)
# and of the test suite (160), so a steady workload never evicts.
# Eviction only bounds a long-lived process that cycles corpora; a miss
# rebuilds the plan or re-reads metadata.
_CAP = 256


def fingerprint(path: str) -> str:
    """Short digest of the absolute ``path`` and the (relative path,
    size, mtime_ns) of the file, or of every file under it when
    ``path`` is a directory. Raises OSError when ``path`` is missing."""
    root = os.path.abspath(path)
    h = hashlib.md5(root.encode())
    if os.path.isdir(root):
        for d, subdirs, names in os.walk(root):
            subdirs.sort()
            for n in sorted(names):
                p = os.path.join(d, n)
                st = os.stat(p)
                rel = os.path.relpath(p, root)
                h.update(f"|{rel}|{st.st_size}|{st.st_mtime_ns}".encode())
    else:
        st = os.stat(root)
        h.update(f"|.|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


class _Fifo(dict):
    def __setitem__(self, key, value):
        if key not in self and len(self) >= _CAP:
            del self[next(iter(self))]
        super().__setitem__(key, value)


_PROCESS: dict[str, _Fifo] = {}
# Keyed on the live session object, not id(spark): a collected
# session's id can be recycled by a new session, which would inherit
# DataFrames and temp-view claims bound to the dead one.
_SESSIONS: "weakref.WeakKeyDictionary[object, dict[str, _Fifo]]" = (
    weakref.WeakKeyDictionary()
)


def memo(namespace: str, spark=None) -> dict:
    """The FIFO-bounded dict for ``namespace``. With ``spark`` it
    belongs to that live session and dies with it (use this for
    values bound to a session: DataFrames, temp views); without, it
    belongs to the process. Callers own key and value semantics."""
    owner = _PROCESS
    if spark is not None:
        owner = _SESSIONS.get(spark)
        if owner is None:
            owner = _SESSIONS[spark] = {}
    m = owner.get(namespace)
    if m is None:
        m = owner[namespace] = _Fifo()
    return m
