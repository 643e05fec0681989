"""One per-session memo for the package's shared builds.

Each memoizing module keeps its own ``*_CACHE`` dict, keyed
``(session_key, sf_dir, *key)`` and holding the bare value, and reads
and fills it only through ``session_memo``.  This module owns the key,
the lookup, the one eviction rule and the input stamps, so a memo can
neither outlive its SparkContext nor serve a build of input files that
have changed since.
"""

from __future__ import annotations

import os

# (id(cache), key) -> input stamp of that entry's build
_STAMPS: dict[tuple, tuple | None] = {}


def session_key(spark) -> str:
    """Stable cache key for per-session DataFrame memoization.
    ``id(spark)`` is unsafe — CPython reuses object ids after GC, so a
    new session can alias a stale entry holding a localCheckpoint'ed
    DataFrame bound to a stopped SparkContext.  ``applicationId`` is
    unique per live context."""
    return spark.sparkContext.applicationId


def input_stamp(sf_dir: str | None) -> tuple | None:
    """Sorted (relative path, size, st_mtime_ns) of every file under
    ``sf_dir``, from one ``os.walk``; None when ``sf_dir`` is None or
    not a local directory (nothing to stat, so nothing can go stale)."""
    if sf_dir is None or not os.path.isdir(sf_dir):
        return None
    out = []
    for root, _, files in os.walk(sf_dir):
        for name in files:
            path = os.path.join(root, name)
            try:
                st = os.stat(path)
            except OSError:  # removed while walking
                continue
            out.append((os.path.relpath(path, sf_dir), st.st_size,
                        st.st_mtime_ns))
    return tuple(sorted(out))


def session_memo(cache: dict, spark, sf_dir: str | None, *key, build):
    """``cache[(session_key(spark), sf_dir, *key)]``, calling ``build()``
    on a miss.  A hit needs the entry's stored input stamp to equal
    ``sf_dir``'s current one.  On insert the one eviction rule runs:
    only entries of the live session, this ``sf_dir`` and this stamp
    stay.  Other sessions' entries belong to stopped contexts and would
    pin their checkpoint handles forever; other ``sf_dir``s would pin
    every fixture directory a test battery cycles through (ADVICE r5);
    an older stamp's entries are stale."""
    full = (session_key(spark), sf_dir, *key)
    stamp = input_stamp(sf_dir)
    if full in cache and _STAMPS.get((id(cache), full)) == stamp:
        return cache[full]
    value = build()
    for k in list(cache):  # list(): concurrent callers insert too
        if k[:2] != full[:2] or _STAMPS.get((id(cache), k)) != stamp:
            cache.pop(k, None)
            _STAMPS.pop((id(cache), k), None)
    cache[full] = value
    _STAMPS[(id(cache), full)] = stamp
    return value
