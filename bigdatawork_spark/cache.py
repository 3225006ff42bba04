"""Session cache: inputs read, staged, trained or broadcast once per session.

Every entry lives in ONE dict attached to the SparkSession object, keyed
``(namespace, sf_dir, ...)`` — ``sf_dir=None`` marks a session-wide
entry.  Not an ``id(spark)``-keyed module dict: a recycled CPython id
after session GC would hand back DataFrame handles bound to a dead JVM
session (ADVICE r03).  Object-attached state dies with the session, so
aliasing is impossible, and a ``newSession()`` never sees another
session's relations.

Values are whatever the site keeps: DataFrame handles or ``.cache()``'d
relations, broadcasts, plain Python values (trained rules, staged dir
paths).  Releasing an entry unpersists the DataFrames and broadcasts in
it and forgets the rest; broadcasts are unpersisted, never destroyed,
because a plan built earlier may still reference them.
"""

from __future__ import annotations

from types import MappingProxyType

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

_ATTR = "_bigdatawork_cache"


def _store(spark) -> dict:
    store = getattr(spark, _ATTR, None)
    if store is None:
        store = {}
        setattr(spark, _ATTR, store)
    return store


def _release(value) -> None:
    if isinstance(value, tuple):
        for v in value:
            _release(v)
    elif isinstance(value, (DataFrame, Broadcast)):
        value.unpersist(blocking=False)


def memo(spark, key: tuple, build, valid=None):
    """Get-or-build: the entry at ``key``, or ``build()``'s result stored
    there.  ``valid(entry)`` false rebuilds (releasing the old entry)."""
    store = _store(spark)
    if key in store:
        if valid is None or valid(store[key]):
            return store[key]
        _release(store.pop(key))
    store[key] = build()
    return store[key]


def restage(spark, key: tuple, *dfs: DataFrame):
    """``.cache()`` ``dfs`` under ``key``, first releasing what ``key``
    held and every entry of the key's namespace (``key[0]``) for another
    corpus.  Used where a returned lazy plan reads a cached relation that
    cannot be unpersisted inside the builder: a key holds one generation
    and a namespace one corpus, so repeated calls (bench loops,
    knob-varying calls, fuzz tests over fresh tmp dirs) never leak a
    cached relation each into executor storage (ADVICE r10).  Returns the
    cached frame, or a tuple of them."""
    store = _store(spark)
    for k in [k for k in store if k == key or (k[0] == key[0] and k[1] != key[1])]:
        _release(store.pop(k))
    cached = tuple(df.cache() for df in dfs)
    store[key] = cached[0] if len(cached) == 1 else cached
    return store[key]


def drop(spark, sf_dir: str | None) -> None:
    """Release every entry for ``sf_dir`` (``None``: the session-wide
    ones), e.g. before a phase at another scale factor."""
    store = _store(spark)
    for k in [k for k in store if k[1] == sf_dir]:
        _release(store.pop(k))


def entries(spark) -> MappingProxyType:
    """Read-only live view of the session's entries (what it pins)."""
    return MappingProxyType(_store(spark))
