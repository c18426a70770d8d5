"""Per-SparkSession memoization that dies with the session.

Round-10 fix (r9 ADVICE low): the build-once memos (table schemas,
ASIA nation keys, fan_out partition counts, ANN index table
properties) used to key on id(spark) — after a SparkSession is
garbage-collected, CPython can hand the SAME id to a brand-new session,
which would then silently inherit the dead session's cached
schemas, nation keys, partition counts, or index geometry. Holding the
session itself in a WeakKeyDictionary makes the cache lifetime EXACTLY
the session lifetime: entries are unreachable the moment the session
is, and a recycled id can never alias into them.
"""

from __future__ import annotations

from typing import Any
from weakref import WeakKeyDictionary

_SESSION_MEMOS: "WeakKeyDictionary[Any, dict[str, dict]]" = WeakKeyDictionary()


def session_memo(spark, name: str) -> dict:
    """The named memo dict for this SparkSession (created on first use).

    Callers treat the returned dict as their private cache; distinct
    `name`s never collide. The dict is dropped automatically when the
    session object is garbage-collected.
    """
    memos = _SESSION_MEMOS.get(spark)
    if memos is None:
        memos = {}
        _SESSION_MEMOS[spark] = memos
    return memos.setdefault(name, {})
