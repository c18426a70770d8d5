"""Eager localCheckpoint with deterministic block release, and the
registry-build scope that engine statistics caches key on.

Why this exists: ``df.localCheckpoint(eager=True)`` truncates lineage and
caches the partitions — but the cached blocks are the ONLY copy, so Spark
can never evict them under memory pressure, and PySpark offers no public
handle to free them (``DataFrame.unpersist`` only covers cacheManager
entries). Repeated calls to a checkpoint-using query therefore ACCUMULATE
non-evictable blocks until the JVM GC-locks: measured at sf10,
back-to-back ``q_pagerank`` calls crashed the second run, and at sf1
back-to-back ``q_dedup_clusters`` calls degraded 83 s -> 121 s with
GCLocker thrash (BASELINE.md round-5 notes).

``eager_checkpoint`` keeps the exact localCheckpoint semantics (same
plans, same lineage truncation — the plan-pin suite is unaffected) but
records the underlying JVM RDD handle; ``build_persist`` records an
evictable MEMORY_AND_DISK persist the same way (a frame a key reuses
within its build, e.g. PageRank's adjacency). ``release_prior`` frees every recorded
handle from the thread's PREVIOUS query build. The registry
calls ``release_prior`` at the start of each query build: by then the
previous query's result has been consumed (the driver, bench, and the
oracle gate are all strictly sequential), so its checkpoint blocks are
dead weight.

Build scope: ``registry.wrapped`` runs every query build inside
``registry_build(key, sf_dir)``, which gives the build an identity — its
query key, its ``sf_dir`` and the number of strategy probes it has run
so far (``current_build()``). ``operators/dedup._cached_probe`` keys its
vocab-size cache on that identity plus the file signature of the tables
in ``sf_dir``: a rebuild of the same key over the same files reuses its
probe results, a changed file always misses, each key's cold build pays
its own probes, and code outside a registry build (the CellTable API)
probes on every call.

Scoping contract: handles are recorded ONLY inside a registry build, in
a list private to the building thread, so a thread's ``release_prior``
frees only its own previous build's blocks. Checkpoints created by the
public CellTable API (e.g. ``dedup_clusters`` -> connected_components)
are NOT recorded, so a later registered-query build can never free
blocks backing a still-unconsumed API-returned DataFrame. API-created
checkpoint blocks follow stock localCheckpoint lifetime (live until
session stop), which is the behavior an interactive user of
localCheckpoint already expects.

Caveat (documented contract, registry surface only): a caller that builds
registered query A, then builds registered query B on the SAME thread,
and only then collects A would recompute-fail on A's truncated lineage.
No engine surface does this — results are collected before the next
build everywhere (driver contract, bench.py, check_oracle, driver_sim,
tests).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@dataclass
class RegistryBuild:
    """Identity of one registry query build (see module docstring)."""

    key: str
    sf_dir: str
    probes: int = 0


class _ThreadState(threading.local):
    # build: the registry build running on this thread, if any;
    # live: JVM handles (checkpoint RDDs, persisted Datasets) this
    # thread's builds created.
    build: RegistryBuild | None = None

    def __init__(self) -> None:
        self.live: list = []


_state = _ThreadState()


def current_build() -> RegistryBuild | None:
    """The registry build running on this thread, or None."""
    return _state.build


def live_handles() -> list:
    """This thread's recorded checkpoint handles (the previous or current
    build's); read by the handle-leak guards."""
    return _state.live


@contextmanager
def registry_build(key: str, sf_dir: str):
    """Mark the dynamic extent of a registry-wrapped query build."""
    prior, _state.build = _state.build, RegistryBuild(key, sf_dir)
    try:
        yield
    finally:
        _state.build = prior


def eager_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``; record the block handle when
    inside a registry build (API-created checkpoints are never recorded —
    see module docstring).

    ``eager=False`` defers materialization to the caller's FIRST action
    on the returned frame — lineage truncation and block recording are
    identical, but the materialization job and that first action
    collapse into one (used by the iterative CC loop, whose per-round
    convergence agg is exactly such an action: one job per round instead
    of checkpoint-job + agg-job — r15 VERDICT task #5). Callers must
    guarantee an action follows promptly, or the checkpoint stays a
    plan."""
    out = df.localCheckpoint(eager=eager)
    if _state.build is not None:
        try:  # best-effort: failing to record must never fail the query
            _state.live.append(out._jdf.queryExecution().analyzed().rdd())
        except Exception:  # pragma: no cover - py4j accessor drift
            pass
    return out


def build_persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` (evictable: lineage is kept, so an
    evicted block recomputes); inside a registry build the frame is
    recorded so the thread's next build unpersists it."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if _state.build is not None:
        _state.live.append(out._jdf)
    return out


def release_prior() -> int:
    """Free this thread's recorded checkpoint blocks and persisted frames;
    returns how many were freed."""
    n = 0
    while _state.live:
        handle = _state.live.pop()
        try:
            handle.unpersist(False)  # JVM RDD / Dataset: non-blocking
            n += 1
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n
