"""Crash-safe artifact publishing — the ONE commit path for every
persisted index family (round 12, r11 verdict task #4).

The ANN index (operators/similarity.py), the BM25 postings index
(operators/text.py) and the dedup band table (operators/dedup.py) each
used to hand-roll the same publish sequence — write artifact, stamp
properties, expose to readers — and round-10 review found two distinct
crash-window bugs in those hand-rolled copies (a propsless table served
with fallback geometry; a half-absorbed partial compaction re-unioned on
retry). This module centralizes the sequence so the crash analysis is
done ONCE:

`publish_artifact` (catalog face — ANN + BM25 artifacts):
1. BUILD under a temp name: the caller's writer lands the artifact as
   `<table>__build_<token>` at `<path>__build_<token>`. Nothing under
   the final name changes; a crash here leaves only inert garbage that
   the next publish sweeps.
2. STAMP all cellbase.* properties — geometry, stats, build_id,
   absorbed-ids bookkeeping — PLUS the `cellbase.complete = '1'`
   marker, in ONE ALTER on the temp table. A crash before this leaves a
   markerless temp (inert, swept later); there is no state in which a
   stamped-but-partial artifact exists.
3. VERIFY the marker by re-reading the temp table's properties
   (max_age_sec=0 — never a cached read) before anything is exposed.
4. SWAP: rename the old artifact (if any) to a trash name, rename the
   temp to the final name, drop the trash entry and reclaim its data
   directory. External-table RENAME is metadata-only (location
   untouched — verified semantics, pinned in tests), so the swap moves
   no bytes. A crash BEFORE the swap leaves readers on the OLD artifact
   in full (the crash-injection tests pin exactly this); the swap
   itself is two catalog renames — the only remaining window is
   metadata-only, repaired by re-running the publish (the writer
   rebuilds from source; step-1 garbage is swept), and is the best
   available without a transactional metastore.

`publish_artifact_dir` (path face — band tables and other bare-parquet
generations): write to `<dir>__build_<token>`, then `os.rename` the
directory into place — POSIX rename is atomic, so the target directory
either does not exist or is complete; readers can never observe a
half-written generation (`spark.read.parquet` of a crashed partial
write would otherwise happily return partial rows).

Concurrency contract: ONE publisher per artifact at a time. The stale-
build sweep identifies garbage by the `__build_` naming convention, and
separate Spark sessions have separate in-memory catalogs — a second
concurrent publisher's in-progress build directory is indistinguishable
from a crashed one and would be swept mid-write. Serialize publishes of
the same artifact externally (the engine's own callers already do: each
index generation has exactly one producing job).

Crash injection for tests: add a point name to `CRASH_POINTS` and the
publish raises `InjectedCrash` there. Production code never touches it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

BUILD_SUFFIX = "__build_"

# Durable cross-session metadata (round 14, r13 verdict #1 + ADVICE):
# - MANIFEST_NAME: a JSON copy of the artifact's stamped cellbase.*
#   properties written INSIDE the artifact data directory, so a FOREIGN
#   session (fresh in-memory catalog) can validate + re-register the
#   artifact without the publishing session's catalog.
# - `<path>.live.json`: the naming base's pointer to the CURRENT serving
#   location (the swap renames catalog entries, never moves bytes, so
#   the live bytes sit at a `<path>__build_<token>` dir only the
#   publishing session's catalog used to know about).
# - pins dir: one small pin file per published artifact, so vacuum's
#   can't-delete-the-live-artifact pin survives process death instead
#   of reading the per-session in-memory catalog only (r13 ADVICE
#   medium: a cron'd vacuum in a fresh session saw zero pins).
MANIFEST_NAME = "_cellbase_manifest.json"
PINS_DIRNAME = "cellbase_spark_pins"


def pins_dir(root: str | None = None) -> str:
    return os.path.join(root or tempfile.gettempdir(), PINS_DIRNAME)


def pointer_path(path: str) -> str:
    """The durable live-location pointer for a publish naming base."""
    return f"{path}.live.json"


def _atomic_write_json(target: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(target)), exist_ok=True)
    tmp = f"{target}.tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    os.replace(tmp, target)  # atomic on POSIX


def write_pin(table: str, location: str, root: str | None = None) -> str:
    """Record `table` -> `location` durably for vacuum's pin check.
    One file per table, atomically replaced per publish — no cross-
    process lock needed (single publisher per artifact by contract)."""
    pin = os.path.join(
        pins_dir(root), f"pin_{hashlib.sha1(table.encode()).hexdigest()[:16]}.json"
    )
    _atomic_write_json(
        pin,
        {"table": table, "location": os.path.abspath(location), "ts": time.time()},
    )
    return pin


def unpin_artifact(table: str, root: str | None = None) -> None:
    """Drop `table`'s durable pin (call when retiring an artifact
    OUTSIDE the publish path, e.g. a bare DROP TABLE — otherwise the
    pin keeps its last location vacuum-exempt forever)."""
    pin = os.path.join(
        pins_dir(root), f"pin_{hashlib.sha1(table.encode()).hexdigest()[:16]}.json"
    )
    try:
        os.remove(pin)
    except FileNotFoundError:
        pass


def durable_pins(
    root: str | None = None, max_age_sec: float | None = None
) -> set[str]:
    """All pinned locations that still exist on disk (normalized).
    Pin files whose location vanished are pruned as they're read.

    `max_age_sec` is the pin RETENTION window (r14 ADVICE medium —
    without it, superseded durable homes stay vacuum-exempt forever):
    a pin whose file mtime is older than the window is IGNORED, not
    deleted — every publish and every attach refreshes the pin's mtime
    (write_pin atomically replaces the file), so an expired pin means
    no session has published or attached the artifact within the
    window. Ignoring it lets vacuum reclaim the data directory; once
    the directory is gone, the vanished-location prune above removes
    the pin file itself on the next read. Never deleting by age alone
    keeps this race-free against a concurrent attach refresh.
    None (the default) = pins never expire."""
    d = pins_dir(root)
    locs: set[str] = set()
    if not os.path.isdir(d):
        return locs
    cutoff = time.time() - max_age_sec if max_age_sec is not None else None
    for entry in os.listdir(d):
        full = os.path.join(d, entry)
        try:
            with open(full) as fh:
                loc = json.load(fh).get("location")
        except (OSError, ValueError):
            continue
        if loc and os.path.exists(loc):
            if cutoff is not None:
                try:
                    if os.path.getmtime(full) < cutoff:
                        continue  # expired: ignore, don't delete
                except OSError:
                    continue
            locs.add(os.path.abspath(loc))
        elif loc:
            try:
                os.remove(full)
            except OSError:
                pass
    return locs

# Test-only: publish raises InjectedCrash at any point named here.
CRASH_POINTS: set[str] = set()


class InjectedCrash(RuntimeError):
    """Raised at a CRASH_POINTS site — simulates a process kill."""


def _maybe_crash(point: str) -> None:
    if point in CRASH_POINTS:
        raise InjectedCrash(point)


def stamp_props(spark, table: str, props: dict[str, str]) -> None:
    """Stamp `props` on `table` in ONE ALTER (all-or-nothing property
    visibility) and invalidate the session props cache so in-process
    readers observe the new values immediately."""
    from cellbase_spark.operators.similarity import _tblprops_cache

    kv = ", ".join(
        f"'{k}' = '{str(v).replace(chr(39), chr(39) * 2)}'"
        for k, v in props.items()
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    _tblprops_cache(spark).pop(table, None)


def artifact_location(spark, table: str) -> str:
    """The published artifact's CURRENT data directory. After any
    publish the final table's bytes live at a `<path>__build_<token>`
    directory (the swap renames catalog entries, never moves bytes), so
    the path handed to the publish is a NAMING BASE, not the location —
    anything that needs the artifact's files (leaf-layout audits,
    direct-parquet cross-checks) must resolve through the catalog."""
    loc = _table_location(spark, table)
    if loc is None:
        raise ValueError(f"artifact_location: {table!r} has no location")
    return loc


def _table_location(spark, table: str) -> str | None:
    rows = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .where("col_name = 'Location'")
        .collect()
    )
    if not rows:
        return None
    loc = rows[0].data_type
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _sweep_stale_builds(spark, table: str, path: str) -> None:
    """Drop leftover `<table>__build_*` temps from crashed publishes and
    reclaim their data directories. Nothing under a __build_ CATALOG
    name is ever served (readers resolve the final name only), so the
    temp tables are garbage regardless of how far their publish got.
    The data-directory sweep must additionally skip the LIVE artifact's
    location: after any successful publish the final table's data lives
    at a `<path>__build_<token>` directory (the swap renames catalog
    entries, never moves bytes), so matching on the name alone would
    delete the serving artifact's bytes out from under it.

    "Live" is resolved from THREE sources, not just this session's
    catalog (r14 ADVICE medium): a FRESH session republishing to an
    existing naming base has tableExists=false, but the durable pointer
    still names the generation foreign sessions are serving through
    attach — sweeping it would break the build-at-ingest/serve-from-
    any-session contract (and a crash mid-build would leave the pointer
    dangling). The pointer's location and every durably pinned location
    are spared exactly as vacuum spares them."""
    spare: set[str] = set()
    if spark.catalog.tableExists(table):
        live = _table_location(spark, table)
        if live:
            spare.add(os.path.abspath(live))
    ptr_file = pointer_path(path)
    try:
        with open(ptr_file) as fh:
            loc = json.load(fh).get("location")
        if loc:
            spare.add(os.path.abspath(loc))
    except (OSError, ValueError):
        pass
    spare |= durable_pins()
    for t in spark.catalog.listTables():
        if t.name.startswith(f"{table}{BUILD_SUFFIX}".lower()):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    parent, base = os.path.dirname(path), os.path.basename(path)
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            full = os.path.join(parent, entry)
            if (
                entry.startswith(f"{base}{BUILD_SUFFIX}")
                and not _pinned(full, spare)
            ):
                shutil.rmtree(full, ignore_errors=True)


def publish_artifact(
    spark,
    table: str,
    path: str,
    writer: Callable[[str, str], None],
    props: dict[str, str],
    absorbed_ids: set[str] | None = None,
) -> None:
    """Crash-safe catalog publish (sequence documented in the module
    docstring). `writer(tmp_table, tmp_path)` must land the artifact as
    an external table `tmp_table` located at `tmp_path` (the usual
    `.option("path", tmp_path).saveAsTable(tmp_table)` tail). `props`
    are stamped verbatim plus `cellbase.build_id` (fresh unless the
    caller supplies one), `cellbase.absorbed_ids` (when given — the
    compaction bookkeeping that keeps absorbs idempotent across
    retries), and the `cellbase.complete` marker."""
    from cellbase_spark.operators.similarity import _tblprops_cache, table_props

    _sweep_stale_builds(spark, table, path)
    token = uuid.uuid4().hex[:12]
    tmp_table = f"{table}{BUILD_SUFFIX}{token}"
    tmp_path = f"{path}{BUILD_SUFFIX}{token}"

    writer(tmp_table, tmp_path)
    _maybe_crash("after_build")

    stamped = dict(props)
    stamped.setdefault("cellbase.build_id", uuid.uuid4().hex)
    if absorbed_ids:
        stamped["cellbase.absorbed_ids"] = ",".join(sorted(absorbed_ids))
    stamped["cellbase.complete"] = "1"
    stamp_props(spark, tmp_table, stamped)

    check = table_props(spark, tmp_table, max_age_sec=0)
    if check.get("cellbase.complete") != "1":
        raise RuntimeError(
            f"publish_artifact: completion marker missing on {tmp_table}"
            " after stamp — refusing to expose the artifact"
        )
    # Durable self-description (round 14): the stamped props PLUS the
    # table's structure (schema DDL + partition columns — so attach can
    # CREATE with an explicit schema and import the partitions into the
    # foreign catalog without an inference read) land as a manifest
    # file INSIDE the artifact directory. Written before the swap: a
    # crash here leaves the temp unexposed exactly as before.
    manifest = dict(stamped)
    try:
        manifest["cellbase.schema_ddl"] = str(
            spark.table(tmp_table)._jdf.schema().toDDL()
        )
        manifest["cellbase.partition_cols"] = ",".join(
            c.name for c in spark.catalog.listColumns(tmp_table) if c.isPartition
        )
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tmp_table}").collect()
        }
        if desc.get("Num Buckets"):
            # bucketed layout: record the spec so attach recreates the
            # catalog bucketing (SelectedBucketsCount pruning included)
            manifest["cellbase.num_buckets"] = desc["Num Buckets"]
            for mk, dk in (
                ("cellbase.bucket_cols", "Bucket Columns"),
                ("cellbase.sort_cols", "Sort Columns"),
            ):
                cols = desc.get(dk, "")
                manifest[mk] = ",".join(
                    c.strip(" `") for c in cols.strip("[]").split(",") if c.strip()
                )
    except Exception:
        pass  # non-JVM shim: attach falls back to schema inference
    _atomic_write_json(os.path.join(tmp_path, MANIFEST_NAME), manifest)
    _maybe_crash("after_stamp")

    # Durable pointer + vacuum pin BEFORE the swap (r14 ADVICE low —
    # writing them after left a crash window in which the new live
    # generation carried no durable pin and appeared in no catalog, so
    # a cron'd vacuum in a fresh session could sweep the serving bytes):
    # a pin/pointer for a complete-but-not-yet-swapped build dir is
    # harmless — the manifest's completion marker is already verified,
    # so a foreign attach that races ahead of the swap serves the full
    # new generation, and a crash here is repaired by re-running the
    # publish (the sweep spares the pointed-to/pinned location).
    _atomic_write_json(
        pointer_path(path),
        {
            "table": table,
            "location": os.path.abspath(tmp_path),
            "build_id": stamped["cellbase.build_id"],
        },
    )
    write_pin(table, tmp_path)
    _maybe_crash("after_pointer")

    old_loc = None
    if spark.catalog.tableExists(table):
        old_loc = _table_location(spark, table)
        trash = f"{table}{BUILD_SUFFIX}trash_{token}"
        spark.sql(f"ALTER TABLE {table} RENAME TO {trash}")
        _maybe_crash("mid_swap")
        spark.sql(f"ALTER TABLE {tmp_table} RENAME TO {table}")
        spark.sql(f"DROP TABLE IF EXISTS {trash}")
    else:
        spark.sql(f"ALTER TABLE {tmp_table} RENAME TO {table}")
    _tblprops_cache(spark).pop(table, None)
    _tblprops_cache(spark).pop(tmp_table, None)
    if old_loc and os.path.isdir(old_loc) and os.path.abspath(old_loc) != os.path.abspath(tmp_path):
        # Reclaim the superseded artifact's bytes (same lifecycle as the
        # previous in-place overwrite, paid after the swap instead of
        # before the build).
        shutil.rmtree(old_loc, ignore_errors=True)


def publish_artifact_dir(
    write_to: Callable[[str], None], final_dir: str
) -> bool:
    """Crash-safe bare-parquet publish: `write_to(tmp_dir)` lands the
    generation in a sibling temp directory, which is then os.rename'd
    into place — atomic on POSIX, so `final_dir` either doesn't exist
    or is the complete generation. Callers keep the roll-forward
    discipline (a NEW immutable directory per generation); this helper
    just guarantees the directory's appearance is all-or-nothing.

    A pre-existing `final_dir` is IDEMPOTENT SUCCESS, not an error: the
    atomic rename means an existing directory is always a complete
    generation, and the retry-after-crash repair path (e.g. a
    compaction that crashed between its rename and its tombstone clear)
    must converge by re-running the same publish — mirroring the
    catalog face, where re-running the publish is the documented
    repair. Generation directory names uniquely identify their content
    (callers roll forward to a NEW name per generation), so returning
    without writing can never serve stale data for a different
    generation.

    Returns True when this call wrote the generation, False on the
    idempotent already-exists path — callers with publish-coupled side
    effects (e.g. compact_dedup_bands' tombstone clear) must branch on
    it instead of assuming the write happened (r13 ADVICE medium)."""
    if os.path.exists(final_dir):
        return False
    parent = os.path.dirname(os.path.abspath(final_dir))
    os.makedirs(parent, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    tmp_dir = f"{final_dir}{BUILD_SUFFIX}{token}"
    # sweep siblings from crashed publishes
    base = os.path.basename(final_dir)
    for entry in os.listdir(parent):
        if entry.startswith(f"{base}{BUILD_SUFFIX}"):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    write_to(tmp_dir)
    _maybe_crash("after_build_dir")
    os.rename(tmp_dir, final_dir)
    return True


def attach_artifact(spark, table: str, path: str) -> str:
    """Register an already-PUBLISHED artifact in THIS session's catalog
    with ZERO rebuild — the cross-session serve path (round 14, r13
    verdict #1: "build at ingest, serve forever"). A fresh session used
    to pay the full ingest build before its first probe because both the
    serving location and the cellbase.* geometry lived only in the
    publishing session's in-memory catalog; publish now persists both
    (`<path>.live.json` pointer + in-directory manifest), and this is
    the read side:

    1. resolve the naming base's pointer to the live generation dir;
    2. validate the manifest's `cellbase.complete` marker and that it
       agrees with the pointer's build_id (a desynced pair means a
       torn publish — refuse loudly rather than serve it);
    3. CREATE an external parquet table over the location, recover its
       hive partitions into the catalog (the metastore model: probes
       pay partition PRUNING, never directory discovery);
    4. re-stamp the manifest's props so geometry-reading probes
       (ann_search etc.) see exactly what the builder recorded.

    Idempotent: an existing catalog entry already serving the pointed-to
    generation is returned as-is; an entry left at an OLDER generation
    (the pointer moved under a long-lived session) is dropped and
    re-registered at the live one. Never writes data files."""
    ptr_file = pointer_path(path)
    if not os.path.exists(ptr_file):
        raise FileNotFoundError(
            f"attach_artifact: no publish pointer at {ptr_file!r} — "
            "the artifact was never published (or published by a "
            "pre-pointer engine build; re-publish to attach)"
        )
    with open(ptr_file) as fh:
        ptr = json.load(fh)
    loc = ptr["location"]
    manifest_file = os.path.join(loc, MANIFEST_NAME)
    if not os.path.exists(manifest_file):
        raise FileNotFoundError(
            f"attach_artifact: pointed-to generation {loc!r} has no "
            f"{MANIFEST_NAME} — refusing to attach an unverifiable dir"
        )
    with open(manifest_file) as fh:
        manifest = json.load(fh)
    if manifest.get("cellbase.complete") != "1":
        raise RuntimeError(
            f"attach_artifact: {loc!r} manifest lacks the completion "
            "marker — torn publish, refusing to attach"
        )
    if manifest.get("cellbase.build_id") != ptr.get("build_id"):
        raise RuntimeError(
            f"attach_artifact: pointer build_id {ptr.get('build_id')!r} "
            f"!= manifest build_id {manifest.get('cellbase.build_id')!r} "
            f"at {loc!r} — torn publish, refusing to attach"
        )
    from cellbase_spark.operators.similarity import _tblprops_cache, table_props

    if spark.catalog.tableExists(table):
        cur = table_props(spark, table, max_age_sec=0)
        if (
            cur.get("cellbase.build_id") == manifest["cellbase.build_id"]
            and _table_location(spark, table)
            and os.path.abspath(_table_location(spark, table)) == os.path.abspath(loc)
        ):
            return table  # already serving this generation
        spark.sql(f"DROP TABLE IF EXISTS {table}")  # stale generation entry
    ddl = manifest.get("cellbase.schema_ddl")
    part_cols = manifest.get("cellbase.partition_cols", "")
    if ddl:
        # explicit schema from the manifest (no inference read) + the
        # recorded partition keys, then import the partition directories
        # into this catalog — probes pay partition PRUNING on catalog
        # metadata, and only the probed partitions are ever listed
        part = f" PARTITIONED BY ({part_cols})" if part_cols else ""
        buck = ""
        if manifest.get("cellbase.num_buckets"):
            # recreate the recorded bucket spec: an attached bucketed
            # layout keeps SelectedBucketsCount pruning and its
            # exchange-free join/point-lookup cost model
            bcols = manifest["cellbase.bucket_cols"]
            scols = manifest.get("cellbase.sort_cols", "")
            buck = f" CLUSTERED BY ({bcols})"
            if scols:
                buck += f" SORTED BY ({scols})"
            buck += f" INTO {manifest['cellbase.num_buckets']} BUCKETS"
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet{part}{buck}"
            f" LOCATION '{loc}'"
        )
    else:
        spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{loc}'")
    if part_cols or not ddl:
        try:
            spark.catalog.recoverPartitions(table)
        except Exception:
            pass  # unpartitioned artifact: nothing to recover
    stamp_props(
        spark,
        table,
        {k: v for k, v in manifest.items()
         if k not in ("cellbase.schema_ddl", "cellbase.partition_cols")},
    )
    _tblprops_cache(spark).pop(table, None)
    write_pin(table, loc)  # refresh the pin's mtime for retention
    return table


def publish_dir_pointer(final_dir: str, home: str | None = None) -> None:
    """Durable pointer for the PATH face (bare-parquet generations):
    call after publish_artifact_dir landed `final_dir` to advertise it
    to foreign sessions (foreign_ingest waits on exactly this pointer).
    The dir face needs no manifest — the generation directory is
    self-validating (atomic rename means it exists iff complete, and
    the parquet _SUCCESS marker travels with it).

    `home` is the artifact's stable naming base for roll-forward flows
    where each generation lands under a NEW directory: the pin is keyed
    by the home, so publishing generation N+1 atomically REPLACES
    generation N's pin instead of accumulating one immortal pin per
    generation (r14 ADVICE medium) — the superseded generation then
    ages out through vacuum's pin_retention_sec window. Defaults to
    `final_dir` itself (the publish-in-place flows, where re-publishing
    the same dir already replaces the pin)."""
    _atomic_write_json(
        pointer_path(final_dir),
        {"location": os.path.abspath(final_dir), "build_id": uuid.uuid4().hex},
    )
    write_pin(f"dir:{os.path.abspath(home or final_dir)}", final_dir)


def attached_dir(final_dir: str) -> str:
    """Resolve + validate a dir-face artifact published by ANY session:
    pointer present, pointed-to directory complete (_SUCCESS). Returns
    the location; torn states raise, never serve."""
    ptr_file = pointer_path(final_dir)
    if not os.path.exists(ptr_file):
        raise FileNotFoundError(
            f"attached_dir: no publish pointer at {ptr_file!r}"
        )
    with open(ptr_file) as fh:
        loc = json.load(fh)["location"]
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        raise RuntimeError(
            f"attached_dir: {loc!r} has no _SUCCESS marker — torn publish,"
            " refusing to serve"
        )
    return loc


def foreign_ingest(
    home: str, script: str, args: list[str], timeout: float = 900.0,
    force: bool = False,
) -> None:
    """Run a publish-producing ingest in a SEPARATE fresh interpreter
    and wait for its durable pointer at `pointer_path(home)` — the
    deployment shape behind every cross-session attach key: an ingest
    job builds at write time; every serving session only attaches.
    `script` is the child's `python -c` source; `args` arrive as its
    sys.argv[1:]; the repo root is prepended to the child's PYTHONPATH.

    `force=True` is the GENERATION-ROTATION verb: an existing pointer
    normally short-circuits the ingest (build-once semantics); force
    skips those early returns and runs the child regardless, so a
    scheduled re-ingest can publish generation N+1 over a home whose
    pointer still names generation N. The lock still serializes — two
    concurrent forced rotations of one home run one at a time.

    An O_EXCL lock file serializes concurrent ingests of the same home
    (publish's stale-build sweep is single-publisher by contract); a
    waiter returns as soon as the winner's pointer lands. Dead-holder
    takeover (r14 ADVICE low — the old remove+recreate let two waiters
    both "take over" one stale lock and run two concurrent ingests):
    the lock records its holder's pid; a lock is only considered dead
    when it is older than `timeout` AND its holder pid is gone (so a
    legitimately slow ingest whose caller is alive is never usurped),
    and the takeover itself is an atomic os.rename of the lock to a
    unique trash name — exactly one racer wins the rename, everyone
    else loops back to the O_EXCL acquire."""
    import subprocess
    import sys

    os.makedirs(os.path.dirname(home), exist_ok=True)
    lock = f"{home}.ingest_lock"
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(
                    fd,
                    json.dumps({"pid": os.getpid(), "ts": time.time()}).encode(),
                )
            finally:
                os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
                with open(lock) as fh:
                    holder_pid = json.load(fh).get("pid")
            except (OSError, ValueError):
                continue  # lock released/rewritten underneath us: retry
            holder_alive = False
            if isinstance(holder_pid, int):
                try:
                    os.kill(holder_pid, 0)
                    holder_alive = True
                except ProcessLookupError:
                    holder_alive = False
                except PermissionError:
                    holder_alive = True  # exists, different uid
                except OSError:
                    holder_alive = False
            if age > timeout and not holder_alive:
                # dead holder: atomic single-winner takeover
                trash = f"{lock}.stale_{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(lock, trash)
                except OSError:
                    continue  # another waiter won the takeover
                try:
                    os.remove(trash)
                except OSError:
                    pass
                continue
            time.sleep(2.0)
            if not force and os.path.exists(pointer_path(home)):
                return  # another ingest finished while we waited
    try:
        if not force and os.path.exists(pointer_path(home)):
            return  # raced: published between our check and the lock
        prev_build = None
        if force:
            try:
                with open(pointer_path(home)) as fh:
                    prev_build = json.load(fh).get("build_id")
            except (OSError, ValueError):
                prev_build = None
        import cellbase_spark as _pkg

        repo = os.path.dirname(os.path.dirname(os.path.abspath(_pkg.__file__)))
        env = dict(os.environ)
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        proc = subprocess.run(
            [sys.executable, "-c", script, *args],
            env=env,
            timeout=timeout,
            capture_output=True,
            text=True,
        )
        ok = os.path.exists(pointer_path(home))
        if ok and force and proc.returncode != 0:
            # the pre-existing pointer cannot vouch for a failed forced
            # rotation — require the pointer to have actually MOVED
            try:
                with open(pointer_path(home)) as fh:
                    ok = json.load(fh).get("build_id") != prev_build
            except (OSError, ValueError):
                ok = False
        if not ok:
            raise RuntimeError(
                f"foreign ingest of {home!r} failed "
                f"(rc={proc.returncode}): {proc.stderr[-2000:]}"
            )
        # rc != 0 with the pointer present is SUCCESS (r14 ADVICE low):
        # the publish landed — the child died after it (e.g. during
        # teardown), or a lost takeover racer's child collided with the
        # winner's already-published generation. The artifact is valid
        # either way; attach validates it independently.
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere in the tree — the crash-window-safe age of
    a directory. A long-running build's top-level dir mtime goes stale
    while its files are still landing; taking the max over the tree
    means an in-progress write always looks YOUNG and survives."""
    import time

    try:
        newest = os.path.getmtime(path)
    except OSError:
        # raced with a concurrent delete: treat as young (skip) — the
        # next vacuum sees the final state
        return time.time()
    for root, dirs, files in os.walk(path):
        for entry in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, entry)))
            except OSError:
                continue  # raced with a concurrent delete
    return newest


def _catalog_locations(spark) -> set[str]:
    """Every catalog table's data location (normalized). The publish
    swap renames catalog entries, never moves bytes, so a LIVE artifact
    can legitimately live at a `__build_*`-named or scratch directory —
    the catalog, not the name, says what is serving."""
    locs = set()
    for t in spark.catalog.listTables():
        try:
            loc = _table_location(spark, t.name)
        except Exception:
            continue
        if loc:
            locs.add(os.path.abspath(loc))
    return locs


def _pinned(path: str, live_locs: set[str]) -> bool:
    """True when `path` contains or equals a live catalog location."""
    p = os.path.abspath(path)
    return any(loc == p or loc.startswith(p + os.sep) for loc in live_locs)


def vacuum(
    spark,
    older_than_sec: float,
    scratch_root: str | None = None,
    keep: tuple = (),
    pin_retention_sec: float | None = None,
) -> list[str]:
    """Retention sweep for the engine's on-disk leftovers (round 13,
    r12 verdict #6). Publish sweeps its own `__build_*` temps at the
    NEXT publish of the same artifact, but process-keyed scratch
    (the `cellbase_spark_*` dirs: `io.scratch_path` homes and the
    workbook round-trip keys' temp dirs) and superseded generation data
    from runs that never published again accumulate across process
    lifetimes. This is the explicit janitor a deployment crons.

    Deletes, directly under the system temp dir (or `scratch_root`),
    any `cellbase_spark_*` or `*__build_*` directory whose NEWEST
    contained mtime is older than `older_than_sec`. Never touched:

    - anything whose tree contains a LIVE catalog table's location
      (this session's catalog) or a DURABLY PINNED location (the pin
      files publish/attach write under `cellbase_spark_pins/` — so a
      vacuum cron'd from a FRESH session still cannot sweep an artifact
      another process published and is serving; r13 ADVICE medium);
    - the pins directory itself;
    - the CURRENT process's own scratch (`_<pid>` suffix) — it may be
      mid-query with legitimately old files;
    - anything listed in `keep`;
    - anything with a file newer than the cutoff (crash-window safety:
      an in-flight build is young by construction).

    `pin_retention_sec` bounds how long a DURABLE pin protects an
    artifact nobody touches (r14 ADVICE medium): every publish and
    attach refreshes the pin's mtime, so a pin older than the window
    marks an artifact no session has served within it — superseded
    source-signature homes, retired dir-face generations — and its
    location becomes sweepable under the normal age rule. None (the
    default) = pins never expire, the conservative standalone-janitor
    behavior; a cron'd deployment passes e.g. 30 days. Must be >> the
    longest gap between attaches of a still-wanted artifact.

    Returns the list of deleted paths (for the caller's audit log).
    """
    root = scratch_root or tempfile.gettempdir()
    cutoff = time.time() - older_than_sec
    live_locs = (
        _catalog_locations(spark)
        | durable_pins(root, pin_retention_sec)
        | durable_pins(max_age_sec=pin_retention_sec)
    )
    keep_abs = {os.path.abspath(k) for k in keep}
    own_suffix = f"_{os.getpid()}"
    deleted: list[str] = []
    swept_roots: list[str] = []
    for entry in sorted(os.listdir(root)):
        full = os.path.join(root, entry)
        if not os.path.isdir(full):
            continue
        if not (entry.startswith("cellbase_spark_") or BUILD_SUFFIX in entry):
            continue
        if entry == PINS_DIRNAME or entry.rstrip(os.sep).endswith(own_suffix):
            continue
        if os.path.abspath(full) in keep_abs or _pinned(full, live_locs):
            swept_roots.append(full)  # still eligible for the nested pass
            continue
        if _newest_mtime(full) >= cutoff:
            swept_roots.append(full)
            continue
        shutil.rmtree(full, ignore_errors=True)
        deleted.append(full)
    # Second pass: crashed `__build_*` temps NESTED inside engine trees
    # that are themselves still live (one active artifact keeps its
    # whole scratch parent young, so pass one never reclaims a dead
    # sibling build next to it). _sweep_stale_builds catches these at
    # the NEXT publish of the same artifact; this pass catches
    # artifacts that never publish again. Same pins, same age rule, per
    # nested dir — and the walk is RESTRICTED to the engine's own
    # top-level trees that pass one identified (never the whole scratch
    # root: a foreign application's `*__build_*`-named directory under
    # /tmp is not ours to delete; r13 ADVICE low — which also keeps the
    # current process's own scratch out of pass two).
    for tree in swept_roots:
        for parent, dirs, _files in os.walk(tree):
            for entry in list(dirs):
                if BUILD_SUFFIX not in entry:
                    continue
                full = os.path.join(parent, entry)
                if os.path.abspath(full) in keep_abs or _pinned(full, live_locs):
                    dirs.remove(entry)  # never descend into a pinned tree
                    continue
                if _newest_mtime(full) >= cutoff:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                dirs.remove(entry)
                deleted.append(full)
    return sorted(set(deleted))


def vacuum_generations(
    spark, root: str, live_dir: str, older_than_sec: float
) -> list[str]:
    """Generation-directory retention: under `root` (one artifact's
    roll-forward home, e.g. .../gens/), delete superseded generation
    subdirectories older than `older_than_sec`, ALWAYS keeping
    `live_dir` plus its `_tombstones` sibling (the delete-verb
    side-table travels with its generation) and anything the catalog
    serves. `live_dir` must exist under `root` — refusing to vacuum
    around a dangling live pointer is the crash-window pin: if the
    roll-forward's pointer flip has not landed, nothing is deleted.
    """
    import time

    root_abs = os.path.abspath(root)
    live_abs = os.path.abspath(live_dir)
    if not live_abs.startswith(root_abs + os.sep):
        raise ValueError(
            f"vacuum_generations: live dir {live_dir!r} is not under {root!r}"
        )
    if not os.path.isdir(live_abs):
        raise ValueError(
            f"vacuum_generations: live dir {live_dir!r} does not exist — "
            "refusing to vacuum around a dangling live pointer"
        )
    cutoff = time.time() - older_than_sec
    live_locs = _catalog_locations(spark)
    protected = {live_abs, live_abs.rstrip(os.sep) + "_tombstones"}
    deleted: list[str] = []
    for entry in sorted(os.listdir(root_abs)):
        full = os.path.join(root_abs, entry)
        if not os.path.isdir(full):
            continue
        if os.path.abspath(full) in protected or _pinned(full, live_locs):
            continue
        if _newest_mtime(full) >= cutoff:
            continue
        shutil.rmtree(full, ignore_errors=True)
        deleted.append(full)
    return deleted
