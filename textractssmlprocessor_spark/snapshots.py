"""Write-audit-publish snapshot commits over plain parquet.

SURVEY §1.3/§4 target an Iceberg lakehouse; this sandbox has no catalog
jar, so jobs/iceberg.py ships the swap as deployment CONFIG. This module
closes the remaining semantic gap in code: the core transactional
behaviors Iceberg provides — atomic publish, snapshot-isolated readers,
idempotent re-commit, time travel, rollback, and snapshot expiry with
safe data-file GC — implemented over any POSIX-rename filesystem with
zero dependencies beyond Spark's parquet writer. It is the same commit
protocol Iceberg/Delta use at their core (immutable data files + an
atomically published manifest naming the live set), scoped to one table
and one manifest level.

Layout under a table root:

    <table>/data/<snapshot_id>/part-*.parquet   immutable data files
    <table>/_manifests/v%012d.json              one manifest per version

A manifest names the COMPLETE live file set for its version (relative
paths, so the table relocates with a plain copy), its parent version,
the op, and the Spark schema JSON (so an empty snapshot still reads with
the right schema). Version numbers are claimed atomically: the manifest
body is written to a private tmp file and ``os.link``ed to the version
path — link fails with EEXIST if a concurrent committer claimed the
version first, and the loser REBASES (recomputes the parent file set)
and retries at the next version. Readers resolve the latest (or a
pinned) version and read exactly the named files; a concurrent commit
can never change the file set under them because data files are
immutable and manifests are never rewritten.

Scale shape: commit cost is one manifest write — O(live files) JSON,
kilobytes-to-megabytes — independent of data volume; reads list files
from the manifest, never from a directory scan (the object-store
LIST-consistency trap this protocol exists to avoid). At real lakehouse
scale you would shard the manifest (Iceberg's manifest-list level); the
single-level variant here is honest about that bound in
``commit``'s docstring.

Idempotency contract: ``snapshot_id`` is the unit. A re-run of a failed
or duplicated job with the same snapshot_id either finds it already
published (O(1) marker check — returns that version, writes nothing) or
stages under a fresh unique-suffixed data dir and publishes. The
publish itself runs under an ``flock`` of the id's marker file, so even
two committers of the same snapshot_id racing in the same instant
serialize: the loser blocks through the winner's (fast, metadata-only)
publish, then reads the winner's version out of the marker — one
version per snapshot_id, guaranteed, with crash safety for free (the
OS releases a dead holder's flock, and an empty marker left by a crash
just sends the next attempt through the history-scan fallback).
Crashed or duplicate-loser attempts leave orphaned staging dirs that no
manifest references — ``orphan_dirs`` lists them for operator-scheduled
deletion; they are never reclaimed in place, so a published manifest's
files can never be rewritten underneath it.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import re
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, "v%012d.json" % version)


class SnapshotConflict(RuntimeError):
    """The table advanced past ``require_parent`` during a commit — the
    caller's input snapshot is stale; re-read and retry."""


def _safe_name(snapshot_id: str) -> str:
    """Filesystem-safe rendering of a snapshot_id, used for BOTH the
    marker file and the staging dir: ids that are not safe filenames
    (path separators — 'a/b' would nest and '..' would traverse — or
    leading dots) hash to a fixed-width name."""
    if re.fullmatch(r"[A-Za-z0-9_-][A-Za-z0-9._-]{0,79}", snapshot_id):
        return snapshot_id
    return "x" + hashlib.md5(snapshot_id.encode("utf-8")).hexdigest()


def _id_marker_path(table: str, snapshot_id: str) -> str:
    """O(1) idempotency index: one marker file per committed snapshot_id
    holding its version, so commit/rollback replays don't JSON-parse
    every manifest (the full-history scan remains the fallback for a
    crash between publish and marker write). The marker file doubles as
    the per-id publish LOCK (flock) — see ``_id_lock``."""
    return os.path.join(table, _MANIFEST_DIR, ".ids", _safe_name(snapshot_id))


def _marker_peek(table: str, snapshot_id: str) -> int | None:
    """Lock-free O(1) fast path: the committed version if the marker
    exists and parses, else None (which only means 'not via marker' —
    the authoritative check is the in-lock ``_resolve_committed_locked``,
    whose history scan also covers a crash between publish and marker
    write)."""
    try:
        with open(_id_marker_path(table, snapshot_id), encoding="utf-8") as f:
            return int(f.read())
    except (FileNotFoundError, ValueError):
        return None


def _resolve_committed_locked(fd: int, table: str, snapshot_id: str) -> int | None:
    """Authoritative committed-version check, called with the id's flock
    held: marker content first, then ONE full history scan (backfilling
    the marker so the next replay is O(1)). The scan is O(versions) of
    driver JSON parse — acceptable once per fresh id under the lock, and
    the reason the lock-free path above never scans."""
    done = _marker_version(fd)
    if done is not None:
        return done
    for m in history(table):
        if m["snapshot_id"] == snapshot_id:
            _marker_write_locked(fd, m["version"])
            return m["version"]
    return None


def _marker_version(fd: int) -> int | None:
    """Parse the version out of an (open) marker file, None if empty or
    torn (a crash between publish and marker write leaves it empty; the
    history scan is the fallback)."""
    try:
        return int(os.pread(fd, 64, 0))
    except ValueError:
        return None


def _id_lock(table: str, snapshot_id: str, timeout: float = 600.0) -> int:
    """Open-or-create the id's marker file and take an exclusive flock
    on it; returns the locked fd (caller closes, which releases). The
    lock only ever spans a publish loop — metadata-only, no data I/O —
    so contention is milliseconds; the timeout is a deadlock backstop,
    not a tuning knob. Crash-safe: the OS drops a dead holder's lock."""
    path = _id_marker_path(table, snapshot_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    deadline = time.monotonic() + timeout
    while True:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return fd
        except BlockingIOError:
            if time.monotonic() >= deadline:
                os.close(fd)
                raise RuntimeError(
                    f"timed out waiting for the publish lock on "
                    f"snapshot_id {snapshot_id!r}"
                )
            time.sleep(0.02)


def _marker_write_locked(fd: int, version: int) -> None:
    """Record the committed version in the (flock-held) marker fd."""
    os.ftruncate(fd, 0)
    os.pwrite(fd, str(version).encode(), 0)
    os.fsync(fd)


def _versions(table: str) -> list[int]:
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(table: str) -> int:
    """Latest committed version, 0 if the table has no snapshot yet."""
    vs = _versions(table)
    return vs[-1] if vs else 0


def _load_manifest(table: str, version: int) -> dict[str, Any]:
    with open(_manifest_path(table, version), encoding="utf-8") as f:
        return json.load(f)


def history(table: str) -> list[dict[str, Any]]:
    """All committed manifests, oldest first (time-travel index)."""
    return [_load_manifest(table, v) for v in _versions(table)]


def snapshot_files(table: str, version: int | None = None) -> list[str]:
    """Absolute data-file paths live at ``version`` (default: latest)."""
    v = current_version(table) if version is None else version
    if v == 0:
        raise ValueError(f"{table!r} has no committed snapshot")
    m = _load_manifest(table, v)
    return [os.path.join(table, rel) for rel in m["files"]]


def read_snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot-isolated read: the file set is fixed by the manifest at
    plan time, so concurrent commits (including overwrites) cannot change
    or corrupt this DataFrame's data. ``version`` pins time travel."""
    v = current_version(table) if version is None else version
    if v == 0:
        raise ValueError(f"{table!r} has no committed snapshot")
    m = _load_manifest(table, v)
    schema = StructType.fromJson(json.loads(m["schema"]))
    files = [os.path.join(table, rel) for rel in m["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def _publish(table: str, manifest: dict[str, Any]) -> int:
    """Claim the next version atomically; on a lost race, the caller
    rebases. Returns the committed version. The tmp body is
    uuid-suffixed so concurrent committers (any ids) can never share —
    and truncate — one tmp inode another already linked live."""
    mdir = os.path.join(table, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    version = manifest["version"]
    tmp = os.path.join(mdir, f".v{version}.{uuid.uuid4().hex}.tmp")
    body = json.dumps(manifest, sort_keys=True)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(body)
        f.flush()
        os.fsync(f.fileno())
    try:
        # link = atomic claim WITH full content (a reader can never see a
        # half-written manifest; rename would silently clobber a winner)
        os.link(tmp, _manifest_path(table, version))
    finally:
        os.unlink(tmp)
    # fsync the directory so the publish survives power loss (the
    # manifest BODY was fsynced above; without this the dirent itself
    # can be lost and a committed snapshot silently vanish — data-file
    # durability is the parquet writer's filesystem's concern, see
    # commit())
    dfd = os.open(mdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return version


def commit(
    df: DataFrame,
    table: str,
    snapshot_id: str,
    mode: str = "append",
    max_retries: int = 20,
    require_parent: int | None = None,
) -> int:
    """Commit ``df`` as one atomic snapshot; returns the version.

    ``require_parent``: raise ``SnapshotConflict`` instead of rebasing
    if the table's head is no longer this version at publish time — for
    read-modify-write callers (``compact``) whose rewrite is only valid
    against the snapshot they read (a plain overwrite rebase would
    silently drop rows a concurrent append landed in between).

    ``mode``: "append" unions the parent's live set with the new files;
    "overwrite" replaces it. Idempotent on ``snapshot_id``: if a manifest
    with this id is already published the call is a no-op returning its
    version (O(1) marker fast path), and the publish loop itself runs
    under an flock of the id's marker file, so even two CONCURRENT
    duplicates of the same job serialize and converge on ONE version
    (the loser blocks through the winner's metadata-only publish, then
    reads the version from the marker; its staged files become an
    orphan dir, listable via ``orphan_dirs`` — each attempt stages under
    a unique suffix, so no attempt can clobber files a published
    manifest names). Committers of DIFFERENT ids don't contend on the
    lock; they race on the version file, and losers rebase (append
    re-reads the new parent's file set; overwrite is declared
    last-writer-wins) and retry. Durability split: the manifest body
    and dirent are fsynced here; DATA-file durability belongs to the
    parquet writer's filesystem (object stores are durable on PUT;
    plain disks should mount with barriers) — the protocol never claims
    a version whose data it did not finish writing. Single-level
    manifests bound this table at ~10^6 live files (a ~100 MB JSON) —
    compact with an ``overwrite`` rewrite, or move to Iceberg
    (jobs/iceberg.py) past that."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown commit mode: {mode!r}")
    # lock-free O(1) replay fast path; a crash-after-publish replay that
    # misses here just stages once more and is caught by the in-lock scan
    done = _marker_peek(table, snapshot_id)
    if done is not None:
        return done
    staging_rel = os.path.join(
        _DATA_DIR, f"{_safe_name(snapshot_id)}.{uuid.uuid4().hex[:8]}"
    )
    staging = os.path.join(table, staging_rel)
    df.write.mode("overwrite").parquet(staging)
    new_files = sorted(
        os.path.join(staging_rel, name)
        for name in os.listdir(staging)
        if name.endswith(".parquet")
    )
    schema_json = df.schema.json()
    fd = _id_lock(table, snapshot_id)
    try:
        # authoritative duplicate check, race-free under the lock: a
        # winner's version is in the marker; a crashed winner (published,
        # no marker) shows up in the one in-lock history scan
        done = _resolve_committed_locked(fd, table, snapshot_id)
        if done is not None:
            return done  # a duplicate won; our staging dir is an orphan
        for _ in range(max_retries):
            parent = current_version(table)
            if require_parent is not None and parent != require_parent:
                raise SnapshotConflict(
                    f"table advanced to v{parent} past required parent "
                    f"v{require_parent} during commit {snapshot_id!r}"
                )
            if mode == "append" and parent:
                parent_files = _load_manifest(table, parent)["files"]
                files = sorted(set(parent_files) | set(new_files))
            else:
                files = new_files
            manifest = {
                "version": parent + 1,
                "parent": parent,
                "snapshot_id": snapshot_id,
                "op": mode,
                "files": files,
                "schema": schema_json,
            }
            try:
                version = _publish(table, manifest)
            except FileExistsError:
                continue  # lost the race to ANOTHER id: rebase, retry
            _marker_write_locked(fd, version)
            return version
        raise RuntimeError(
            f"commit {snapshot_id!r} lost the publish race "
            f"{max_retries} times"
        )
    finally:
        os.close(fd)  # releases the flock


def rollback(table: str, to_version: int, snapshot_id: str, max_retries: int = 20) -> int:
    """Publish a NEW version whose live set is ``to_version``'s (history
    is append-only — a rollback never deletes manifests or data).
    Idempotent on ``snapshot_id`` and bounded like ``commit``. Do not run
    concurrently with ``expire_snapshots`` (see its docstring)."""
    # idempotency check BEFORE loading the target: a replay of an
    # already-committed rollback must return its version even after the
    # target manifest itself has been expired
    done = _marker_peek(table, snapshot_id)
    if done is not None:
        return done
    fd = _id_lock(table, snapshot_id)
    try:
        done = _resolve_committed_locked(fd, table, snapshot_id)
        if done is not None:
            return done
        target = _load_manifest(table, to_version)
        for _ in range(max_retries):
            parent = current_version(table)
            manifest = {
                "version": parent + 1,
                "parent": parent,
                "snapshot_id": snapshot_id,
                "op": f"rollback:{to_version}",
                "files": target["files"],
                "schema": target["schema"],
            }
            try:
                version = _publish(table, manifest)
            except FileExistsError:
                continue
            _marker_write_locked(fd, version)
            return version
        raise RuntimeError(
            f"rollback {snapshot_id!r} lost the publish race "
            f"{max_retries} times"
        )
    finally:
        os.close(fd)


def expire_snapshots(table: str, keep_last: int = 1) -> int:
    """Drop all but the newest ``keep_last`` manifests and delete data
    files no retained version references. Returns deleted-file count.

    Safe GC rule: a file is deleted only if some EXPIRED manifest
    references it AND no retained manifest does — never by directory
    scan, so an in-flight committer's staged-but-unpublished files are
    untouched (its publish will still win or rebase normally). Expired
    MANIFESTS are unlinked before their data files, so a crash mid-GC
    leaves only unreferenced orphan files, never a manifest naming
    deleted data. This is a MAINTENANCE op with the standard lakehouse
    contract: run it single-writer, and not concurrently with a
    ``rollback`` targeting (or a reader pinned to) a version older than
    the retained window — expiry deletes exactly the data those depend
    on (same caveat as Iceberg's expire_snapshots)."""
    vs = _versions(table)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if len(vs) <= keep_last:
        return 0
    expired, retained = vs[:-keep_last], vs[-keep_last:]
    live: set[str] = set()
    for v in retained:
        live.update(_load_manifest(table, v)["files"])
    dead: set[str] = set()
    for v in expired:
        dead.update(f for f in _load_manifest(table, v)["files"] if f not in live)
    for v in expired:
        # marker first: a surviving marker for a deleted manifest would
        # make a replay of that snapshot_id "succeed" at a dead version
        marker = _id_marker_path(table, _load_manifest(table, v)["snapshot_id"])
        if os.path.exists(marker):
            os.unlink(marker)
        os.unlink(_manifest_path(table, v))
    for rel in dead:
        path = os.path.join(table, rel)
        if os.path.exists(path):
            os.unlink(path)
        parent = os.path.dirname(path)
        if os.path.isdir(parent) and not os.listdir(parent):
            shutil.rmtree(parent)
    return len(dead)


def added_files(table: str, since_version: int, version: int | None = None) -> list[str]:
    """Relative paths of data files live at ``version`` (default latest)
    but NOT at ``since_version`` — the incremental-consumer diff. On an
    append-only table (e.g. the streaming snapshot sink) this is exact
    change capture: precisely the rows committed after ``since_version``.
    After an overwrite it still lists only NEW files (rewritten rows
    reappear; deletions are invisible) — additions-only semantics, the
    same contract as Iceberg's incremental append scan.
    ``since_version=0`` diffs against the empty table (full snapshot)."""
    v = current_version(table) if version is None else version
    if v == 0:
        raise ValueError(f"{table!r} has no committed snapshot")
    now = set(_load_manifest(table, v)["files"])
    if since_version:
        try:
            before = set(_load_manifest(table, since_version)["files"])
        except FileNotFoundError:
            raise ValueError(
                f"since_version {since_version} has been expired from "
                f"{table!r}: the incremental window is gone — full-resync "
                f"from since_version=0 (and size expire_snapshots' "
                f"keep_last to cover the slowest consumer)"
            ) from None
    else:
        before = set()
    return sorted(now - before)


def read_changes(
    spark: SparkSession,
    table: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Incremental read: rows in files added after ``since_version`` (see
    ``added_files`` for the exact additions-only contract). The consumer
    loop is: remember the version you processed, call this with it, then
    advance — no directory listing, no reprocessing, snapshot-isolated
    like read_snapshot."""
    v = current_version(table) if version is None else version
    files = added_files(table, since_version, v)
    m = _load_manifest(table, v)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table, rel) for rel in files]
    )


def compact(
    spark: SparkSession,
    table: str,
    snapshot_id: str,
    num_files: int = 32,
    max_retries: int = 5,
) -> int:
    """Rewrite the live set into ``num_files`` files as one overwrite
    commit — the small-file compaction a long-running streaming sink
    needs (every micro-batch appends its own files; a month of 5-minute
    batches is ~8k tiny parquets and an 8k-entry manifest). Content is
    preserved exactly; the old files stay referenced by HISTORY versions
    only, so ``expire_snapshots`` reclaims them once the pre-compaction
    versions age out. Idempotent on ``snapshot_id`` like any commit.
    SAFE AGAINST CONCURRENT APPENDS: the rewrite is only valid against
    the snapshot it read, so the overwrite pins ``require_parent`` to
    that version — if the sink landed a batch in between, the publish
    raises instead of silently dropping it, and compaction re-reads the
    new head and retries. Scale: one full-table shuffle-free rewrite
    (coalesce, no repartition) per attempt — run it from maintenance,
    not the ingest path."""
    for _ in range(max_retries):
        head = current_version(table)
        try:
            return commit(
                read_snapshot(spark, table, version=head).coalesce(num_files),
                table,
                snapshot_id,
                mode="overwrite",
                require_parent=head,
            )
        except SnapshotConflict:
            continue  # a concurrent append advanced the head: re-read
    raise RuntimeError(
        f"compact {snapshot_id!r}: table advanced {max_retries} "
        f"consecutive times — quiesce the ingest or raise max_retries"
    )


def orphan_dirs(table: str) -> list[str]:
    """Staging dirs under data/ that NO committed manifest references —
    leftovers of crashed or duplicate-loser commit attempts. Listed, not
    deleted: an IN-FLIGHT committer's staging dir is indistinguishable
    from a crashed one without wall-clock heuristics, so deletion is the
    operator's call (delete when no commits are running — the same
    contract as Iceberg's remove_orphan_files)."""
    data = os.path.join(table, _DATA_DIR)
    if not os.path.isdir(data):
        return []
    referenced = {
        os.path.dirname(rel)
        for v in _versions(table)
        for rel in _load_manifest(table, v)["files"]
    }
    return sorted(
        os.path.join(data, d)
        for d in os.listdir(data)
        if os.path.join(_DATA_DIR, d) not in referenced
    )
