"""Manifest-commit parquet tables: the engine's one offline store.

A plain read-merge-overwrite of a parquet directory lets two
CONCURRENT writers interleave and silently lose one writer's keys,
and a crash mid-overwrite leaves the directory partial — the
reference never has this problem because its merge is an atomic
per-statement ``INSERT … ON CONFLICT (user_id) DO UPDATE``
(`src/pipelines/batch_pipeline.py:221-310`). This module gives every
feature table, warehouse and streaming state table that guarantee
with the standard lake-format answer re-implemented minimally (the
Delta/Iceberg commit protocol, public in both projects' specs):

- **Immutable data, versioned manifests.** Every commit writes its
  full merged snapshot to a fresh ``data/<uuid>/`` directory, then
  publishes it by creating ``_manifests/v{N+1}.json``. Data files are
  never mutated or deleted by writers.
- **Atomic publish.** The manifest file is created with
  ``O_CREAT|O_EXCL`` — on a POSIX filesystem exactly ONE writer can
  create a given version file; the loser sees ``FileExistsError``,
  discards its orphan data directory, re-reads the new snapshot,
  re-merges, and retries (optimistic concurrency — exactly Delta's
  loop). On an object store the same protocol rides a conditional
  put (S3 If-None-Match / GCS x-goog-if-generation-match); the
  POSIX create is the local-filesystem instance of it.
- **Snapshot-isolated readers.** A reader resolves the newest
  committed manifest once and reads ONLY that manifest's data
  directory — a crash mid-write (data written, manifest not) is
  invisible, and concurrent commits never tear a read.

Scale posture: the protocol adds no Spark-side work — one manifest
file per commit on top of the merge itself (the flat upsert rewrites
the full snapshot; at 100 TB use the partition-scoped merge so each
commit's data dir holds only touched partitions, or swap the whole
module for Delta — the call-site contract is identical). ``vacuum``
reclaims data directories referenced only by pruned manifests, plus
— behind an explicit grace window — crash-orphaned dirs no manifest
ever referenced.

Three private pieces carry every committing verb:

- **The leaf writer** (``_land``) is the only code that writes data
  leaves. Given rows, the partition column (None: the flat table's one
  leaf ``""``) and the leaf keys (or none: the write learns them), it
  re-keys rows to their leaf dirs, writes them in one job, refuses a
  leaf that produced no dir, counts each leaf (the write's
  Observation, or one read-back aggregate that also records stats and
  Bloom bits and yields learnt keys), runs CHECK constraints on the
  written bytes and compares the counts with what the verb expected.
- **The leaf-map codec** (``_leaves`` / ``_encode``) is the only code
  that knows the three manifest formats (FORMAT.md §3). ``_leaves``
  decodes any version into ``{pkey: entry}``; an unpartitioned table
  is the one-leaf map ``{"": entry}``. ``_encode`` turns the tip's map
  plus a verb's ``(updates, removed)`` back into a format-1 snapshot,
  a format-2 full map or a format-3 delta.
- **The commit loop** (``_commit``) owns the optimistic retry: it
  resolves the tip (retrying vacuum races), gates it on the writer
  protocol, skips and stamps ``txn`` watermarks, carries the
  table-level fields forward, publishes, rolls up checkpoints,
  removes a losing attempt's dirs and gives up after ``max_retries``
  races. Each verb supplies only its attempt body.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from feature_store_spark.operators.windows import latest_per_key
from feature_store_spark.session import local_frame

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
# Delta-style checkpointing: every CHECKPOINT_INTERVAL-th commit also
# writes a full partition-map rollup, so delta manifests (which carry
# only TOUCHED entries — commit payload flat in partition count) never
# chain back more than the interval at read time.
CHECKPOINT_INTERVAL = 16
_POINTER = "_last_checkpoint"
# \d{8,}: _manifest_path zero-pads to 8 digits but versions past
# 99,999,999 format wider — an exact {8} would make them invisible to
# _list_versions and wedge every later writer on the same version
_MANIFEST_RE = re.compile(r"v(\d{8,})\.json")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, MANIFEST_DIR, f"v{version:08d}.json")


def _ckpt_path(root: str, version: int) -> str:
    return os.path.join(root, MANIFEST_DIR, f"ckpt-v{version:08d}.json")


def _pointer_path(root: str) -> str:
    return os.path.join(root, MANIFEST_DIR, _POINTER)


def _read_pointer(root: str) -> int | None:
    """Last tip a committer recorded, or None. Purely a HINT — it may
    lag the true tip (writer crashed between manifest link and pointer
    write); latest_version probes forward from it and falls back to a
    full listing when the hinted manifest is gone. ANY malformed
    content (non-JSON, wrong shape, non-numeric tip) degrades to None,
    never an exception. (JSONDecodeError subclasses ValueError.)"""
    try:
        with open(_pointer_path(root)) as f:
            return int(json.load(f)["tip"])
    except (FileNotFoundError, ValueError, KeyError, TypeError):
        return None


def _write_pointer(root: str, tip: int) -> None:
    """Best-effort monotonic tip hint, atomically replaced. Losing the
    race (or the write) is harmless: the pointer is advisory and every
    reader tolerates a stale or missing one. Deliberately LOCAL-ONLY
    (raw rename, not the ``put_if_absent`` backend seam): the hint is
    a mutable last-write-wins file, which conditional-create cannot
    express — an object-store deployment simply skips the hint and
    rides the listing fallback (or lists with a prefix marker), while
    manifests and rollups stay on the conditional-put seam."""
    cur = _read_pointer(root)
    if cur is not None and cur >= tip:
        return
    tmp = f"{_pointer_path(root)}.w{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            json.dump({"tip": tip}, f)
        os.replace(tmp, _pointer_path(root))
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _list_versions(root: str) -> list[int]:
    """All committed version numbers on disk, ascending — the full
    manifest-scan used by vacuum and as latest_version's fallback."""
    d = os.path.join(root, MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(m.group(1))
        for f in os.listdir(d)
        if (m := _MANIFEST_RE.fullmatch(f))
    )


def latest_version(root: str) -> int:
    """Newest committed version; 0 means no committed table.

    O(1)-ish: reads the ``_last_checkpoint`` tip hint and probes
    FORWARD until the first missing manifest (commits are contiguous
    at creation, and vacuum's keep-newest rule means a version that
    exists with its successor missing IS the tip — any hole sits
    strictly below the kept window). Falls back to the full directory
    listing only when the hinted manifest itself was vacuumed, i.e.
    the hint predates every retained version."""
    ptr = _read_pointer(root)
    if ptr and os.path.exists(_manifest_path(root, ptr)):
        v = ptr
        while os.path.exists(_manifest_path(root, v + 1)):
            v += 1
        return v
    return max(_list_versions(root), default=0)


# ---------------------------------------------------------------------------
# Reader/writer protocol (Delta minReaderVersion / table-features analogue)
# ---------------------------------------------------------------------------
#
# A manifest whose correct interpretation requires understanding a
# table feature carries it in ``protocol: {reader: [...], writer:
# [...]}``. READER features change what bytes-on-disk MEAN (a pre-
# column-mapping reader of a renamed table would silently serve
# physical column names); WRITER features change what a commit must
# preserve (a writer unaware of CHECK constraints would publish
# violating rows). An engine build that sees an unknown reader
# feature must refuse to read; an unknown writer feature must refuse
# to write but may still read — exactly Delta's split. Features are
# stamped automatically at commit from the manifest's own fields
# (no drift possible) and carried forward verbatim so a FUTURE
# feature this build doesn't know still reaches the guard.

READER_FEATURES = frozenset(
    {"column_mapping", "absolute_paths", "deletion_vectors", "extra_dirs"}
)
WRITER_FEATURES = READER_FEATURES | frozenset(
    {"constraints", "app_versions", "retired_physical"}
)


def _protocol(m: dict | None) -> dict:
    return (m or {}).get("protocol") or {}


def _check_read_protocol(m: dict, where: str = "") -> dict:
    unknown = set(_protocol(m).get("reader") or []) - READER_FEATURES
    if unknown:
        raise ValueError(
            f"cannot READ {where or 'this table'}: its manifest "
            f"requires reader feature(s) {sorted(unknown)!r} this "
            "engine build does not implement — reading anyway would "
            "silently misinterpret the data (upgrade the engine)"
        )
    return m


def _check_write_protocol(m: dict | None, where: str = "") -> None:
    unknown = set(_protocol(m).get("writer") or []) - WRITER_FEATURES
    if unknown:
        raise ValueError(
            f"cannot WRITE {where or 'this table'}: its manifest "
            f"requires writer feature(s) {sorted(unknown)!r} this "
            "engine build does not implement — committing anyway "
            "would break the invariants those features maintain "
            "(the table stays readable; upgrade the engine to write)"
        )


def _stamp_protocol(manifest: dict) -> dict:
    """Derive this commit's protocol from the manifest's own fields,
    unioned with any carried-forward (possibly unknown) features —
    features are never auto-dropped, matching Delta."""
    prior = _protocol(manifest)
    r = set(prior.get("reader") or [])
    w = set(prior.get("writer") or [])
    if manifest.get("physical"):
        r.add("column_mapping")
    if manifest.get("retired_physical"):
        w.add("retired_physical")
    if manifest.get("constraints"):
        w.add("constraints")
    if manifest.get("app_versions"):
        w.add("app_versions")
    entry_like = [manifest] + [
        e
        for part_map in (
            manifest.get("partitions") or {},
            manifest.get("updates") or {},
        )
        for e in part_map.values()
        if isinstance(e, dict)
    ]
    if any(e.get("dv") for e in entry_like):
        # a reader unaware of deletion vectors would serve deleted rows
        r.add("deletion_vectors")
    if any(e.get("extra_dirs") for e in entry_like):
        # a reader unaware of merge-on-read appended dirs would DROP
        # the updated rows (and serve their stale DV'd originals only
        # if it also ignored the DV) — refuse instead
        r.add("extra_dirs")
    w |= r & READER_FEATURES  # every known reader feature binds writers too
    if r or w:
        manifest["protocol"] = {"reader": sorted(r), "writer": sorted(w)}
    return manifest


def read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return _check_read_protocol(
            json.load(f), f"{root!r} (version {version})"
        )


# ---------------------------------------------------------------------------
# Leaf-map codec: the only code that knows the three manifest formats
# ---------------------------------------------------------------------------


def _is_partitioned(m: dict) -> bool:
    """Partition-scoped layout in either encoding: format 2 (full
    ``partitions`` map) or format 3 (delta ``updates``)."""
    return "partitions" in m or "updates" in m


def _pcol(m: dict | None) -> str | None:
    return m["partition_col"] if m is not None and _is_partitioned(m) else None


def _leaves(root: str, version: int, m: dict | None) -> dict:
    """``{pkey: entry}`` of ``version`` (manifest ``m``) in every
    format. Format 1 is the one-leaf map ``{"": entry}`` (the
    manifest's ``rows``, ``dv`` and ``extra_dirs`` folded into the
    entry); format 2 carries the map; format 3 resolves through the
    checkpoint chain. No manifest (empty table) is no leaves."""
    if m is None:
        return {}
    if "data_dir" in m:
        e = {"dir": m["data_dir"], "rows": m.get("rows")}
        e.update({k: m[k] for k in ("dv", "extra_dirs") if m.get(k)})
        return {"": e}
    if "partitions" in m:
        return dict(m["partitions"])
    return resolve_partitions(root, version)


def _encode(
    leaves: dict, pcol: str | None, updates: dict, removed
) -> tuple[dict, dict]:
    """(manifest body, new leaf map) for a commit that takes the tip's
    ``leaves``, drops ``removed`` and adds ``updates`` — or, with
    ``removed`` None, republishes ``updates`` as the whole map. An
    unpartitioned table (``pcol`` None) writes format 1; a full
    republish writes a format-2 map; anything else a format-3 delta
    carrying only what changed."""
    if removed is None:
        parts = dict(updates)
    else:
        parts = {pk: e for pk, e in leaves.items() if pk not in removed}
        parts.update(updates)
    if pcol is None:
        (e,) = parts.values()
        body = {"data_dir": e["dir"]}
        body.update({k: e[k] for k in ("dv", "extra_dirs") if e.get(k)})
    elif removed is None:
        body = {"partition_col": pcol, "partitions": parts}
    else:
        body = {
            "partition_col": pcol,
            "updates": updates,
            "removed": sorted(removed),
        }
    return body, parts


def resolve_partitions(root: str, version: int) -> dict:
    """The FULL partition → {dir, rows} map at ``version``. Format-2
    manifests carry it verbatim; format-3 deltas carry only touched
    entries, so resolution walks the base chain back to the nearest
    full stop — a checkpoint rollup or a format-2 manifest — and
    replays the deltas forward. The chain is bounded by
    CHECKPOINT_INTERVAL (committers roll up every interval-th version;
    vacuum checkpoints the oldest kept version before pruning its
    ancestors).

    Concurrent-vacuum safety: a vacuum can delete an ANCESTOR manifest
    mid-walk, but it writes the oldest-kept rollup BEFORE pruning — so
    a broken chain is always rescued by re-walking (the fresh rollup
    stops the walk above the hole). The bounded retry below makes a
    resolution of any RETAINED version immune to the race; a version
    whose OWN manifest is gone (genuinely vacuumed) still raises
    FileNotFoundError, the documented time-travel-too-far signal."""
    for attempt in range(3):
        deltas: list[dict] = []
        v = version
        base: dict = {}
        try:
            while v > 0:
                try:
                    with open(_ckpt_path(root, v)) as f:
                        base = json.load(f)["partitions"]
                        break
                except FileNotFoundError:
                    pass
                m = read_manifest(root, v)
                if "partitions" in m:
                    base = m["partitions"]
                    break
                deltas.append(m)
                v = m["base_version"]
        except FileNotFoundError:
            if v == version or attempt == 2:
                # the requested version itself is gone (vacuumed), or
                # the chain stayed broken across retries — surface it
                raise
            continue
        out = dict(base)
        for m in reversed(deltas):
            for pk in m.get("removed", []):
                out.pop(pk, None)
            out.update(m["updates"])
        return out
    raise AssertionError("unreachable")  # pragma: no cover


def _version_dirs(
    root: str,
    version: int,
    manifest: dict | None = None,
    include_dv: bool = False,
) -> list[str]:
    """Every data directory version ``version`` references: the single
    snapshot dir (unpartitioned, format 1) or one leaf dir per live
    partition of the RESOLVED map (formats 2 and 3).
    ``include_dv=True`` additionally lists referenced deletion-vector
    dirs — the retention/orphan view (vacuum); readers use the default
    data-only view."""
    m = read_manifest(root, version) if manifest is None else manifest
    entries = list(_leaves(root, version, m).values())
    out = []
    for e in entries:
        out.append(e["dir"])
        # merge-on-read appended dirs are DATA — every view needs them
        out.extend(e.get("extra_dirs") or [])
    if include_dv:
        out.extend(e["dv"]["dir"] for e in entries if e.get("dv"))
    return out


def _maybe_checkpoint(
    root: str,
    version: int,
    partitions: dict,
    backend: "LocalLinkBackend | None" = None,
    force: bool = False,
) -> None:
    """Write the full-map rollup for ``version`` when it lands on the
    checkpoint interval (or ``force``, vacuum's pre-prune invariant).
    Idempotent — the content is deterministic for a committed version,
    so the conditional put makes concurrent writers harmless."""
    if version % CHECKPOINT_INTERVAL and not force:
        return
    (backend or _DEFAULT_BACKEND).put_if_absent(
        _ckpt_path(root, version),
        json.dumps({"version": version, "partitions": partitions}),
    )


def _rmdir_if_no_live_children(path: str, root: str, kept: set[str]) -> None:
    """Reclaim a format-2 commit directory once vacuum has pruned its
    last referenced partition leaf: when no SUBDIRECTORY remains (only
    write markers like _SUCCESS) and nothing under it is in ``kept``,
    the whole dir is dead weight. No-ops for format-1 dirs (their
    parent is data/ itself, which always has live siblings kept)."""
    rel = os.path.relpath(path, root)
    if rel in (DATA_DIR, ".", "") or rel in kept:
        return
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return
    if any(os.path.isdir(os.path.join(path, e)) for e in entries):
        return
    shutil.rmtree(path, ignore_errors=True)


def version_at_timestamp(root: str, ts: float | str) -> int:
    """Delta's ``timestampAsOf``: the newest version committed at or
    before ``ts`` (epoch seconds, or an ISO datetime string — naive
    strings are interpreted as UTC, never the box's local zone; commit
    times are ``time.time()`` epochs). Raises when every retained
    version is newer (time travel past the history) or the table has
    no commits. O(retained versions) manifest-JSON reads, no data
    access. Pre-op-tag manifests without ``committed_at`` are skipped
    (their commit time is unknowable)."""
    if isinstance(ts, str):
        import datetime

        dt = datetime.datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        ts = dt.timestamp()
    best = 0
    for v in _list_versions(root):
        try:
            m = read_manifest(root, v)
        except FileNotFoundError:
            continue  # concurrent vacuum
        c = m.get("committed_at")
        if c is not None and c <= ts and v > best:
            best = v
    if best == 0:
        raise ValueError(
            f"no version of {root!r} was committed at or before {ts} "
            "(history vacuumed, table empty, or timestamp too early)"
        )
    return best


def _phys_map(m: dict | None) -> dict:
    """logical → physical column-name mapping of a manifest (Delta
    column-mapping analogue, established by :func:`rename_column`).
    Empty = identity (the pre-rename fast path everywhere)."""
    return (m or {}).get("physical") or {}


def _carry_mapping(m: dict | None) -> dict:
    """The manifest fields every commit must inherit from its base so
    a rename (column mapping), table-level CHECK constraints, txn
    watermarks, and the reader/writer protocol survive subsequent
    writes. Doubles as the WRITE-side protocol gate: every committing
    verb funnels its base manifest through here, so a tip requiring
    an unknown writer feature refuses the write in one place."""
    _check_write_protocol(m)
    out: dict = {}
    proto = _protocol(m)
    if proto:
        out["protocol"] = {
            k: sorted(v) for k, v in proto.items() if v
        }
    phys = _phys_map(m)
    if phys:
        out["physical"] = phys
    cons = _table_constraints(m)
    if cons:
        out["constraints"] = cons
    retired = _retired_physical(m)
    if retired:
        out["retired_physical"] = retired
    appv = _app_versions(m)
    if appv:
        out["app_versions"] = appv
    return out


def _app_versions(m: dict | None) -> dict:
    """Per-application transaction watermarks of a manifest (Delta
    ``txn`` action / ``txnAppId``+``txnVersion`` idempotent-write
    analogue): ``{app_id: last_applied_version}``. A writer passing
    ``txn=(app_id, version)`` is skipped when ``version`` is at or
    below the recorded watermark — exactly-once sinks for at-least-
    once sources (streaming foreachBatch, CDC replay)."""
    return dict((m or {}).get("app_versions") or {})


def _txn_validate(txn) -> tuple[str, int] | None:
    if txn is None:
        return None
    app_id, ver = txn
    if not isinstance(app_id, str) or not app_id:
        raise ValueError(f"txn app_id must be a non-empty string, got {app_id!r}")
    if not isinstance(ver, int):
        raise ValueError(f"txn version must be an int, got {ver!r}")
    return app_id, ver


def _txn_already_applied(m: dict | None, txn) -> bool:
    if txn is None:
        return False
    return _app_versions(m).get(txn[0], 0) >= txn[1]


def _txn_stamp(manifest: dict, txn) -> dict:
    """Record this commit's (app_id, version) watermark on top of the
    carried-forward map (carry happened via ``_carry_mapping``)."""
    if txn is not None:
        appv = dict(manifest.get("app_versions") or {})
        appv[txn[0]] = txn[1]
        manifest["app_versions"] = appv
    return manifest


def _retired_physical(m: dict | None) -> list:
    """Physical column names a ``drop_column`` retired: their bytes
    still exist in old leaves, so re-binding a logical column to one
    would silently resurrect dropped data instead of null-filling."""
    return list((m or {}).get("retired_physical") or [])


def _table_constraints(m: dict | None) -> list:
    """Persisted table-level CHECK constraints of a manifest:
    ``[[name, predicate_sql], ...]`` (JSON round-trips tuples as
    lists)."""
    return list((m or {}).get("constraints") or [])


def _effective_constraints(m: dict | None, per_call) -> list:
    """Table-level constraints + this call's ad-hoc ones, as (name,
    pred) tuples for ``_check_constraints``."""
    out = [tuple(c) for c in _table_constraints(m)]
    out.extend(tuple(c) for c in (per_call or []))
    return out


def _physical_schema(schema: StructType, phys: dict) -> StructType:
    return StructType(
        [
            StructField(
                phys.get(f.name, f.name), f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )


def _read_data(
    spark: SparkSession, schema: StructType, phys: dict, paths
) -> DataFrame:
    """Open data leaves under the LOGICAL schema: files store physical
    column names; the rename to logical is a plain projection Catalyst
    collapses (predicate pushdown still reaches the parquet scan)."""
    if not phys:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.schema(_physical_schema(schema, phys)).parquet(*paths)
    return df.toDF(*[f.name for f in schema.fields])


def _write_physical(df: DataFrame, phys: dict) -> DataFrame:
    """Rename a logical frame's columns to their physical names just
    before a leaf write (extra layout columns like __ptok pass
    through untouched)."""
    ren = {l: p for l, p in phys.items() if l != p and l in df.columns}
    return df.withColumnsRenamed(ren) if ren else df


def _validate_mapping(
    schema: StructType, phys: dict, retired: Sequence[str] = ()
) -> None:
    """No two logical columns may share a physical name — the
    collision arises when schema evolution re-adds a name an earlier
    rename left behind as a physical residue. A physical name a
    ``drop_column`` retired is equally off-limits: old leaves still
    hold its bytes, so re-binding it would resurrect dropped data
    instead of null-filling."""
    names = [phys.get(f.name, f.name) for f in schema.fields]
    if len(set(names)) != len(names):
        dup = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"column mapping collision on physical name(s) {dup!r}: a "
            "new column reuses a physical name an earlier rename still "
            "occupies — pick a different name or rename the survivor "
            "first"
        )
    dead = sorted(set(names) & set(retired))
    if dead:
        raise ValueError(
            f"column mapping collision on RETIRED physical name(s) "
            f"{dead!r}: a dropped column's bytes still live in old "
            "leaves — pick a different name"
        )


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read row-level deletes)
# ---------------------------------------------------------------------------
#
# A leaf entry (or the flat manifest) may carry ``dv: {dir, deleted}``
# — a parquet directory of (__dv_file, __dv_pos) rows naming deleted
# positions inside that leaf's files (``_metadata.file_name`` +
# ``_metadata.row_index``, within-leaf-unique by construction). Reads
# LEFT ANTI-join the broadcast DV per leaf — merge-on-read, Delta's
# deletion-vector / Iceberg's positional-delete shape: a point delete
# commits O(matched rows) instead of rewriting partitions. Every
# REWRITING verb (merge/update/delete-rewrite/compact/upsert) reads
# through the DV and publishes clean leaves, so compaction doubles as
# DV purge; entry ``rows`` always counts LIVE rows, keeping all
# accounting invariants. The protocol guard stamps reader feature
# "deletion_vectors", so a pre-DV reader refuses instead of serving
# deleted rows.
#
# An entry may additionally carry ``extra_dirs: [rel, ...]`` —
# appended data dirs belonging to the same leaf (merge-on-read
# UPDATE: the changed rows' originals enter the DV, their new images
# land in an appended dir — Delta's DV-update RemoveFile+AddFile pair
# in this layout's dir unit). One leaf = base dir ∪ extra dirs read
# as one scan; the DV applies across all of them (file names are
# globally unique). Reader feature "extra_dirs" gates pre-extension
# readers, which would silently drop the updated rows.


def _entry_dirs(root: str, e: dict) -> list[str]:
    """Absolute data dirs of one leaf entry: base + appended extras."""
    return [os.path.join(root, e["dir"])] + [
        os.path.join(root, d) for d in e.get("extra_dirs") or []
    ]


def _scan_leaf_with_pos(
    spark: SparkSession, schema: StructType, phys: dict, dirs_abs,
    dv_abs: str | None,
) -> DataFrame:
    """One leaf's dirs (base + extras) under the logical schema PLUS
    file/position metadata columns (__dv_file, __dv_pos), with the
    leaf's deletion vector (if any) already anti-joined away. The DV
    writer keeps the helper columns; plain readers drop them."""
    if isinstance(dirs_abs, str):
        dirs_abs = [dirs_abs]
    read_schema = _physical_schema(schema, phys) if phys else schema
    df = spark.read.schema(read_schema).parquet(*dirs_abs).select(
        *[
            F.col(phys.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ],
        F.col("_metadata.file_name").alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    if dv_abs is not None:
        dv = spark.read.schema("__dv_file string, __dv_pos bigint").parquet(
            dv_abs
        )
        df = df.join(F.broadcast(dv), ["__dv_file", "__dv_pos"], "left_anti")
    return df


def _dir_id(path: str) -> str:
    """A data dir's last two path segments (``<uuid>/__ptok=<token>``,
    or ``data/<uuid>``): unique per leaf dir, and free of characters a
    file URI would escape."""
    return "/".join(path.rstrip("/").split("/")[-2:])


def _homed(df: DataFrame, home_of: dict) -> DataFrame:
    """``df``, a plain scan, plus ``__home``: ``home_of`` at the dir id
    of each row's file. An empty ``home_of`` adds no column."""
    if not home_of:
        return df
    file_dir = F.regexp_extract(
        F.col("_metadata.file_path"), r"([^/]+/[^/]+)/[^/]*$", 1
    )
    return df.withColumn("__home", F.try_element_at(
        F.create_map(*[F.lit(x) for kv in home_of.items() for x in kv]),
        file_dir,
    ))


def _read_entries(
    spark: SparkSession,
    schema: StructType,
    phys: dict,
    root: str,
    entries,
    homes: Sequence[str] | None = None,
) -> DataFrame:
    """DV-aware union read of manifest leaf entries (dicts with
    ``dir`` and optional ``dv``). Falls back to the single plain
    columnar read when no entry carries a deletion vector — the
    pre-DV fast path, plan-identical. ``homes`` (a leaf token per
    entry) adds a ``__home`` column: the token of the entry each row
    was read from, known from its file's dir (see ``_land``)."""
    entries = list(entries)
    plain, home_of = [], {}
    for i, e in enumerate(entries):
        if not e.get("dv"):
            # extra dirs without a DV are just more files of the leaf
            for d in [e["dir"]] + list(e.get("extra_dirs") or []):
                plain.append(os.path.join(root, d))
                if homes is not None:
                    home_of[_dir_id(d)] = homes[i]
    dvd = [(i, e) for i, e in enumerate(entries) if e.get("dv")]
    if not dvd:
        if not plain:
            return local_frame(spark, [], schema)
        return _homed(_read_data(spark, schema, phys, plain), home_of)
    parts = []
    if plain:
        parts.append(_homed(_read_data(spark, schema, phys, plain), home_of))
    for i, e in dvd:
        scan = _scan_leaf_with_pos(
            spark,
            schema,
            phys,
            _entry_dirs(root, e),
            os.path.join(root, e["dv"]["dir"]),
        ).drop("__dv_file", "__dv_pos")
        if homes is not None:
            scan = scan.withColumn("__home", F.lit(homes[i]))
        parts.append(scan)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_table(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partition_values: Sequence | None = None,
    where: Sequence | None = None,
    timestamp_as_of: float | str | None = None,
) -> tuple[DataFrame | None, int]:
    """(snapshot, version) pinned to ONE committed manifest — or
    (None, 0) for a table with no commits. Passing ``version`` time-
    travels to that commit (manifests are retained until vacuumed).

    ``partition_values`` (partition-scoped tables only) is MANIFEST-
    LEVEL partition pruning: only the named partitions' leaf dirs are
    listed and scanned — the reader never even stats the other
    leaves, where a WHERE filter would still list every file. This is
    what the partitioned layout is FOR at scale: a point-in-time read
    of one day out of 730 touches 1/730th of the metadata and data.
    Values absent from the snapshot are ignored (an empty selection
    reads as an empty frame under the pinned schema).

    ``where`` — a list of ``(column, op, value)`` triples (ops <, <=,
    >, >=, =, and ``in`` with a list value — the batch point-lookup
    form; triples conjoin) — is DATA SKIPPING: on a partition-scoped
    table, leaf directories whose recorded ``stats_cols`` min/max
    window (or partition-key value, for predicates on the partition
    column) provably cannot match are never listed or scanned, and the
    predicates are ALSO applied as a real filter to the returned frame
    — so the result always equals a full scan + filter regardless of
    stats coverage (leaves without stats for a column are scanned, not
    guessed). On an unpartitioned table ``where`` degrades to the
    plain filter (plus parquet's own row-group skipping)."""
    if timestamp_as_of is not None:
        if version is not None:
            raise ValueError(
                "pass version OR timestamp_as_of, not both"
            )
        version = version_at_timestamp(root, timestamp_as_of)
    for _ in range(5):
        v = latest_version(root) if version is None else version
        if v == 0:
            return None, 0
        try:
            m = read_manifest(root, v)
            break
        except FileNotFoundError:
            if version is not None:
                raise  # explicit time travel to a vacuumed version
            # the resolved tip was superseded AND pruned between the
            # listing and the read (vacuum keeps the newest, so a
            # fresh re-resolution always lands on a live manifest)
            continue
    else:
        raise RuntimeError(
            f"read_table: tip of {root!r} kept moving under concurrent "
            "vacuums; retry"
        )
    schema = StructType.fromJson(m["schema"])
    preds = _validate_where(where, schema) if where else None
    if partition_values is not None and not _is_partitioned(m):
        raise ValueError(
            f"{root!r} is not a partition-scoped manifest table; "
            "partition_values needs the partitioned layout"
        )
    # the read is a union of leaves (deletion vectors applied per leaf)
    # under the version's pinned schema (older leaves with narrower/
    # missing columns widen/null-fill natively in the parquet reader)
    leaves = _leaves(root, v, m)
    if partition_values is not None:
        wanted = {_pkey(pv) for pv in partition_values}
        leaves = {pk: e for pk, e in leaves.items() if pk in wanted}
    if preds is not None:
        leaves = {
            pk: e
            for pk, e in leaves.items()
            if _entry_may_match(e, pk, preds, _pcol(m))
        }
    df = _read_entries(spark, schema, _phys_map(m), root, leaves.values())
    if preds is not None:
        df = df.filter(_where_expr(preds))
    return df, v


def read_rows(
    root: str,
    version: int,
    key_col: str,
    keys: Sequence | None,
    max_bytes: int | None = None,
) -> list | None:
    """The live rows of committed ``version`` whose ``key_col`` is in
    ``keys`` (every row when ``keys`` is None), read on the driver with
    pyarrow straight from the snapshot's parquet leaves: no Spark job.
    The rows equal ``read_table(...)`` filtered on the keys and
    collected, as a multiset.

    It reads what ``read_table`` reads: the same ``_leaves``, pruned by
    ``_entry_may_match`` on ``key_col in keys`` (stats and Bloom
    filters), each leaf's base and appended dirs, minus the positions
    its deletion vector names, under the pinned schema (physical names
    renamed to logical, missing columns null-filled, narrower types
    widened). INT96 timestamps, Spark's default encoding, are read at
    microsecond unit, since nanoseconds overflow outside 1677-2262.

    Returns None, having read no data, when the pruned leaves' files
    hold more than ``max_bytes``: the caller reads through Spark
    instead."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if keys is not None and len(keys) == 0:
        return []
    m = read_manifest(root, version)
    schema = StructType.fromJson(m["schema"])
    phys = _phys_map(m)
    preds = [] if keys is None else _validate_where(
        [(key_col, "in", list(keys))], schema
    )
    leaves = [
        e for pk, e in _leaves(root, version, m).items()
        if _entry_may_match(e, pk, preds, _pcol(m))
    ]
    leaf_files = [
        (e, [
            os.path.join(d, n)
            for d in _entry_dirs(root, e)
            for n in sorted(os.listdir(d))
            if not n.startswith((".", "_"))  # Spark's hidden-file rule
        ])
        for e in leaves
    ]
    if max_bytes is not None and sum(
        os.path.getsize(p) for _, paths in leaf_files for p in paths
    ) > max_bytes:
        return None
    # one dataset schema, in logical order under physical names: the
    # scan null-fills absent columns and casts narrower ones to it
    arrow = pa.schema([
        pa.field(phys.get(f.name, f.name), af.type)
        for f, af in zip(schema.fields, to_arrow_schema(schema))
    ])
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )

    def scan(paths, **kw):
        return ds.dataset(paths, schema=arrow, format=fmt).to_table(**kw)

    cond = None
    if preds:
        kphys = phys.get(key_col, key_col)
        cond = ds.field(kphys).isin(
            pa.array(preds[0][2], type=arrow.field(kphys).type)
        )
    plain = [p for e, paths in leaf_files if not e.get("dv") for p in paths]
    tables = [scan(plain, filter=cond)] if plain else []
    for e, paths in leaf_files:
        if not e.get("dv"):
            continue
        dv = ds.dataset(os.path.join(root, e["dv"]["dir"])).to_table()
        for p in paths:
            # a DV names row positions within one file, so read the
            # file whole and in order, then drop them before filtering
            t = scan(p, use_threads=False)
            gone = dv.filter(ds.field("__dv_file") == os.path.basename(p))
            live = ~ds.field("__dv_pos").isin(
                gone["__dv_pos"].combine_chunks()
            )
            t = t.append_column(
                "__dv_pos", pa.array(range(t.num_rows), pa.int64())
            ).filter(live if cond is None else live & cond)
            tables.append(t.drop_columns("__dv_pos"))
    table = pa.concat_tables(tables) if tables else arrow.empty_table()
    return ArrowTableToRowsConversion.convert(table, schema)


def _error_is(e: Exception, *conditions: str) -> bool:
    """Whether a Spark error carries one of the error ``conditions``
    (e.g. ``PATH_NOT_FOUND``). Matches the structured condition, not
    the message text — message formats drift across Spark versions;
    only errors without a condition fall back to the message."""
    condition = (
        e.getCondition()
        if hasattr(e, "getCondition")
        else e.getErrorClass()
        if hasattr(e, "getErrorClass")
        else None
    )
    if condition is not None:
        return condition in conditions
    return any(c in str(e) for c in conditions)


def _guard_foreign_store(root: str) -> None:
    """Refuse to treat a plain parquet store as an empty manifest
    table. A root holding a plain store has part files (or hive
    ``col=value`` dirs) directly under it but no ``_manifests/``;
    silently committing a first manifest there would publish a
    snapshot that drops every row the old store holds (and pollute it
    with data/ + _manifests/ subdirs). ``migrate_to_manifest`` is the
    way over."""
    if not os.path.isdir(root):
        return
    for e in os.listdir(root):
        if (
            e.startswith("part-")
            or e.endswith(".parquet")
            or e == "_SUCCESS"
            # a hive-partitioned plain store whose _SUCCESS marker is
            # absent still announces itself through its col=value
            # partition dirs
            or (
                "=" in e
                and not e.startswith(".")
                and os.path.isdir(os.path.join(root, e))
            )
        ):
            raise ValueError(
                f"{root!r} holds a non-transactional parquet store "
                f"(found {e!r}); committing a manifest on top would "
                "silently drop its keys. Migrate it with "
                "txn.migrate_to_manifest into a FRESH root, then retire "
                "the old path"
            )


class LocalLinkBackend:
    """Default commit backend: POSIX atomic create-if-absent-with-
    content. The payload is written to a private temp file first and
    then hard-linked to the version name, so the manifest appears with
    its content already durable — an O_EXCL create followed by the
    payload write would expose an EMPTY manifest to a concurrent
    reader between the two syscalls.

    This class is the SEAM for object stores: the whole commit
    protocol needs exactly one primitive, ``put_if_absent(path,
    payload) -> bool`` — True iff this call created the object. On S3
    that is a conditional put with ``If-None-Match: *`` (412 → False);
    on GCS ``x-goog-if-generation-match: 0``. The optimistic loop
    (:func:`_commit`) is proven against a lossy backend for every
    committing verb in ``tests/test_txn.py`` (fault-injection fake
    failing N puts)."""

    def put_if_absent(self, target: str, payload: str) -> bool:
        os.makedirs(os.path.dirname(target), exist_ok=True)
        tmp = f"{target}.w{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


_DEFAULT_BACKEND = LocalLinkBackend()


def _try_commit(
    root: str,
    version: int,
    manifest: dict,
    backend: LocalLinkBackend | None = None,
) -> bool:
    """Atomically publish ``version``; False when another writer won
    the race for this version number (the optimistic-retry signal) —
    or when the backend's conditional put failed transiently, which
    the caller handles identically: re-read the tip, re-reconcile,
    retry. A successful publish also advances the tip hint (best
    effort — readers tolerate a stale pointer)."""
    import time

    payload = json.dumps(
        {
            "version": version,
            "committed_at": time.time(),
            **_stamp_protocol(manifest),
        }
    )
    ok = (backend or _DEFAULT_BACKEND).put_if_absent(
        _manifest_path(root, version), payload
    )
    if ok:
        _write_pointer(root, version)
    return ok


# ---------------------------------------------------------------------------
# The optimistic commit loop every committing verb runs on
# ---------------------------------------------------------------------------


class _StaleRead(Exception):
    """Internal: a written row count disagrees with the accounting
    pass — the tip moved between the reads; retry."""


class _Commit(NamedTuple):
    """One attempt's publishable change (see :func:`_commit`)."""

    meta: dict  # "op" + table-level fields it sets; None drops a carried one
    pcol: str | None  # the new version's partition column; None = flat
    updates: dict  # {pkey: entry} written or re-pointed ("" = flat leaf)
    removed: list | None  # pkeys dropped; None = updates is the full map
    done: Callable  # (new version, rows) -> the verb's return value
    reuse: bool = False  # the written dirs stay valid on a newer tip


def _discard(root: str, written: list) -> None:
    for d in written:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    written.clear()


def _commit(
    root: str,
    verb: str,
    attempt: Callable,
    max_retries: int,
    backend: LocalLinkBackend | None,
    txn: tuple[str, int] | None = None,
    skipped: Callable | None = None,
    empty_ok: bool = False,
):
    """Run ``attempt`` until its change lands as the next version.

    Each round resolves the tip (an empty table raises unless
    ``empty_ok``), passes it through the write-protocol gate
    (``_carry_mapping``), returns ``skipped(v, tip)`` for a ``txn``
    replay at or below the recorded watermark, and calls
    ``attempt(v, tip, leaves, written)`` with the tip's leaf map. The
    attempt appends every dir it writes to ``written`` and returns a
    :class:`_Commit` — or any other value, which is returned without
    committing. The loop encodes the manifest (``_encode``), carries
    the tip's table-level fields under the attempt's ``meta``, stamps
    ``txn``, publishes with ``_try_commit`` and rolls up a checkpoint
    on partitioned tables. A lost race discards ``written`` unless the
    commit is ``reuse``; a vacuum race (a manifest or data dir gone:
    FileNotFoundError, PATH_NOT_FOUND) or a stale recount discards it
    too and retries; any other error discards it and propagates."""
    from pyspark.errors import AnalysisException

    written: list[str] = []
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0 and not empty_ok:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v) if v else None
            carry = _carry_mapping(tip)
            if _txn_already_applied(tip, txn):
                return skipped(v, tip)
            leaves = _leaves(root, v, tip)
            c = attempt(v, tip, leaves, written)
        except BaseException as exc:
            _discard(root, written)
            if isinstance(exc, (FileNotFoundError, _StaleRead)) or (
                # a vacuum deleted a pruned version's data dirs between
                # resolving its manifest and reading them
                isinstance(exc, AnalysisException)
                and _error_is(exc, "PATH_NOT_FOUND")
            ):
                continue
            raise
        if not isinstance(c, _Commit):
            return c
        body, parts = _encode(leaves, c.pcol, c.updates, c.removed)
        rows = sum(e["rows"] for e in parts.values())
        manifest = {
            "base_version": v,
            "rows": rows,
            "schema": tip["schema"] if tip else None,
            **body,
            **carry,
            **c.meta,
        }
        manifest = {k: x for k, x in manifest.items() if x is not None}
        if _try_commit(root, v + 1, _txn_stamp(manifest, txn), backend):
            if c.pcol is not None:
                _maybe_checkpoint(root, v + 1, parts, backend)
            return c.done(v + 1, rows)
        if not c.reuse:
            _discard(root, written)
    _discard(root, written)
    hint = (
        " — contention this hot needs a coordinator or a real lake format"
        if verb.startswith("upsert")
        else ""
    )
    raise RuntimeError(
        f"{verb}: gave up after {max_retries} version races at {root!r}"
        + hint
    )


def _merge_rows(base, updates, keys, order_col: str, evolve: bool):
    """Last-writer-wins merge of ``updates`` into ``base`` per ``keys``
    on ``order_col``, an update beating the store on ties; ``keys``
    None appends every update row. ``base`` None (no table yet) dedupes
    the updates alone; otherwise both sides are reconciled to one
    schema first (``_reconcile_schemas``)."""
    if base is None:
        return updates if keys is None else latest_per_key(
            updates, keys, order_col
        )
    base, updates = _reconcile_schemas(base, updates, evolve)
    if keys is None:
        return base.unionByName(updates, allowMissingColumns=evolve)
    return latest_per_key(
        base.withColumn("__src", F.lit(0)).unionByName(
            updates.withColumn("__src", F.lit(1)),
            allowMissingColumns=evolve,
        ),
        keys,
        order_col,
        tiebreak_col="__src",
    ).drop("__src")


def _write_leaves(root, phys, pcol, rows, written):
    """Write ``rows`` (logical columns, plus ``__ptok`` when ``pcol`` is
    set) to ONE fresh dir, one ``__ptok=<token>`` subdir per partition
    (the unpartitioned leaf is the dir itself). Returns (the dir,
    relative to ``root``; an Observation whose ``rows`` counts the rows
    the write received)."""
    rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
    written.append(rel)
    obs = Observation()
    w = _write_physical(
        rows.observe(obs, F.count(F.lit(1)).alias("rows")), phys
    ).write
    if pcol:
        w = w.partitionBy("__ptok")
    w.parquet(os.path.join(root, rel))
    return rel, obs


def _null_key_error(verb: str, pcol: str) -> ValueError:
    """The refusal of a NULL partition value, which has no leaf to land
    in; ``export_warehouse`` matches on its ``NULL '<col>'``."""
    return ValueError(
        f"{verb}: NULL {pcol!r} values cannot key partitions — fill or "
        "drop them first"
    )


def _partition_keys(rows: DataFrame, pcol: str, verb: str) -> dict:
    """{pkey: typed value} of the ``pcol`` values in ``rows``, sorted by
    key — one distinct collect. Only a merge-mode upsert needs the keys
    before it writes (it reads the touched base leaves); every other
    write learns them from its own read-back (``_land``). A NULL value
    is refused (``_null_key_error``)."""
    vals = [r[0] for r in rows.select(pcol).distinct().collect()]
    if any(x is None for x in vals):
        raise _null_key_error(verb, pcol)
    return dict(sorted((_pkey(x), x) for x in vals))


def _land(
    root: str,
    verb: str,
    phys: dict,
    rows: DataFrame,
    pcol: str | None,
    written: list,
    keys: dict | None = None,
    key_field: StructField | None = None,
    expected: dict | int | None = None,
    stats=(),
    bloom=(),
    checks=(),
) -> dict:
    """Write ``rows`` (logical columns) as fresh leaves and return their
    ``{pkey: entry}`` — the one leaf writer every committing verb uses.

    ``pcol`` None is the flat table, the one leaf ``""``. Otherwise the
    caller passes the leaf ``keys`` ({pkey: typed value}, typed as
    ``key_field``, default the rows' own ``pcol`` field), or none: the
    keys are then LEARNT from the write, with no pass before it. Then,
    in order:

    1. each row gets its leaf's ``__ptok``: given keys by a typed join
       (``_ptok_mapping``), learnt ones by an in-plan token of the
       row's own value (``_ptok_expr``);
    2. one write (``_write_leaves``);
    3. every given leaf that should hold rows must have produced its
       dir;
    4. a ``__home`` column, when ``rows`` carries one, names the token
       of the leaf each row must land in (compaction: the leaf it was
       read from); a row keyed to any other leaf is refused, counted
       by an Observation of the write's input;
    5. per-leaf accounting: an Observation on the write when its count
       is all that is needed — one given leaf, or given leaves whose
       counts the caller already knows, and no ``stats``/``bloom``
       columns — otherwise one read-back aggregate (``_leaf_entries``)
       that also yields each leaf's value and the dir it was read
       from. Learnt keys come from it; a NULL key is refused
       (``_null_key_error``), and leaf dirs and values must match one
       to one (a given key, in its own dir);
    6. the CHECK ``constraints`` on the written bytes, then the
       ``expected`` count, per leaf (a dict) or in total (an int). A
       mismatch raises ``_StaleRead``: the tip moved between the
       caller's accounting and the write. With learnt keys the
       read-back total must also equal the rows the write's input saw.

    A zero-row write with learnt keys returns no leaf."""
    spark = rows.sparkSession
    known = isinstance(expected, dict)
    learnt = pcol is not None and keys is None
    homed = "__home" in rows.columns
    schema = rows.drop("__home").schema
    if pcol is None:
        keys = {"": ""}
    elif learnt:
        rows = rows.withColumn("__ptok", _ptok_expr(schema[pcol]))
    else:
        tok_map = _ptok_mapping(spark, key_field or schema[pcol], keys)
        rows = rows.join(F.broadcast(tok_map), pcol)
    seen = Observation()  # the write's input, when something reads it
    if learnt or homed:
        foreign = F.count_if(
            ~F.coalesce(F.col("__home") == F.col("__ptok"), F.lit(False))
        )
        rows = rows.observe(
            seen, F.count(F.lit(1)).alias("rows"),
            *([foreign.alias("foreign")] if homed else []),
        ).drop("__home")
    rel, obs = _write_leaves(root, phys, pcol, rows, written)
    if learnt:
        dirs = {}
        paths = [
            os.path.join(root, rel, d)
            for d in sorted(os.listdir(os.path.join(root, rel)))
            if d.startswith("__ptok=")
        ]
    else:
        dirs = {
            pk: f"{rel}/__ptok={_ptoken(pk)}" if pcol else rel
            for pk in (expected if known else keys)
        }
        paths = [os.path.join(root, d) for d in dirs.values()]
    missing = sorted(
        pk for pk, d in dirs.items()
        if (not known or expected[pk])
        and not os.path.isdir(os.path.join(root, d))
    )
    if missing:
        raise RuntimeError(
            f"{verb}: partitions {missing!r} produced no leaf — rows would "
            "be lost (a partition value that does not compare equal to "
            "itself, such as a NaN, keys no leaf); not committing"
        )
    if homed and seen.get["foreign"]:
        raise RuntimeError(
            f"{verb}: {seen.get['foreign']} rows key a leaf other than the "
            f"one they were read from (a {pcol!r} value that is not its "
            "leaf's key); not committing"
        )
    want = expected
    if not (stats or bloom or learnt) and (len(keys) == 1 or known):
        # one count: the one leaf's, or the total of the caller's split
        got = int(obs.get["rows"])
        entries = {
            pk: {"dir": d, "rows": expected[pk] if known else got}
            for pk, d in dirs.items()
        }
        if known:
            want = sum(expected.values())
    else:
        read = _leaf_entries(
            _read_data(spark, schema, phys, paths), pcol, rel, stats, bloom
        ) if paths else []
        if any(pk is None for pk, _ in read):
            raise _null_key_error(verb, pcol)
        entries = dict(sorted(read, key=lambda g: g[0]))
        leaf_dirs = {e["dir"] for _, e in read}
        if not len(read) == len(entries) == len(leaf_dirs) or any(
            dirs.get(pk, e["dir"]) != e["dir"] for pk, e in read
        ):
            raise RuntimeError(
                f"{verb}: leaf dirs and partition values do not match one "
                f"to one ({sorted((e['dir'], pk) for pk, e in read)!r}); "
                "not committing"
            )
        for pk, d in dirs.items():  # a given leaf left without rows
            entries.setdefault(pk, {
                "dir": d, "rows": 0, **({"stats": {}} if stats else {}),
                **({"bloom": {}} if bloom else {}),
            })
        got = {pk: e["rows"] for pk, e in entries.items()}
        if not known:
            got = sum(got.values())
    if checks and paths:
        _check_constraints(_read_data(spark, schema, phys, paths), checks)
    if expected is not None and got != want:
        raise _StaleRead(
            f"{verb}: written row counts disagree with the accounting "
            f"(expected {expected!r}, wrote {got})"
        )
    if learnt and got != seen.get["rows"]:
        raise RuntimeError(
            f"{verb}: written row counts disagree with the input (read "
            f"{seen.get['rows']}, wrote {got}); not committing"
        )
    return entries


def _leaf_entries(readback, col, rel: str, stats_fields, bloom_fields):
    """(pkey, entry) per leaf written under ``rel``, off ONE aggregate of
    the columnar ``readback`` grouped by its ``col`` value (None: the
    flat leaf ``""``; a NULL value keys as None) and by the leaf dir
    each row was read from (``rel/__ptok=<token>``; ``rel`` itself
    when flat): live row counts, min/max/null-count per
    ``stats_fields`` column and a Bloom bitmap per ``bloom_fields``
    column — the union of one ``collect_set`` per probe position, each
    bounded by the bitmap size, so the collect is O(leaves × m)
    metadata, never row data. A leaf whose bloom column is all NULL
    records no bitmap for it."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, f in enumerate(stats_fields):
        aggs += [
            F.min(f.name).alias(f"__mn{i}"),
            F.max(f.name).alias(f"__mx{i}"),
            F.count(F.when(F.col(f.name).isNull(), 1)).alias(f"__nl{i}"),
        ]
    for i, f in enumerate(bloom_fields):
        # the guard matters: the canonical form maps a NULL boolean
        # to "False"
        aggs += [
            F.collect_set(F.when(F.col(f.name).isNotNull(), p)).alias(
                f"__bl{i}_{j}"
            )
            for j, p in enumerate(_bloom_pos_exprs(f))
        ]
    tok = F.regexp_extract(
        F.col("_metadata.file_path"), r"__ptok=([^/]*)/[^/]*$", 1
    )
    out = []
    for r in readback.groupBy(
        F.lit("") if col is None else col, tok.alias("__tok")
    ).agg(*aggs).collect():
        stats, bloom = {}, {}
        for i, f in enumerate(stats_fields):
            mn = _stat_encode(r[f"__mn{i}"])
            mx = _stat_encode(r[f"__mx{i}"])
            if (mn is None) != (mx is None):
                continue  # a non-finite float endpoint — unusable
            stats[f.name] = {"min": mn, "max": mx, "nulls": int(r[f"__nl{i}"])}
        for i, f in enumerate(bloom_fields):
            pos = set().union(*(r[f"__bl{i}_{j}"] for j in range(BLOOM_K)))
            if pos:
                bloom[f.name] = _bloom_encode(pos)
        e: dict = {
            "dir": f"{rel}/__ptok={r['__tok']}" if r["__tok"] else rel,
            "rows": int(r["__rows"]),
        }
        if stats_fields:
            e["stats"] = stats
        if bloom_fields:
            e["bloom"] = bloom
        out.append((None if r[0] is None else _pkey(r[0]), e))
    return out


_INTEGRAL_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}


def _normalize_nullability(dt):
    """The same type modulo nullability flags (array containsNull,
    struct field nullable, map valueContainsNull). Two columns that
    differ ONLY in these must not be treated as a schema change — the
    union coerces them losslessly, and raising here would break
    upserts (e.g. F.array() of non-null columns produces
    containsNull=false against a pinned containsNull=true schema)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    if isinstance(dt, ArrayType):
        return ArrayType(_normalize_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _normalize_nullability(dt.keyType),
            _normalize_nullability(dt.valueType),
            True,
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    f.name, _normalize_nullability(f.dataType), True
                )
                for f in dt.fields
            ]
        )
    return dt


def _widen_type(a, b):
    """Widened common type for two non-equal atomic types, or None
    when the pair is not safely widenable (the caller raises). The
    lattice is the lossless-promotion one every lake format's
    type-widening feature uses: byte<short<int<long, float<double,
    byte/short/int→double (long→double is lossy past 2^53 — refused),
    decimal(p,s) pairs grow to cover both precisions and scales."""
    from pyspark.sql.types import DecimalType, DoubleType, LongType

    na, nb = a.typeName(), b.typeName()
    if na in _INTEGRAL_RANK and nb in _INTEGRAL_RANK:
        return a if _INTEGRAL_RANK[na] >= _INTEGRAL_RANK[nb] else b
    if {na, nb} == {"float", "double"}:
        return DoubleType()
    if {na, nb} <= {"byte", "short", "integer", "double", "float"}:
        return DoubleType()
    if na == "decimal" and nb == "decimal":
        scale = max(a.scale, b.scale)
        prec = max(a.precision - a.scale, b.precision - b.scale) + scale
        if prec <= 38:
            return DecimalType(prec, scale)
        return None
    if {na, nb} <= {"decimal", *(_INTEGRAL_RANK)}:
        d = a if na == "decimal" else b
        i = b if na == "decimal" else a
        digits = {"byte": 3, "short": 5, "integer": 10, "long": 19}[
            i.typeName()
        ]
        prec = max(d.precision - d.scale, digits) + d.scale
        if prec <= 38:
            return DecimalType(prec, d.scale)
        return None
    if {na, nb} == {"date", "timestamp"}:
        from pyspark.sql.types import TimestampType

        return TimestampType()
    return None


def _reconcile_schemas(
    base: DataFrame, updates: DataFrame, allow_evolution: bool
) -> tuple[DataFrame, DataFrame]:
    """Pre-union schema reconciliation with EXPLICIT widening.
    Without this, Spark's set-operation coercion silently resolves
    int-vs-string to string (exactly the accidental-retype failure the
    evolution flag gates); with it, a widenable pair (int→long,
    float→double, decimal growth) is cast on BOTH sides before the
    union when evolution is on, and every other mismatch — or any
    mismatch with evolution off — raises a targeted error naming the
    column and types."""
    bt = {f.name: f.dataType for f in base.schema.fields}
    ut = {f.name: f.dataType for f in updates.schema.fields}
    casts: dict[str, object] = {}
    for name in bt.keys() & ut.keys():
        if _normalize_nullability(bt[name]) == _normalize_nullability(
            ut[name]
        ):
            continue
        widened = _widen_type(bt[name], ut[name]) if allow_evolution else None
        if widened is None:
            raise ValueError(
                f"upsert_manifest: column {name!r} is "
                f"{bt[name].simpleString()} in the table but "
                f"{ut[name].simpleString()} in the updates — "
                + (
                    "not a safe widening; cast explicitly"
                    if allow_evolution
                    else "pass allow_schema_evolution=True to widen"
                )
            )
        casts[name] = widened
    if not allow_evolution and bt.keys() != ut.keys():
        missing = sorted(bt.keys() ^ ut.keys())
        raise ValueError(
            f"upsert_manifest: column sets differ ({missing}); pass "
            "allow_schema_evolution=True to add/drop columns"
        )

    def apply(df, types):
        out = df
        for name, t in casts.items():
            if types[name] != t:
                out = out.withColumn(name, F.col(name).cast(t))
        return out

    return apply(base, bt), apply(updates, ut)


def _check_constraints(df: DataFrame, constraints) -> None:
    """Commit-time CHECK constraints (the Delta table-constraint
    analogue): every row of the would-be snapshot must satisfy every
    predicate, with SQL CHECK NULL semantics — a NULL predicate PASSES
    (only FALSE violates). One aggregate pass counts violations per
    constraint; any violation aborts the commit with the counts."""
    aggs = []
    for name, pred in constraints:
        violated = ~F.coalesce(F.expr(pred), F.lit(True))
        aggs.append(
            F.sum(F.when(violated, 1).otherwise(0)).alias(name)
        )
    row = df.agg(*aggs).collect()[0]
    bad = {name: int(row[name]) for name, _ in constraints if row[name]}
    if bad:
        raise ValueError(
            f"CHECK constraint(s) violated — commit aborted: "
            + ", ".join(
                f"{name!r} fails on {n} row(s)" for name, n in bad.items()
            )
        )


def upsert_manifest(
    updates: DataFrame,
    root: str,
    key_cols: Sequence[str],
    order_col: str,
    max_retries: int = 20,
    allow_schema_evolution: bool = False,
    backend: LocalLinkBackend | None = None,
    constraints: Sequence[tuple[str, str]] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Keyed merge of ``updates`` into the table at ``root`` (reference
    ``INSERT ... ON CONFLICT (user_id) DO UPDATE``,
    `src/pipelines/batch_pipeline.py:221-310`): last-writer-wins per
    key on ``order_col``, the update beats the stored row on ties (a
    same-date re-run after an upstream fix lands; a replayed batch is
    a no-op on contents), with SERIALIZABLE multi-writer safety:
    concurrent upserts cannot lose each other's keys — the loser of a
    version race re-merges against the winner's snapshot and commits
    on top (pytest: two interleaved writers, no lost update; crash
    mid-write leaves the old snapshot readable). This is the flat case
    of the body both upserts share (``_upsert``): the table is one
    leaf, rewritten whole by every batch, an empty batch included.
    Returns the committed snapshot's row count.

    ``allow_schema_evolution=True`` is the Delta ``mergeSchema``
    analogue: the merge unions by name with missing columns allowed,
    so a NEW update column lands with NULLs on pre-existing rows and
    a column the update dropped survives with NULLs on its rows; the
    evolved schema is pinned in the new manifest, and every prior
    version still time-travels under its own schema. Off by default —
    an accidental column rename silently forking into two NULL-y
    columns is the failure mode the flag gates.

    ``txn=(app_id, version)`` makes the write IDEMPOTENT (Delta
    ``txnAppId``/``txnVersion``): the commit records the watermark in
    the manifest, and a later call with the same app_id and a version
    at or below it is skipped (returns the tip's row count unchanged)
    — the exactly-once contract for at-least-once replay sources."""
    return _upsert(
        "upsert_manifest", updates, root, key_cols, order_col, None,
        max_retries, allow_schema_evolution, backend,
        constraints=constraints, txn=txn,
    )


def _pkey(v) -> str:
    """Stable JSON-object key for a partition value. One partition
    column has one type per table, so str() is injective within a
    table; dates/datetimes pin ISO format so the key never depends on
    locale."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _ptoken(pkey: str) -> str:
    """Filesystem-safe leaf-dir token for a partition key. Hashing
    sidesteps Hive path-escaping entirely: the manifest maps key →
    token, so leaf dirs never need to be PARSED back into values (the
    real partition column stays inside the data files)."""
    import hashlib

    return hashlib.sha1(pkey.encode("utf-8")).hexdigest()[:16]


def _ptok_mapping(spark: SparkSession, pcol_field, pk_to_val: dict):
    """(typed partition value, leaf token) broadcast frame — the ONE
    way rows are re-keyed to leaf dirs (upsert and compaction share
    it). Joining on the TYPED value is load-bearing: a cast-to-string
    join silently drops rows wherever Python's _pkey and Spark's
    cast disagree (boolean 'True' vs 'true', timestamps '…00.500000'
    vs '…00.5'). Built as a tiny frame, not a CASE chain — flat plan
    depth at any partition count — and as a ``local_frame``: a
    ``LocalRelation`` the broadcast collects inside the JVM, where a
    ``createDataFrame(<list>)`` frame would fork Python workers on
    every partitioned upsert, compaction and DML."""
    return local_frame(
        spark,
        [(val, _ptoken(pk)) for pk, val in pk_to_val.items()],
        StructType(
            [pcol_field, StructField("__ptok", StringType(), False)]
        ),
    )


def _ptok_expr(field: StructField):
    """In-plan leaf token of each row's ``field`` value, for a write
    whose keys are learnt (``_land``): a hash of an unambiguous string
    form of the typed value, equal exactly where Spark's grouping
    calls values equal — a timestamp as its epoch microseconds (never
    a session-time-zone string), a float with -0.0 folded into 0.0
    (every NaN casts to 'NaN'). A NULL value hashes to NULL, which the
    write puts in Spark's default-partition dir for the read-back to
    refuse. It need not equal ``_ptoken(_pkey(value))``: the manifest
    maps each key to its dir, and no reader derives one from the
    other."""
    c = F.col(field.name)
    t = field.dataType.typeName()
    if t == "timestamp":
        c = F.unix_micros(c)
    elif t in ("float", "double"):
        c = F.when(c == 0, F.lit(0.0)).otherwise(c)
    return F.substring(F.sha1(c.cast("string")), 1, 16)


# --- file-skipping statistics (Delta/Iceberg data-skipping analogue) ---
#
# A partition-scoped commit can record per-leaf min/max/null-count for
# chosen columns (``stats_cols``); ``read_table(where=...)`` then prunes
# whole leaf directories whose stats window cannot satisfy a predicate —
# skipping on NON-partition columns (partition pruning already comes
# free from the manifest map). At 100 TB this is the difference between
# listing/footer-reading every file of every partition and touching only
# the leaves a key-range query can match; pair it with the warehouse
# export's per-partition ``sortWithinPartitions(cluster_col)`` (the
# BigQuery CLUSTER BY analogue) so clustered columns have tight ranges.

_STAT_TYPES = frozenset(
    {
        "string", "boolean", "byte", "short", "integer", "long",
        "float", "double", "decimal", "date", "timestamp",
        "timestamp_ntz",
    }
)
_WHERE_OPS = frozenset({"<", "<=", ">", ">=", "=", "in"})


def _stat_encode(v):
    """JSON-safe encoding of a min/max value; None for values whose
    comparisons are unusable for pruning (NaN/±inf floats)."""
    import datetime
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def _stat_decode(v, dtype):
    """Typed Python value for a stored stat (or a partition key string)
    under the column's Spark type — the comparison domain for pruning."""
    import datetime
    import decimal

    if v is None:
        return None
    t = dtype.typeName()
    if t == "date":
        return datetime.date.fromisoformat(str(v))
    if t in ("timestamp", "timestamp_ntz"):
        return datetime.datetime.fromisoformat(str(v))
    if t == "decimal":
        return decimal.Decimal(str(v))
    if t == "boolean" and isinstance(v, str):
        return v.lower() == "true"
    if t in _INTEGRAL_RANK and isinstance(v, str):
        return int(v)
    if t in ("float", "double") and isinstance(v, str):
        return float(v)
    return v


def _coerce_where_value(value, dtype):
    """The caller's predicate constant, coerced into the same domain
    ``_stat_decode`` produces (dates widen to midnight timestamps for
    timestamp columns; ISO strings parse; decimals normalize)."""
    import datetime
    import decimal

    t = dtype.typeName()
    if t in ("timestamp", "timestamp_ntz"):
        if isinstance(value, datetime.datetime):
            return value
        if isinstance(value, datetime.date):
            return datetime.datetime.combine(value, datetime.time())
        return datetime.datetime.fromisoformat(str(value))
    if t == "date":
        if isinstance(value, datetime.datetime):
            return value.date()
        if isinstance(value, datetime.date):
            return value
        return datetime.date.fromisoformat(str(value))
    if t == "decimal":
        return decimal.Decimal(str(value))
    if t == "boolean":
        if isinstance(value, bool):
            return value
        if isinstance(value, (int, float)):
            return bool(value)
        s = str(value).lower()
        if s in ("true", "false"):
            return s == "true"
        raise ValueError(
            f"cannot interpret {value!r} as a boolean predicate constant"
        )
    if t in _INTEGRAL_RANK:
        return int(value)
    if t in ("float", "double"):
        return float(value)
    return value


def _range_may_match(mn, mx, op: str, value) -> bool:
    if op == "=":
        return mn <= value <= mx
    if op == "<":
        return mn < value
    if op == "<=":
        return mn <= value
    if op == ">":
        return mx > value
    return mx >= value  # ">="


def _validate_where(where, schema: StructType) -> list:
    """Normalized [(field, op, coerced value)] or a targeted error.
    NULL constants are refused — SQL comparisons with NULL match
    nothing, which is never what a pruning read means."""
    fields = {f.name: f for f in schema.fields}
    out = []
    for item in where:
        try:
            col, op, value = item
        except (TypeError, ValueError):
            raise ValueError(
                f"where entries must be (column, op, value) triples, "
                f"got {item!r}"
            ) from None
        if op not in _WHERE_OPS:
            raise ValueError(
                f"where op must be one of {sorted(_WHERE_OPS)}, got {op!r}"
            )
        if col not in fields:
            raise ValueError(
                f"where column {col!r} is not in the table schema "
                f"({sorted(fields)})"
            )
        if value is None:
            raise ValueError(
                f"where value for {col!r} is None — NULL comparisons "
                "match nothing; filter nulls on the returned frame"
            )
        if fields[col].dataType.typeName() not in _STAT_TYPES:
            raise ValueError(
                f"where column {col!r} has non-orderable type "
                f"{fields[col].dataType.simpleString()}"
            )
        if op == "in":
            if isinstance(value, (str, bytes)) or not isinstance(
                value, Sequence
            ):
                raise ValueError(
                    f"where 'in' value for {col!r} must be a list/tuple "
                    f"of constants, got {value!r}"
                )
            if not value:
                raise ValueError(
                    f"where 'in' list for {col!r} is empty — an empty "
                    "IN matches nothing; read nothing instead"
                )
            if any(v is None for v in value):
                raise ValueError(
                    f"where 'in' list for {col!r} contains None — NULL "
                    "comparisons match nothing"
                )
            coerced = [
                _coerce_where_value(v, fields[col].dataType) for v in value
            ]
            out.append((fields[col], op, coerced))
            continue
        out.append(
            (fields[col], op, _coerce_where_value(value, fields[col].dataType))
        )
    return out


def _where_expr(preds):
    """The residual Spark filter for a validated ``where`` — applied to
    EVERY pruning read so data skipping can only save work, never
    change an answer."""
    cond = None
    for field, op, value in preds:
        c = F.col(field.name)
        if op == "in":
            e = c.isin(*value)
        else:
            e = {
                "<": c < F.lit(value),
                "<=": c <= F.lit(value),
                ">": c > F.lit(value),
                ">=": c >= F.lit(value),
                "=": c == F.lit(value),
            }[op]
        cond = e if cond is None else cond & e
    return cond


def _entry_may_match(entry: dict, pk: str, preds, pcol: str) -> bool:
    """Conservative leaf-level test: False only when the entry's stats
    (or its partition key, for predicates on the partition column)
    PROVE no row can satisfy every predicate. Entries lacking stats for
    a predicate column are always kept — pruning is an optimization,
    never a semantics change (the residual filter still applies)."""
    if entry.get("rows") == 0:
        return False
    for field, op, value in preds:
        # 'in' is a disjunction of equalities: the leaf survives if ANY
        # listed value may match; the bloom narrows the candidate list
        # before the min/max check
        values = list(value) if op == "in" else [value]
        eff_op = "=" if op == "in" else op
        if field.name == pcol:
            pv = _stat_decode(pk, field.dataType)
            if not any(
                _range_may_match(pv, pv, eff_op, v) for v in values
            ):
                return False
            continue
        if eff_op == "=":
            bl = (entry.get("bloom") or {}).get(field.name)
            if bl is not None:
                values = [
                    v
                    for v in values
                    if _bloom_may_contain(bl, _bloom_key(v, field.dataType))
                ]
                if not values:
                    return False
        st = (entry.get("stats") or {}).get(field.name)
        if st is None:
            continue
        mn = _stat_decode(st["min"], field.dataType)
        mx = _stat_decode(st["max"], field.dataType)
        if mn is None or mx is None:
            # min/max exist only over non-null values; both-None means
            # every row is NULL here — no comparison can match
            if st.get("nulls") == entry.get("rows"):
                return False
            continue  # non-finite floats etc. — unprunable
        if not any(
            _range_may_match(mn, mx, eff_op, v) for v in values
        ):
            return False
    return True


# --- per-leaf Bloom filters (point-lookup file skipping) ---
#
# min/max stats prune RANGE probes on clustered columns; a point
# lookup on an UNCLUSTERED high-cardinality column (every leaf's
# min..max spans the key space) needs the other classic index: a
# per-leaf Bloom filter (Delta's bloom filter index / Iceberg puffin
# blobs). ``bloom_cols`` records one bitmap per (leaf, column) at
# commit; an equality predicate in ``read_table(where=...)`` probes it
# and skips leaves whose filter proves absence. False positives only
# cost a scan; false negatives are impossible (and the residual filter
# still applies either way).
#
# The bit positions are computed JVM-side at commit and Python-side at
# probe time, so the two encodings of a value MUST agree exactly —
# the same class of trap as the compact_manifest string-cast defect.
# Bloom columns are therefore restricted to types with a controlled
# canonical form (string, integrals, boolean, date, timestamp); floats
# and decimals are refused (equality-probing floats is ill-defined
# anyway).

_BLOOM_TYPES = frozenset(
    {"string", "byte", "short", "integer", "long", "boolean", "date",
     "timestamp", "timestamp_ntz"}
)
BLOOM_M_BITS = 4096  # bits per (leaf, column) bitmap (512 B raw)
BLOOM_K = 3  # hash probes per value


def _bloom_canonical_expr(field):
    """JVM-side canonical string for a value — must mirror
    ``_bloom_key`` below, byte for byte."""
    c = F.col(field.name)
    t = field.dataType.typeName()
    if t == "boolean":
        return F.when(c, F.lit("True")).otherwise(F.lit("False"))
    if t in ("timestamp", "timestamp_ntz"):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return c.cast("string")  # string, integrals, date (ISO)


def _bloom_key(value, dtype) -> str:
    """Python-side canonical string for a probe value; coerces the
    same way ``_coerce_where_value`` does first."""
    import datetime

    v = _coerce_where_value(value, dtype)
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _bloom_positions(key: str, m: int = BLOOM_M_BITS, k: int = BLOOM_K):
    import hashlib

    return [
        int(hashlib.md5(f"{i}|{key}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def _bloom_pos_exprs(field, m: int = BLOOM_M_BITS, k: int = BLOOM_K):
    key = _bloom_canonical_expr(field)
    return [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}|"), key)), 1, 8),
                16,
                10,
            ).cast("long")
            % m
        )
        for i in range(k)
    ]


def _bloom_encode(positions) -> str:
    """Sorted bit positions → base64 bitmap (m/8 bytes raw)."""
    import base64

    buf = bytearray(BLOOM_M_BITS // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(buf)).decode("ascii")


def _bloom_may_contain(encoded: str, key: str) -> bool:
    import base64

    buf = base64.b64decode(encoded)
    return all(
        buf[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(key)
    )


def _resolve_bloom_fields(schema: StructType, bloom_cols, partition_col):
    fields = {f.name: f for f in schema.fields}
    out = []
    for c in bloom_cols or ():
        if c not in fields:
            raise ValueError(
                f"bloom_cols column {c!r} is not in the table schema"
            )
        if c == partition_col:
            raise ValueError(
                f"bloom_cols includes the partition column {c!r} — "
                "partition pruning already covers it for free"
            )
        if fields[c].dataType.typeName() not in _BLOOM_TYPES:
            raise ValueError(
                f"bloom_cols column {c!r} has type "
                f"{fields[c].dataType.simpleString()}; Bloom filters "
                "need a canonical-form equality type (string/integral/"
                "boolean/date/timestamp — floats and decimals are "
                "refused)"
            )
        out.append(fields[c])
    return out


def _resolve_stats_fields(schema: StructType, stats_cols, partition_col):
    fields = {f.name: f for f in schema.fields}
    out = []
    for c in stats_cols or ():
        if c not in fields:
            raise ValueError(
                f"stats_cols column {c!r} is not in the table schema"
            )
        if c == partition_col:
            raise ValueError(
                f"stats_cols includes the partition column {c!r} — "
                "partition pruning already covers it for free"
            )
        if fields[c].dataType.typeName() not in _STAT_TYPES:
            raise ValueError(
                f"stats_cols column {c!r} has non-orderable type "
                f"{fields[c].dataType.simpleString()}; min/max stats "
                "need an orderable atomic type"
            )
        out.append(fields[c])
    return out


def upsert_manifest_partitioned(
    updates: DataFrame,
    root: str,
    key_cols: Sequence[str] | None,
    order_col: str,
    partition_col: str,
    max_retries: int = 20,
    allow_schema_evolution: bool = False,
    backend: LocalLinkBackend | None = None,
    mode: str = "merge",
    stats_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    constraints: Sequence[tuple[str, str]] | None = None,
) -> int:
    """``upsert_manifest`` scoped to the partitions the updates touch,
    at O(touched partitions) cost — the reference's per-row
    ``INSERT … ON CONFLICT`` footprint instead of the flat form's
    O(table) rewrite. A commit reads and writes only the touched
    partitions' leaves (``data/<uuid>/__ptok=<token>/``, one Spark job;
    ``__ptok`` hashes the partition value for the layout only, the real
    column stays in the files); untouched entries carry forward
    verbatim. Concurrency is ``upsert_manifest``'s race plus Delta-style
    conflict resolution: a loser whose partitions the winner did not
    touch re-publishes its written leaves on the new tip with no Spark
    work, else it re-merges. A zero-row batch is a no-op with no
    commit. Returns the committed table's total row count.

    ``mode="merge"`` (default) merges rows into each touched partition:
    it collects the touched partitions first, since it reads their
    base leaves. ``"replace"`` replaces each touched partition's
    contents with the updates' rows (dynamic partition overwrite under
    the same atomic commit; base rows are never read, the schema is
    still reconciled) and runs no pass before its write: the touched
    partitions are learnt from the commit's read-back aggregate
    (``_land``), and a NULL partition value is refused from it, with
    what was written discarded.
    ``key_cols=None`` (replace only) skips the per-key dedupe so every
    update row lands verbatim (``export_warehouse`` relies on it).

    ``stats_cols`` records per-leaf min/max/null-count of the named
    non-partition columns and ``bloom_cols`` a per-leaf Bloom filter
    (see the bloom section above), both off the commit's one read-back
    aggregate — the data-skipping metadata ``read_table(where=...)``
    prunes leaves with. Leaves written before a column existed carry
    no stats for it and stay unprunable on it, never wrong."""
    if mode not in ("merge", "replace"):
        raise ValueError(f"mode must be 'merge' or 'replace', got {mode!r}")
    if key_cols is None and mode != "replace":
        raise ValueError(
            "key_cols=None (no-dedupe passthrough) requires "
            "mode='replace'; merge needs keys to merge on"
        )
    return _upsert(
        "upsert_manifest_partitioned", updates, root, key_cols, order_col,
        partition_col, max_retries, allow_schema_evolution, backend, mode,
        stats_cols, bloom_cols, constraints,
    )


def _layout(pcol: str | None) -> str:
    if pcol is None:
        return "UNPARTITIONED"
    return f"PARTITION-SCOPED (partitioned by {pcol!r})"


def _upsert(
    verb: str,
    updates: DataFrame,
    root: str,
    key_cols: Sequence[str] | None,
    order_col: str,
    pcol: str | None,
    max_retries: int,
    evolve: bool,
    backend: LocalLinkBackend | None,
    mode: str = "merge",
    stats_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    constraints: Sequence[tuple[str, str]] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """The attempt body of both upserts; ``pcol`` None is the flat
    table, whose one leaf ``""`` every batch (even an empty one)
    touches. Each attempt merges the touched leaves of the tip with the
    updates and lands the result (``_land``). The written commit is
    kept across lost races while the winner left the touched leaves
    (merge mode), the schema and the constraints as they were."""
    if "__ptok" in updates.columns:
        raise ValueError(
            "'__ptok' is reserved for the partition-leaf layout; "
            "rename the column"
        )
    spark = updates.sparkSession
    txn_w = _txn_validate(txn)
    if latest_version(root) == 0:
        _guard_foreign_store(root)
    # only a merge reads base leaves before it writes; every other
    # partitioned write learns its keys from the write (``_land``)
    keys = None
    if pcol is None:
        keys = {"": ""}
    elif mode == "merge":
        keys = _partition_keys(updates, pcol, verb)
        if not keys:
            return 0  # a zero-row partitioned batch is a no-op, no commit
    merge_on = None if key_cols is None else [*key_cols, *filter(None, [pcol])]
    prepared: dict = {}  # the written commit, reusable across lost races

    def attempt(v, tip, leaves, written):
        if tip is not None and _pcol(tip) != pcol:
            raise ValueError(
                f"{root!r} is laid out {_layout(_pcol(tip))}, not "
                f"{_layout(pcol)} — mixing layouts would orphan its "
                "snapshot; switch layouts with repartition_table"
            )
        base = {
            # replace-mode output is independent of base partition
            # CONTENTS, so a winner touching the same partitions does
            # not stale the prepared commit; merge-mode output does. A
            # schema change by the winner stales it (re-publishing our
            # schema would drop the winner's columns), and so do
            # constraints the written rows were never checked against.
            # Whole entries compare, so a deletion vector or appended
            # dir the winner added to a touched leaf stales it as well
            "touched": {pk: leaves.get(pk) for pk in keys}
            if mode == "merge" else None,
            "schema": tip["schema"] if tip else None,
            "checks": _effective_constraints(tip, constraints),
        }
        # the loop discarded the dirs (a vacuum race or an error), or
        # the winner staled them
        if prepared and (not written or prepared["base"] != base):
            _discard(root, written)
            prepared.clear()
        if not prepared:
            phys = _phys_map(tip)
            existing = None
            if tip is not None:
                # reconcile against the TABLE schema even when no base
                # rows are read (new partitions, replace mode): the
                # manifest's schema covers the untouched leaves too
                tip_schema = StructType.fromJson(tip["schema"])
                base_entries = [
                    leaves[pk] for pk in keys or () if pk in leaves
                ]
                existing = (
                    _read_entries(spark, tip_schema, phys, root, base_entries)
                    if base_entries
                    else local_frame(spark, [], tip_schema)
                )
            merged = _merge_rows(existing, updates, merge_on, order_col, evolve)
            _validate_mapping(merged.schema, phys, _retired_physical(tip))
            prepared.update(
                base=base,
                schema=merged.schema.jsonValue(),
                entries=_land(
                    root, verb, phys, merged, pcol, written, keys=keys,
                    key_field=updates.schema[pcol] if pcol else None,
                    stats=_resolve_stats_fields(
                        merged.schema, stats_cols, pcol
                    ),
                    bloom=_resolve_bloom_fields(
                        merged.schema, bloom_cols, pcol
                    ),
                    checks=base["checks"],
                ),
            )
        if not prepared["entries"]:
            # a zero-row replace batch: no leaf, no commit
            _discard(root, written)
            prepared.clear()
            return 0
        # partitioned: a format-3 delta of the touched entries only —
        # the payload is flat in the table's partition count
        return _Commit(
            {"op": mode if pcol else "upsert", "schema": prepared["schema"]},
            pcol, prepared["entries"], [],
            lambda _v, rows: rows, reuse=True,
        )

    # an idempotent replay of an applied (app_id, version) returns the
    # tip's row count unchanged
    return _commit(
        root, verb, attempt, max_retries, backend, txn_w,
        lambda _v, tip: int(tip.get("rows") or 0), empty_ok=True,
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
    return total


def _leaf_file_count(path: str) -> int:
    try:
        return sum(
            1 for f in os.listdir(path) if not f.startswith(("_", "."))
        )
    except FileNotFoundError:
        return 0


def compact_manifest(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_values: Sequence | None = None,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
    min_files: int | None = None,
    zorder_cols: Sequence[str] | None = None,
    zorder_bits: int | None = None,
    only_dv: bool = False,
) -> dict:
    """OPTIMIZE for manifest tables: rewrite the tip's data into
    ~``target_file_bytes`` files and publish the result as a NEW
    version with byte-identical rows — the compaction half of a lake's
    OPTIMIZE for this layout.
    The streaming sinks (ST4/ST13) land one commit per micro-batch at
    the session's shuffle width, so every hot leaf carries
    width-many small files; at scale the file COUNT becomes the
    bottleneck (listing, task-per-file scheduling, footer reads).

    Partitioned tables compact only ``partition_values`` (default:
    every live partition) — each selected partition gets a fresh
    coalesced leaf, untouched entries carry forward verbatim.
    Race-safe via the same optimistic loop as the upserts: every
    attempt re-reads the CURRENT tip and rewrites from it, so a
    writer landing mid-compaction just costs a retry, never a lost
    update. Old leaves are reclaimed by the next ``vacuum``. Returns
    {version, files_before, files_after, rows}.

    ``min_files`` is the AUTO-compaction policy knob (Delta's
    auto-compaction threshold analogue): compact only leaves holding
    at least that many data files — the streaming-sink hot partitions
    accrete width-many files per micro-batch while cold history
    partitions are already one tidy file; rewriting the cold ones
    would churn bytes (and defeat the untouched-leaf byte-identity
    that makes vacuum and pruned CDC cheap) for zero benefit. With
    every selected partition below the threshold the call is a no-op
    (no commit, version unchanged). Composable with
    ``partition_values`` (threshold filters the explicit selection).

    ``zorder_cols`` is OPTIMIZE ZORDER BY: rewritten data sorts by the
    Z-order interleave of the named integral columns
    (``operators/layout.py`` — the measured row-group-pruning layout),
    so parquet footer min/max gets tight on every listed dimension and
    composes with the manifest-level leaf skipping: ``where=`` prunes
    leaves, the clustered row groups prune within the survivors. Rows
    are only REORDERED — counts, leaf stats and blooms all stay exact
    and the existing row-count guards still apply. (Partitioned
    tables sort within each leaf; the leaf-per-partition layout is
    unchanged.) ``zorder_bits`` defaults to the layout module's
    DEFAULT_BITS — pass the same value to any later re-keying or the
    coarser cells interleave under the finer key."""
    from feature_store_spark.operators.layout import DEFAULT_BITS, zorder_key

    def attempt(v, tip, leaves, written):
        schema = StructType.fromJson(tip["schema"])
        names = {f.name: f for f in schema.fields}
        for c in zorder_cols or ():
            if c not in names:
                raise ValueError(
                    f"zorder_cols column {c!r} is not in the table schema"
                )
            if names[c].dataType.typeName() not in _INTEGRAL_RANK:
                raise ValueError(
                    f"zorder_cols column {c!r} must be integral "
                    "(cast dates/doubles to epoch/cents upstream, the "
                    "layout module's exact-arithmetic rule)"
                )
        pcol = _pcol(tip)
        if partition_values is None or pcol is None:
            selected = list(leaves)
        else:
            selected = [_pkey(p) for p in partition_values]
            unknown = sorted(set(selected) - set(leaves))
            if unknown:
                raise ValueError(
                    f"partitions {unknown!r} not in the table"
                )
        if only_dv:
            # merge-on-read debt = a DV or an appended extra dir
            selected = [
                pk
                for pk in selected
                if leaves[pk].get("dv") or leaves[pk].get("extra_dirs")
            ]
        if min_files is not None and any(
            not os.path.isdir(os.path.join(root, leaves[pk]["dir"]))
            for pk in selected
        ):
            # vanished leaf == stale tip (concurrent vacuum); a 0-file
            # count would silently read as 'below threshold' and leave
            # the real tip uncompacted — retry instead
            raise FileNotFoundError(root)
        # size/count over base + appended extra dirs: a leaf whose
        # merge-on-read debt lives in extra_dirs would otherwise
        # under-count and evade min_files-triggered compaction
        sel_dirs = {pk: _entry_dirs(root, leaves[pk]) for pk in selected}
        files = {
            pk: sum(_leaf_file_count(d) for d in ds)
            for pk, ds in sel_dirs.items()
        }
        if min_files is not None:
            selected = [pk for pk in selected if files[pk] >= min_files]
        if not selected:
            return {"version": v, "files_before": 0, "files_after": 0,
                    "rows": tip["rows"], "committed": False}
        before = sum(files[pk] for pk in selected)
        total_bytes = sum(
            _dir_bytes(d) for pk in selected for d in sel_dirs[pk]
        )
        n_files = int(
            max(len(selected), -(-total_bytes // target_file_bytes))
        )
        phys = _phys_map(tip)
        # each row carries the token of the leaf it was read from, so
        # a row whose value keys another selected leaf is refused
        # instead of moving there under the old per-leaf counts
        df = _read_entries(
            spark, schema, phys, root, [leaves[pk] for pk in selected],
            homes=[_ptoken(pk) for pk in selected] if pcol else None,
        )
        if zorder_cols:
            df = zorder_key(
                df, list(zorder_cols), bits=zorder_bits or DEFAULT_BITS,
                key_name="__zkey",
            )
        if pcol is not None:
            # hash-cluster by partition so each partition's rows
            # coalesce into its own task(s); a single partition larger
            # than target_file_bytes stays one file (hash clustering
            # cannot split within a key)
            df = df.repartition(n_files, F.col(pcol))
        elif zorder_cols:
            df = df.repartitionByRange(n_files, "__zkey")
        else:
            df = df.repartition(n_files)
        if zorder_cols:
            # leaf membership (pcol) leads the sort so each leaf's rows
            # are contiguous AND z-ordered within
            df = df.sortWithinPartitions(
                *[F.col(c) for c in (pcol,) if c], F.col("__zkey")
            ).drop("__zkey")
        # the rewritten leaves must hold exactly the rows the manifest
        # records: a mapping bug (or a non-reflexive partition value)
        # surfaces here as an error, never as a silently thinner tip
        try:
            landed = _land(
                root, "compact_manifest", phys, df, pcol, written,
                # the manifest's keys, typed: rows of an unselected
                # leaf drop at the join and fail the count check below
                keys={
                    pk: _stat_decode(pk, names[pcol].dataType)
                    for pk in selected
                } if pcol else None,
                expected={pk: leaves[pk]["rows"] for pk in selected},
            )
        except _StaleRead as e:
            raise RuntimeError(f"{e} — not committing") from None
        # compaction re-lays the SAME rows, so recorded data-skipping
        # stats and Bloom filters stay exact — carry them forward;
        # untouched entries carry forward through resolution
        updates = {
            pk: {
                **landed[pk],
                **{k: leaves[pk][k] for k in ("stats", "bloom")
                   if k in leaves[pk]},
            }
            for pk in selected
        }
        return _Commit(
            {"op": "compact"}, pcol, updates, [],
            lambda nv, _rows: {
                "version": nv,
                "files_before": before,
                "files_after": sum(
                    _leaf_file_count(os.path.join(root, e["dir"]))
                    for e in landed.values()
                ),
                "rows": tip["rows"],
                "committed": True,
            },
        )

    return _commit(root, "compact_manifest", attempt, max_retries, backend)


def _write_leaf_dv(spark, root, entry, hits) -> str:
    """Publish a leaf's NEW deletion vector (old DV rows ∪ new hits)
    as a fresh immutable dir; returns the relative dir. The old DV dir
    stays live for time travel until vacuum prunes its versions."""
    new_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
    out = hits
    if entry.get("dv"):
        old = spark.read.schema("__dv_file string, __dv_pos bigint").parquet(
            os.path.join(root, entry["dv"]["dir"])
        )
        out = out.unionByName(old)
    out.coalesce(1).write.parquet(os.path.join(root, new_rel))
    return new_rel

class _RowChange(NamedTuple):
    """One DML verb's contribution to :func:`_change_rows`, rebuilt
    from the tip manifest on every attempt."""

    schema: StructType  # post-change logical schema
    classify: Callable  # target rows -> classified scan
    preds: list | None = None  # leaf pruning; None reads every leaf
    assigned: frozenset = frozenset()  # columns a SET clause may move


def _check_dml_mode(verb: str, mode: str, evolve: bool = False) -> None:
    if mode not in ("rewrite", "dv"):
        raise ValueError(
            f"{verb}: mode must be 'rewrite' or 'dv', got {mode!r}"
        )
    if mode == "dv" and evolve:
        raise ValueError(
            f"{verb}: mode='dv' cannot evolve the schema in the same "
            "commit (appended dirs must match the pinned schema) — run "
            "the evolving merge with mode='rewrite', or evolve first"
        )


def _read_leaves(spark, schema, phys, root, leaves: dict, with_pos: bool):
    """Target rows of ``leaves`` (live rows only). ``with_pos`` keeps
    each row's (__dv_file, __dv_pos) for the deletion-vector publish;
    otherwise this is the plain DV-aware read."""
    if not with_pos:
        return _read_entries(spark, schema, phys, root, leaves.values())
    out = None
    for e in leaves.values():
        dv_abs = os.path.join(root, e["dv"]["dir"]) if e.get("dv") else None
        scan = _scan_leaf_with_pos(
            spark, schema, phys, _entry_dirs(root, e), dv_abs
        )
        out = scan if out is None else out.unionByName(scan)
    if out is None:
        out = local_frame(spark, [], schema).withColumns({
            "__dv_file": F.lit(None).cast("string"),
            "__dv_pos": F.lit(None).cast("bigint"),
        })
    return out


def _change_rows(
    spark: SparkSession,
    root: str,
    verb: str,
    plan_for: Callable,
    mode: str,
    max_retries: int,
    backend: LocalLinkBackend | None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """The one row-level change plan behind ``delete_where``,
    ``update_where`` and ``merge_into``.

    Each attempt re-reads the tip and asks the verb for a
    :class:`_RowChange`. An unpartitioned table is the one-leaf map
    ``{"": flat entry}``. Leaves the verb's predicate may match (all
    leaves when it has none) are read and classified: every row gets
    a ``__cls`` of keep / upd / del / ins and its post-change column
    values; ``__leaf`` is the post-change partition value, which is
    the row's own leaf because the partition column can never be SET.
    One grouped count gives the per-leaf accounting; zero changes
    publish no version. Then ``mode`` picks the publish step:

    - ``"rewrite"`` (copy-on-write): each touched leaf's surviving
      and new rows go to a fresh leaf dir, deletion vectors and
      appended dirs folded away. Untouched leaves carry forward
      byte-identically. Written leaves are recounted against
      ``rows - deleted + inserted`` (a mismatch retries; a leaf that
      should exist but produced no dir raises), CHECK constraints
      run on the written bytes, and the stats/bloom columns any
      entry records are re-recorded. A partitioned leaf left empty
      leaves the map; the flat leaf is rewritten even when empty.
    - ``"dv"`` (merge-on-read, Delta deletion vectors / Iceberg
      positional deletes): the old positions of deleted and updated
      rows are unioned into each leaf's deletion-vector sidecar; the
      updated images and inserts land in ONE appended dir (one
      ``__ptok`` subdir per partition) joined to the leaf's
      ``extra_dirs``. O(changed rows) written, base leaves untouched,
      entry ``rows`` keeps counting live rows. CHECK constraints run
      on the appended images only. Skipping metadata stays
      conservative: a leaf receiving inserts drops all stats/bloom,
      an updated leaf drops the SET columns'. A partitioned leaf
      whose every live row is deleted with nothing appended leaves
      the map; the flat leaf never does — its deletes land in the DV
      even when they empty the table. The protocol guard stamps the
      "deletion_vectors"/"extra_dirs" reader features; rewriting
      verbs and ``purge_deletes`` fold the debt back into clean
      leaves.

    Dirs written by a losing attempt are removed before the retry; a
    vanished leaf (concurrent vacuum) also retries. ``txn`` stamps
    the idempotency watermark and skips replays at or below it.

    Returns {version, rows_updated, rows_deleted, rows_inserted,
    partitions_rewritten, partitions_removed, committed, txn_skipped};
    each verb returns its documented subset."""
    dv = mode == "dv"

    def nothing(v):
        return {
            "version": v, "rows_updated": 0, "rows_deleted": 0,
            "rows_inserted": 0, "partitions_rewritten": 0,
            "partitions_removed": 0, "committed": False,
            "txn_skipped": False,
        }

    def attempt(v, tip, leaves, written):
        plan = plan_for(tip)
        pcol = _pcol(tip)
        cand = {
            pk: e for pk, e in leaves.items()
            if plan.preds is None
            or _entry_may_match(e, pk, plan.preds, pcol)
        }
        if not cand and plan.preds is not None:
            return nothing(v)
        base = StructType.fromJson(tip["schema"])
        phys = _phys_map(tip)
        cs = plan.classify(
            _read_leaves(spark, base, phys, root, cand, dv)
        ).withColumn("__leaf", F.col(pcol) if pcol else F.lit(""))
        if dv:
            # pin ONE evaluation: accounting, the CHECK, the sidecars
            # and the append write all replay these blocks
            cs = cs.filter(F.col("__cls") != "keep").localCheckpoint(
                eager=False
            )
        counts: dict = {}
        typed: dict = {}
        for r in (
            cs.filter(F.col("__cls") != "keep")
            .groupBy("__leaf", "__cls").count().collect()
        ):
            if r["__leaf"] is None:
                if r["__cls"] == "ins":
                    raise ValueError(
                        f"{verb}: an inserted row carries a NULL "
                        f"partition value ({pcol!r}) — partition-"
                        "scoped tables require a concrete partition "
                        "per row"
                    )
                continue
            pk = _pkey(r["__leaf"])
            typed[pk] = r["__leaf"]
            c = counts.setdefault(pk, {"upd": 0, "del": 0, "ins": 0})
            c[r["__cls"]] += r["count"]
        if not counts:
            return nothing(v)
        total = {
            k: sum(c[k] for c in counts.values())
            for k in ("upd", "del", "ins")
        }
        checks = (
            _effective_constraints(tip, None)
            if total["upd"] or total["ins"] else []
        )
        publish = _publish_dv if dv else _publish_rewrite
        updates, removed = publish(
            spark, root, verb, phys, pcol, plan, leaves, counts, typed, cs,
            checks, written,
        )
        meta = {"op": verb.split("_")[0]}
        if plan.schema != base:
            meta["schema"] = plan.schema.jsonValue()
        return _Commit(
            meta, pcol, updates, removed,
            lambda nv, _rows: {
                **nothing(nv),
                "rows_updated": total["upd"],
                "rows_deleted": total["del"],
                "rows_inserted": total["ins"],
                "partitions_rewritten": len(updates),
                "partitions_removed": len(removed),
                "committed": True,
            },
        )

    return _commit(
        root, verb, attempt, max_retries, backend, txn,
        lambda v, _tip: {**nothing(v), "txn_skipped": True},
    )


def _publish_rewrite(
    spark, root, verb, phys, pcol, plan, leaves, counts, typed, cs, checks,
    written,
):
    """Copy-on-write publish step of :func:`_change_rows`; returns the
    (updates, removed) leaf delta."""
    names = [f.name for f in plan.schema.fields]
    expected = {
        pk: leaves.get(pk, {}).get("rows", 0) - c["del"] + c["ins"]
        for pk, c in counts.items()
    }
    # a partitioned leaf left empty leaves the map; the flat leaf is
    # rewritten even when empty
    live = sorted(pk for pk in counts if expected[pk] or not pcol)
    removed = sorted(pk for pk in counts if pk not in live and pk in leaves)
    if not live:
        return {}, removed

    def recorded(k):
        # the stats/bloom columns any of the table's entries carry
        cols = {c for e in leaves.values() for c in e.get(k) or {}}
        return [plan.schema[c] for c in sorted(cols & set(names))]

    return _land(
        root, verb, phys,
        cs.filter(F.col("__cls") != "del").select(*names), pcol, written,
        keys={pk: typed[pk] for pk in live},
        expected={pk: expected[pk] for pk in live},
        stats=recorded("stats"), bloom=recorded("bloom"), checks=checks,
    ), removed


def _publish_dv(
    spark, root, verb, phys, pcol, plan, leaves, counts, typed, cs, checks,
    written,
):
    """Merge-on-read publish step of :func:`_change_rows`; returns the
    (updates, removed) leaf delta."""
    names = [f.name for f in plan.schema.fields]
    removed = sorted(
        pk for pk, c in counts.items()
        if pcol and pk in leaves and c["del"] == leaves[pk]["rows"]
        and not c["upd"] and not c["ins"]
    )
    appended = {
        pk: c["upd"] + c["ins"] for pk, c in counts.items()
        if c["upd"] or c["ins"]
    }
    app = _land(
        root, verb, phys,
        cs.filter(F.col("__cls").isin("upd", "ins")).select(*names), pcol,
        written, keys={pk: typed[pk] for pk in appended}, expected=appended,
        checks=checks,
    ) if appended else {}
    hits = cs.filter(F.col("__cls").isin("del", "upd"))
    if pcol:
        # the sidecars' leaf tokens, by the same typed join the leaves use
        hits = hits.join(
            F.broadcast(_ptok_mapping(spark, plan.schema[pcol], typed)), pcol
        )
    updates = {}
    for pk, c in sorted(counts.items()):
        old = leaves.get(pk)
        if pk in removed:
            continue
        if old is None:
            # brand-new partition: its append dir IS the base leaf
            updates[pk] = app[pk]
            continue
        ne = dict(old)
        ne["rows"] = old["rows"] - c["del"] + c["ins"]
        if c["del"] + c["upd"]:
            dv_rel = _write_leaf_dv(
                spark, root, old,
                (hits.filter(F.col("__ptok") == _ptoken(pk)) if pcol else hits)
                .select("__dv_file", "__dv_pos"),
            )
            written.append(dv_rel)
            prior = (old.get("dv") or {}).get("deleted", 0)
            ne["dv"] = {"dir": dv_rel, "deleted": prior + c["del"] + c["upd"]}
        if pk in app:
            ne["extra_dirs"] = list(old.get("extra_dirs") or []) + [
                app[pk]["dir"]
            ]
            # an insert can land anywhere; an update moves only the
            # SET columns — a stale window would mis-prune the images
            for k in ("stats", "bloom"):
                kept = {
                    col: s for col, s in (ne.get(k) or {}).items()
                    if not c["ins"] and col not in plan.assigned
                }
                if kept:
                    ne[k] = kept
                else:
                    ne.pop(k, None)
        updates[pk] = ne
    return updates, removed


def purge_deletes(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """Delta ``REORG TABLE ... APPLY (PURGE)``: rewrite ONLY the
    leaves that carry deletion vectors, physically erasing the
    soft-deleted bytes, and drop the sidecars — the compliance-erasure
    closer for ``delete_where(mode="dv")`` (a DV'd row's bytes remain
    on disk until some rewrite; vacuum then reclaims the superseded
    leaves and sidecars once their versions age out). Leaves without a
    DV are untouched; a table with no DVs publishes nothing."""
    return compact_manifest(
        spark,
        root,
        target_file_bytes=target_file_bytes,
        backend=backend,
        min_files=None,
        only_dv=True,
    )


def delete_where(
    spark: SparkSession,
    root: str,
    where: Sequence,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
    mode: str = "rewrite",
) -> dict:
    """Row-level DELETE for manifest tables — ``DELETE FROM t WHERE
    <conjunction>`` with the same predicate grammar as
    ``read_table(where=...)`` (<, <=, >, >=, =, in; triples conjoin).
    Completes the table layer's CRUD next to upsert (merge/replace),
    drop_partitions (partition-level delete) and OPTIMIZE.

    SQL DELETE semantics: rows where the predicate is TRUE are
    removed; FALSE **and NULL** rows survive (the filter is
    null-rejecting on the delete side, never on the keep side).

    Data skipping is the cost model: only leaves whose recorded
    stats/bloom/partition-key say they MAY hold matching rows are
    read — a retention delete against a clustered column touches the
    matching leaves, not the table. Untouched partitions carry
    forward byte-identically (vacuum/CDC invariants hold); partitions
    left empty leave the map via the delta format's ``removed`` list.
    A delete matching zero rows publishes NO version. Unpartitioned
    tables are one leaf (their rewrites are O(table) by design).

    ``mode="dv"`` commits DELETION VECTORS instead of rewriting
    leaves: a point delete against a huge partition costs O(matched
    positions). Repeated DV deletes on one leaf union their sidecars;
    time travel still works (old versions pin their own or no DV).
    The mechanics of both modes, and of concurrency, live on
    ``_change_rows``.

    Returns {version, rows_deleted, partitions_rewritten,
    partitions_removed, committed}."""
    _check_dml_mode("delete_where", mode)
    where = list(where)
    if not where:
        raise ValueError(
            "delete_where: empty predicate would delete nothing — "
            "for full truncation use drop_partitions (partitioned) "
            "or commit an empty replace"
        )

    def plan(tip):
        schema = StructType.fromJson(tip["schema"])
        preds = _validate_where(where, schema)
        cond = F.coalesce(_where_expr(preds), F.lit(False))
        return _RowChange(
            schema,
            lambda t: t.withColumn(
                "__cls", F.when(cond, F.lit("del")).otherwise(F.lit("keep"))
            ),
            preds,
        )

    res = _change_rows(
        spark, root, "delete_where", plan, mode, max_retries, backend
    )
    return {
        k: res[k]
        for k in (
            "version", "rows_deleted", "partitions_rewritten",
            "partitions_removed", "committed",
        )
    }


def update_where(
    spark: SparkSession,
    root: str,
    where: Sequence,
    set_values: dict,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
    mode: str = "rewrite",
) -> dict:
    """Row-level UPDATE for manifest tables — ``UPDATE t SET col =
    literal, ... WHERE <conjunction>`` with the same predicate grammar
    as ``read_table(where=...)``. Together with ``delete_where`` this
    completes DML on the table layer.

    ``set_values`` maps column → NEW LITERAL value (cast to the
    column's pinned type; the partition column is refused — moving
    rows between partitions is a delete+insert, not an in-place
    update). Rows where the predicate is TRUE take the new values;
    FALSE and NULL rows pass through untouched. Only leaves whose
    stats/bloom/partition-key say they MAY hold matching rows are
    read; untouched partitions carry forward byte-identically.
    Rewritten leaves re-record the table's stats/bloom columns, so a
    probe for the OLD value of an updated stats column prunes
    correctly afterwards; unpartitioned tables rewrite the snapshot,
    purging any deletion vector in the same pass. CHECK constraints
    hold across the update. Zero matches publish no version.

    ``mode="dv"`` commits a MERGE-ON-READ update (Delta's DV-backed
    UPDATE): one commit, O(changed rows) written, the (possibly huge)
    base leaf untouched, live row counts unchanged. SET-column
    stats/bloom are dropped on touched leaves (the new images may
    fall outside the recorded window); ``purge_deletes`` / any
    rewriting verb folds the debt back into clean single-dir leaves.
    See ``_change_rows`` for the mechanics.

    Returns {version, rows_updated, partitions_rewritten, committed}.
    """
    _check_dml_mode("update_where", mode)
    where = list(where)
    if not where:
        raise ValueError(
            "update_where: empty predicate — updating every row "
            "should be an explicit replace commit"
        )
    if not set_values:
        raise ValueError("update_where: set_values is empty")

    def plan(tip):
        schema = StructType.fromJson(tip["schema"])
        fields = {f.name: f for f in schema.fields}
        for c in set_values:
            if c not in fields:
                raise ValueError(
                    f"update_where: SET column {c!r} is not in the "
                    "table schema"
                )
            if c == _pcol(tip):
                raise ValueError(
                    f"update_where: SET on the partition column {c!r} "
                    "moves rows between partitions — delete + upsert "
                    "instead"
                )
        preds = _validate_where(where, schema)
        cond = F.coalesce(_where_expr(preds), F.lit(False))
        upd = F.col("__cls") == "upd"

        def classify(t):
            t = t.withColumn(
                "__cls", F.when(cond, F.lit("upd")).otherwise(F.lit("keep"))
            )
            return t.withColumns({
                c: F.when(upd, F.lit(nv).cast(fields[c].dataType))
                .otherwise(F.col(c))
                for c, nv in set_values.items()
            })

        return _RowChange(schema, classify, preds, frozenset(set_values))

    res = _change_rows(
        spark, root, "update_where", plan, mode, max_retries, backend
    )
    return {
        k: res[k]
        for k in (
            "version", "rows_updated", "partitions_rewritten", "committed",
        )
    }


def _merge_clause_list(clauses, what: str):
    """Normalize/validate a WHEN [NOT] MATCHED clause list: ordered
    ``(condition_sql | None, {"col": expr_sql} | "delete")`` tuples."""
    out = []
    for i, cl in enumerate(clauses or ()):
        cond, action = cl
        if action != "delete" and not isinstance(action, dict):
            raise ValueError(
                f"{what}[{i}]: action must be a SET dict or 'delete', "
                f"got {action!r}"
            )
        if isinstance(action, dict) and not action:
            raise ValueError(f"{what}[{i}]: empty SET dict")
        out.append((cond, action))
    return out


def _merge_actions(
    tdf: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    schema: StructType,
    matched,
    not_matched,
    not_matched_by_source,
):
    """The single-join MERGE core: returns ``(action_df, out_cols,
    delete_tags)`` where ``action_df`` is the full outer join of
    target (alias ``t``) and source (alias ``s``) with a ``__action``
    tag per row, and ``out_cols`` maps each schema column to its
    post-merge value expression (a CASE over the action tag). Callers
    aggregate tags for accounting, filter delete/drop rows, and
    project ``out_cols`` — one declarative plan, no per-row Python."""
    fields = {f.name: f for f in schema.fields}
    src_cols = set(source.columns)
    for k in on:
        if k not in fields:
            raise ValueError(f"merge key {k!r} not in target schema")
        if k not in src_cols:
            raise ValueError(f"merge key {k!r} not in source columns")

    t = tdf.withColumn("__t1", F.lit(1)).alias("t")
    s = source.withColumn("__s1", F.lit(1)).alias("s")
    joined = t.join(
        s,
        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on],
        "full_outer",
    )
    both = F.col("t.__t1").isNotNull() & F.col("s.__s1").isNotNull()

    def chain(clauses, prefix, default):
        expr = F.lit(default)
        for i, (cond, action) in reversed(list(enumerate(clauses))):
            tag = f"{prefix}{i}:" + ("d" if action == "delete" else "u")
            gate = (
                F.coalesce(F.expr(cond), F.lit(False))
                if cond
                else F.lit(True)
            )
            expr = F.when(gate, F.lit(tag)).otherwise(expr)
        return expr

    if not_matched is None:
        nm_expr = F.lit("drop")
    else:
        nm_cond, _ = not_matched
        gate = (
            F.coalesce(F.expr(nm_cond), F.lit(False))
            if nm_cond
            else F.lit(True)
        )
        nm_expr = F.when(gate, F.lit("ins")).otherwise(F.lit("drop"))

    action = (
        F.when(both, chain(matched, "m", "keep"))
        .when(
            F.col("t.__t1").isNotNull(),
            chain(not_matched_by_source, "n", "keep"),
        )
        .otherwise(nm_expr)
    )
    action_df = joined.withColumn("__action", action)

    delete_tags = [
        f"m{i}:d" for i, (_, a) in enumerate(matched) if a == "delete"
    ] + [
        f"n{i}:d"
        for i, (_, a) in enumerate(not_matched_by_source)
        if a == "delete"
    ]

    ins_values = (not_matched[1] if not_matched else None) or {}
    out_cols = {}
    for f in schema.fields:
        expr = F.col(f"t.{f.name}")
        for i, (_, a) in enumerate(matched):
            if isinstance(a, dict) and f.name in a:
                expr = F.when(
                    F.col("__action") == f"m{i}:u", F.expr(a[f.name])
                ).otherwise(expr)
        for i, (_, a) in enumerate(not_matched_by_source):
            if isinstance(a, dict) and f.name in a:
                expr = F.when(
                    F.col("__action") == f"n{i}:u", F.expr(a[f.name])
                ).otherwise(expr)
        if not_matched is not None:
            if f.name in ins_values:
                ins = F.expr(ins_values[f.name])
            elif f.name in src_cols:
                ins = F.col(f"s.{f.name}")
            else:
                ins = F.lit(None)
            expr = F.when(F.col("__action") == "ins", ins).otherwise(expr)
        out_cols[f.name] = expr.cast(f.dataType).alias(f.name)
    return action_df, out_cols, delete_tags


def _merge_guard_dup_sources(tdf, source, on, matched):
    """Delta's ambiguous-merge guard: a target row matched by MORE
    than one source row has no well-defined UPDATE/DELETE outcome.
    Cheap path: only if the source has duplicate keys at all do we
    probe whether any duplicate key exists in the target."""
    if not matched:
        return
    dups = (
        source.groupBy(*[F.col(k) for k in on])
        .count()
        .filter(F.col("count") > 1)
        .drop("count")
    )
    if not dups.limit(1).count():
        return
    hit = tdf.join(F.broadcast(dups), list(on), "left_semi").limit(1)
    if hit.count():
        raise ValueError(
            "merge_into: multiple source rows matched the same target "
            "row — the UPDATE/DELETE outcome would be nondeterministic; "
            "pre-aggregate the source to one row per key "
            f"({list(on)!r})"
        )


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    on: Sequence[str],
    when_matched: Sequence = (),
    when_not_matched=None,
    when_not_matched_by_source: Sequence = (),
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
    txn: tuple[str, int] | None = None,
    allow_schema_evolution: bool = False,
    mode: str = "rewrite",
) -> dict:
    """``MERGE INTO`` with conditional clauses for manifest tables —
    the composed Delta/Iceberg verb whose degenerate form is the
    reference's unconditional ``INSERT … ON CONFLICT DO UPDATE``
    (`src/pipelines/batch_pipeline.py:221-310`; ``upsert_manifest``
    covers that case at lower cost).

    - ``on``: equality key columns (present in target and source).
      NULL keys never match, per SQL join semantics.
    - ``when_matched``: ordered ``(condition, action)`` clauses
      evaluated per matched row; the FIRST true condition applies
      (``None`` = always). ``action`` is ``{"col": "<sql expr>"}``
      (UPDATE SET) or ``"delete"``. Expressions/conditions reference
      the two sides as ``t.col`` / ``s.col``; a NULL condition is
      false (SQL semantics).
    - ``when_not_matched``: ``(condition, values)`` insert clause for
      source rows with no target match; ``values`` maps column →
      expression, ``None`` values dict = INSERT * by name (source
      columns matching target schema; absent columns land NULL).
      ``None`` clause = unmatched source rows are ignored.
    - ``when_not_matched_by_source``: ordered clauses over target
      rows with no source match (conditions see ``t.*`` only) —
      update or delete, Delta's third verb.

    Plan shape: ONE full-outer join target⟷source tagging every row
    with its action (``_merge_actions``), each column projected as a
    CASE over the tag — all JVM-side — which is the classified scan
    ``_change_rows`` publishes. The target scan is O(table) (same as
    Delta's touched-file search); the publish is O(touched
    partitions) on a partition-scoped table: partitions where every
    row kept and no insert landed carry forward byte-identically (so
    CDC's byte-identity skip and vacuum invariants hold). A merge
    that changes nothing publishes no version. Multiple source rows
    matching one target row raise (Delta's ambiguity rule).

    ``allow_schema_evolution=True`` is Delta's MERGE ``autoMerge``:
    source columns absent from the target schema are APPENDED
    (pre-existing rows read NULL — no data rewrite semantics beyond
    the merge's own), and a shared column whose source type safely
    widens the target's (int→long, float→double, decimal growth —
    the ``_widen_type`` matrix) widens the table schema; any other
    mismatch still raises. The retired-physical-name and column-
    mapping collision guards apply to the evolved schema, so an
    evolved column can never resurrect dropped bytes. Off by default
    for the same reason as ``upsert_manifest``'s flag.

    ``txn=(app_id, version)`` makes the merge IDEMPOTENT (Delta
    ``txnAppId``/``txnVersion``): the commit records the watermark in
    the manifest; a replayed call with the same app_id and a version
    at or below the watermark is skipped (``txn_skipped=True``,
    nothing written) — the exactly-once contract for at-least-once
    sources (streaming foreachBatch, CDC redelivery after a crash
    between sink commit and cursor advance).

    ``mode="dv"`` commits the MERGE merge-on-read (the same publish
    step as ``update_where(mode="dv")``, see ``_change_rows``): a
    point-merge against a huge partition costs O(changed rows), not a
    leaf rewrite. Action semantics, accounting, constraints, and txn
    watermarks are identical to the rewrite mode (equality pinned in
    tests); inserts drop the receiving leaf's stats/bloom.
    ``allow_schema_evolution`` is refused under this mode (evolve
    first, then merge). Rewriting verbs / ``purge_deletes`` fold the
    debt back into clean leaves.

    Returns {version, rows_updated, rows_deleted, rows_inserted,
    partitions_rewritten, partitions_removed, committed,
    txn_skipped}."""
    _check_dml_mode("merge_into", mode, evolve=allow_schema_evolution)
    txn_w = _txn_validate(txn)
    matched = _merge_clause_list(when_matched, "when_matched")
    nbs = _merge_clause_list(
        when_not_matched_by_source, "when_not_matched_by_source"
    )
    if when_not_matched is not None:
        nm_cond, nm_vals = when_not_matched
        if nm_vals is not None and not isinstance(nm_vals, dict):
            raise ValueError(
                "when_not_matched values must be a dict or None "
                "(None = INSERT * by name)"
            )
        not_matched = (nm_cond, nm_vals)
    else:
        not_matched = None
    if not (matched or nbs or not_matched):
        raise ValueError("merge_into: no clauses — nothing to do")
    # Pin the source plan ONCE: the merge evaluates it several times
    # (dup-key guard, accounting aggregate, rewrite) — a
    # nondeterministic source (sample, limit, shuffle-order-dependent
    # expr) could pass the guard on one evaluation and diverge on
    # another, burning every retry on the accounting mismatch. Delta
    # materializes merge sources for the same reason. Lazy
    # localCheckpoint: first action computes and stores the rows;
    # every later evaluation replays the stored blocks.
    source = source.localCheckpoint(eager=False)
    assigned = frozenset(
        c for _, a in matched + nbs if isinstance(a, dict) for c in a
    )

    def plan(tip):
        schema = StructType.fromJson(tip["schema"])
        base_names = {f.name for f in schema.fields}
        widen_casts: dict = {}
        if allow_schema_evolution:
            # Delta autoMerge rule: the columns that EVOLVE the schema
            # are the ones the merge LANDS — every source column under
            # INSERT * (values=None), else exactly the assignment-
            # target names of the SET/INSERT dicts. A helper column
            # the clauses merely read never changes the table schema.
            landing = set(assigned)
            if not_matched is not None:
                if not_matched[1] is None:
                    landing.update(source.columns)
                else:
                    landing.update(not_matched[1].keys())
            src_fields = {f.name: f for f in source.schema.fields}
            evolved = list(schema.fields)
            for i, f in enumerate(evolved):
                sf = src_fields.get(f.name)
                if sf is None or f.name not in landing:
                    continue
                if _normalize_nullability(sf.dataType) == \
                        _normalize_nullability(f.dataType):
                    continue
                w = _widen_type(f.dataType, sf.dataType)
                if w is None:
                    raise ValueError(
                        f"merge_into: column {f.name!r} is "
                        f"{f.dataType.simpleString()} in the table but "
                        f"{sf.dataType.simpleString()} in the source — "
                        "not a safe widening; cast explicitly"
                    )
                if _normalize_nullability(w) != _normalize_nullability(
                    f.dataType
                ):
                    evolved[i] = StructField(f.name, w, True)
                    widen_casts[f.name] = w
            for name in sorted(landing - base_names):
                sf = src_fields.get(name)
                if sf is None:
                    raise ValueError(
                        f"merge_into: evolved column {name!r} is not in "
                        "the source schema — schema evolution types new "
                        "columns from the source; add it there or to "
                        "the table first"
                    )
                evolved.append(StructField(sf.name, sf.dataType, True))
            if evolved != list(schema.fields):
                schema = StructType(evolved)
                # an evolved column must not collide with a retired
                # physical name or the live column mapping
                _validate_mapping(
                    schema, _phys_map(tip), _retired_physical(tip)
                )
        fields = {f.name: f for f in schema.fields}
        if _pcol(tip) in assigned:
            raise ValueError(
                f"merge_into: SET on the partition column "
                f"{_pcol(tip)!r} moves rows between partitions — "
                "delete + insert instead"
            )
        unknown = sorted(assigned - set(fields))
        if unknown:
            raise ValueError(
                f"merge_into: SET column {unknown[0]!r} not in the "
                "table schema"
            )
        if not_matched and not_matched[1]:
            for c in not_matched[1]:
                if c not in fields:
                    raise ValueError(
                        f"merge_into: INSERT column {c!r} not in the "
                        "table schema"
                    )

        def classify(tdf):
            # evolution: pre-existing rows read the appended columns as
            # typed NULLs; widened columns up-cast
            evolve = {n: F.col(n).cast(w) for n, w in widen_casts.items()}
            evolve.update({
                f.name: F.lit(None).cast(f.dataType)
                for f in schema.fields if f.name not in base_names
            })
            if evolve:
                tdf = tdf.withColumns(evolve)
            _merge_guard_dup_sources(tdf, source, on, matched)
            action_df, out_cols, delete_tags = _merge_actions(
                tdf, source, on, schema, matched, not_matched, nbs
            )
            act = F.col("__action")
            cls = (
                F.when(act == "ins", F.lit("ins"))
                .when(
                    act.isin(*delete_tags) if delete_tags else F.lit(False),
                    F.lit("del"),
                )
                .when(act.endswith(":u"), F.lit("upd"))
                .otherwise(F.lit("keep"))
            )
            pos = [
                F.col(f"t.{c}").alias(c)
                for c in ("__dv_file", "__dv_pos") if c in tdf.columns
            ]
            # unmatched source rows no clause inserts belong to no leaf
            return action_df.filter(act != "drop").select(
                cls.alias("__cls"), *pos, *out_cols.values()
            )

        return _RowChange(schema, classify, None, assigned)

    return _change_rows(
        spark, root, "merge_into", plan, mode, max_retries, backend, txn_w
    )


def restore(
    root: str,
    version: int | None = None,
    timestamp_as_of=None,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """Delta's ``RESTORE TABLE … TO VERSION/TIMESTAMP AS OF``:
    re-publish an old snapshot as a NEW commit at the tip. Time-travel
    *reads* (`read_table(version=/timestamp_as_of=)`) leave the tip
    alone; restore moves the tip itself — the roll-back verb after a
    bad batch — while keeping the full history intact (the bad
    versions stay readable, and CDC across the restore shows the
    inverse diff).

    Zero data work, like ``drop_partitions``: the new manifest carries
    the restored version's leaves BY REFERENCE (the single snapshot
    dir, or the fully-resolved partition map re-pinned as a format-2
    manifest). Data dirs are immutable and vacuum liveness is
    computed per retained manifest, so the referenced leaves stay live
    as long as the restore commit is retained — but a restore to a
    version whose manifest vacuum already pruned raises
    FileNotFoundError (its leaves may be gone; the documented
    time-travel-too-far signal).

    Exactly one of ``version`` / ``timestamp_as_of`` (epoch seconds or
    ISO string, resolved via :func:`version_at_timestamp`). Restoring
    the current tip is a no-op (no version published). Returns
    {version, restored_version, rows, committed}."""
    if (version is None) == (timestamp_as_of is None):
        raise ValueError(
            "restore: pass exactly one of version / timestamp_as_of"
        )
    if timestamp_as_of is not None:
        version = version_at_timestamp(root, timestamp_as_of)
    assert version is not None
    if version < 1:
        raise ValueError(f"restore: bad version {version}")
    if version > latest_version(root):
        raise ValueError(
            f"restore: version {version} is beyond the tip "
            f"{latest_version(root)}"
        )
    target = read_manifest(root, version)  # FileNotFoundError if pruned
    target_leaves = _leaves(root, version, target)
    rows = sum(e["rows"] for e in target_leaves.values())

    def attempt(v, tip, leaves, written):
        if version > v:
            raise ValueError(
                f"restore: version {version} is beyond the tip {v}"
            )
        if version == v:
            return {
                "version": v, "restored_version": version,
                "rows": rows, "committed": False,
            }
        return _Commit(
            {
                "op": "restore",
                "restored_version": version,
                "schema": target["schema"],
                # the restored snapshot's leaves live under the
                # TARGET's physical names — its table-level fields
                # travel with its schema, replacing the tip's
                **dict.fromkeys(_carry_mapping(tip)),
                **_carry_mapping(target),
            },
            _pcol(target), target_leaves, None,
            lambda nv, _rows: {
                "version": nv, "restored_version": version,
                "rows": rows, "committed": True,
            },
        )

    return _commit(root, "restore", attempt, max_retries, backend)


def clone_table(
    src_root: str,
    dst_root: str,
    version: int | None = None,
    timestamp_as_of=None,
    deep: bool = False,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """Delta's ``CLONE``: publish a snapshot of ``src_root`` as a NEW
    manifest table at ``dst_root`` (which must have no commits).
    Optionally pinned to ``version`` / ``timestamp_as_of``.

    - ``deep=False`` (shallow, default): METADATA-ONLY — the clone's
      v1 manifest references the source's immutable leaf dirs by
      ABSOLUTE path; zero bytes copied. The clone then evolves
      independently: its own commits write under its own root, its
      vacuum never touches foreign (absolute) leaves, and writes to
      either table never affect the other (leaves are immutable).
      Delta's shallow-clone caveat applies verbatim: a ``vacuum`` on
      the SOURCE that prunes the cloned version's leaves breaks the
      clone's reads — retain the source snapshot or clone deep.
    - ``deep=True``: byte-copies the referenced leaf dirs under the
      clone's own ``data/`` (no Spark job — file copy), making it
      fully self-contained.

    Returns {version: 1, rows, source_version, deep}."""
    if latest_version(dst_root) != 0:
        raise ValueError(
            f"clone_table: {dst_root!r} already has commits — clone "
            "targets must be empty"
        )
    if timestamp_as_of is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_as_of, not both")
        version = version_at_timestamp(src_root, timestamp_as_of)
    v = latest_version(src_root) if version is None else version
    if v == 0:
        raise ValueError(f"{src_root!r} has no committed versions")
    m = read_manifest(src_root, v)  # raises if vacuumed
    _guard_foreign_store(dst_root)
    os.makedirs(dst_root, exist_ok=True)
    pcol = _pcol(m)
    commit_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"

    def move(d: str, rel: str | None = None) -> str:
        """A leaf's dir in the clone: shallow clones re-point it
        absolutely, deep clones copy it under the new root."""
        src = os.path.abspath(os.path.join(src_root, d))
        if not deep:
            return src
        rel = rel or f"{DATA_DIR}/{uuid.uuid4().hex}"
        shutil.copytree(src, os.path.join(dst_root, rel))
        return rel

    # deletion vectors and merge-on-read appended dirs travel WITH
    # their leaves, under the same rule as the data dirs (a dropped DV
    # would resurrect deleted rows, dropped extras lose updates)
    leaves = {}
    for pk, e in _leaves(src_root, v, m).items():
        ne = {
            **e,
            "dir": move(
                e["dir"],
                f"{commit_rel}/__ptok={_ptoken(pk)}" if pcol else commit_rel,
            ),
        }
        if e.get("dv"):
            ne["dv"] = {**e["dv"], "dir": move(e["dv"]["dir"])}
        if e.get("extra_dirs"):
            ne["extra_dirs"] = [move(d) for d in e["extra_dirs"]]
        leaves[pk] = ne
    manifest: dict = {
        "op": "clone",
        "base_version": 0,
        "source_root": os.path.abspath(src_root),
        "source_version": v,
        "rows": m["rows"],
        "schema": m["schema"],
        **_carry_mapping(m),
        **_encode({}, pcol, leaves, None)[0],
    }
    if not deep:
        # shallow-clone leaves live OUTSIDE this root as absolute
        # paths — a reader that resolves every dir relative to the
        # root would read nothing (or the wrong files): reader feature
        proto = _protocol(manifest)
        manifest["protocol"] = {
            "reader": sorted(set(proto.get("reader") or []) | {"absolute_paths"}),
            "writer": sorted(set(proto.get("writer") or [])),
        }
    if not _try_commit(dst_root, 1, manifest, backend):
        raise RuntimeError(
            f"clone_table: {dst_root!r} gained a v1 concurrently"
        )
    return {
        "version": 1,
        "rows": m["rows"],
        "source_version": v,
        "deep": deep,
    }


def rename_column(
    root: str,
    old: str,
    new: str,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """Rename a column via Delta-style column mapping — a
    METADATA-ONLY commit: no data file is read or written. The
    manifest records a logical → physical name map; the renamed
    column keeps its original PHYSICAL name inside every existing
    leaf, readers project physical → logical at scan time
    (:func:`_read_data`), and writers rename back just before each
    leaf write. Consequences the naive rewrite-the-world rename can't
    offer:

    - old versions still read under their own (old) logical name —
      time travel is name-faithful;
    - recorded data-skipping stats/bloom entries keep working (their
      keys are re-pointed to the new logical name in the same
      commit);
    - CDC across the rename pairs keys by physical identity
      (``_align_logical``) instead of reporting drop+add;
    - ``schema_changes`` reports one ``renamed`` row.

    Renaming the partition column updates ``partition_col`` in the
    same commit (partition map keys are values, not names — nothing
    else moves). Adding a NEW column that reuses a renamed-away
    physical name is refused at write time (``_validate_mapping``).
    A rename is still a WRITE: it funnels through the protocol gate
    and carries txn watermarks, CHECK constraints, retired physical
    names, and reader/writer protocol forward (``_carry_mapping``).
    Renaming a column a persisted CHECK constraint references is
    refused (same rule as :func:`drop_column` — drop the constraint,
    rename, re-add against the new name). Returns
    {version, renamed: {old: new}, committed}."""
    if old == new:
        raise ValueError("rename_column: old and new are the same name")

    def attempt(v, tip, leaves, written):
        schema = StructType.fromJson(tip["schema"])
        names = {f.name for f in schema.fields}
        if old not in names:
            raise ValueError(
                f"rename_column: {old!r} is not a column of {root!r}"
            )
        if new in names:
            raise ValueError(
                f"rename_column: {new!r} already exists in {root!r}"
            )
        phys = dict(_phys_map(tip))
        physical_name = phys.pop(old, old)
        if new != physical_name:
            phys[new] = physical_name
        new_schema = StructType(
            [
                StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        )
        _validate_mapping(new_schema, phys, _retired_physical(tip))
        cpat = re.compile(rf"\b{re.escape(old)}\b")
        bound = [c[0] for c in _table_constraints(tip) if cpat.search(c[1])]
        if bound:
            raise ValueError(
                f"rename_column: {old!r} is referenced by CHECK "
                f"constraint(s) {bound!r} — drop them first and re-add "
                f"against the new name"
            )
        # the stats/bloom re-key must reach every entry, so partitioned
        # tables republish the full map
        rekeyed = {
            pk: {
                **e,
                **{
                    k: {(new if c == old else c): s for c, s in e[k].items()}
                    for k in ("stats", "bloom")
                    if e.get(k)
                },
            }
            for pk, e in leaves.items()
        }
        pcol = _pcol(tip)
        return _Commit(
            {
                "op": "rename_column",
                "renames": {old: new},
                "schema": new_schema.jsonValue(),
                "physical": phys or None,  # rebuilt above
            },
            new if pcol == old else pcol, rekeyed, None,
            lambda nv, _rows: {
                "version": nv, "renamed": {old: new}, "committed": True,
            },
        )

    return _commit(root, "rename_column", attempt, max_retries, backend)


def add_constraint(
    spark: SparkSession,
    root: str,
    name: str,
    predicate: str,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """``ALTER TABLE ADD CONSTRAINT`` — persist a CHECK constraint in
    the table metadata. EXISTING rows are validated first (one scan,
    Delta's semantics: you cannot add a constraint the table already
    violates); every subsequent write path (upserts, UPDATE, MERGE)
    then enforces it automatically under write-audit-publish, with
    SQL CHECK NULL-passes semantics. The commit itself is
    metadata-only. Returns {version, name, committed}."""

    def attempt(v, tip, leaves, written):
        cons = _table_constraints(tip)
        if name in {c[0] for c in cons}:
            raise ValueError(
                f"add_constraint: {name!r} already exists on {root!r}"
            )
        df = _read_entries(
            spark, StructType.fromJson(tip["schema"]), _phys_map(tip),
            root, leaves.values(),
        )
        _check_constraints(df, [(name, predicate)])  # raises on violation
        return _Commit(
            {
                "op": "add_constraint",
                "constraints": cons + [[name, predicate]],
            },
            _pcol(tip), {}, [],
            lambda nv, _rows: {"version": nv, "name": name, "committed": True},
        )

    return _commit(root, "add_constraint", attempt, max_retries, backend)


def drop_constraint(
    root: str,
    name: str,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """``ALTER TABLE DROP CONSTRAINT`` — metadata-only removal of a
    persisted CHECK constraint. Raises if the name is unknown."""

    def attempt(v, tip, leaves, written):
        cons = _table_constraints(tip)
        if name not in {c[0] for c in cons}:
            raise ValueError(
                f"drop_constraint: {name!r} is not a constraint of "
                f"{root!r}"
            )
        remaining = [c for c in cons if c[0] != name]
        return _Commit(
            {"op": "drop_constraint", "constraints": remaining or None},
            _pcol(tip), {}, [],
            lambda nv, _rows: {"version": nv, "name": name, "committed": True},
        )

    return _commit(root, "drop_constraint", attempt, max_retries, backend)


def add_column(
    root: str,
    name: str,
    dtype,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """``ALTER TABLE ADD COLUMN`` — metadata-only: the new column
    joins the pinned schema and every existing leaf null-fills it at
    read time (the parquet reader's missing-column semantics); no
    data file is touched. ``dtype`` is a Spark DataType or a DDL
    string (``"double"``). Reusing a physical name an earlier rename
    left behind is refused (`_validate_mapping`)."""
    if isinstance(dtype, str):
        dtype = StructType.fromDDL(f"__x {dtype}")[0].dataType

    def attempt(v, tip, leaves, written):
        schema = StructType.fromJson(tip["schema"])
        if name in {f.name for f in schema.fields}:
            raise ValueError(
                f"add_column: {name!r} already exists in {root!r}"
            )
        new_schema = StructType(
            [*schema.fields, StructField(name, dtype, True)]
        )
        _validate_mapping(
            new_schema, _phys_map(tip), _retired_physical(tip)
        )
        return _Commit(
            {"op": "add_column", "schema": new_schema.jsonValue()},
            _pcol(tip), {}, [],
            lambda nv, _rows: {
                "version": nv, "column": name, "committed": True,
            },
        )

    return _commit(root, "add_column", attempt, max_retries, backend)


def drop_column(
    root: str,
    name: str,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """``ALTER TABLE DROP COLUMN`` — metadata-only: the column leaves
    the pinned schema (readers simply stop projecting it; the bytes
    stay in existing leaves for time travel, exactly Delta's
    column-mapping drop). Its data-skipping stats/bloom keys and any
    column-mapping entry are removed in the same commit. Refused for
    the partition column, the last remaining column, or a column a
    persisted CHECK constraint references."""

    def attempt(v, tip, leaves, written):
        schema = StructType.fromJson(tip["schema"])
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(
                f"drop_column: {name!r} is not a column of {root!r}"
            )
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        if name == _pcol(tip):
            raise ValueError(
                f"drop_column: {name!r} is the partition column"
            )
        pat = re.compile(rf"\b{re.escape(name)}\b")
        bound = [c[0] for c in _table_constraints(tip) if pat.search(c[1])]
        if bound:
            raise ValueError(
                f"drop_column: {name!r} is referenced by CHECK "
                f"constraint(s) {bound!r} — drop them first"
            )
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        )
        phys = {
            k: val for k, val in _phys_map(tip).items() if k != name
        }
        # the stats/bloom drop must reach every entry, so partitioned
        # tables republish the full map
        pruned = {
            pk: {
                **e,
                **{
                    k: {c: s for c, s in e[k].items() if c != name}
                    for k in ("stats", "bloom")
                    if k in e
                },
            }
            for pk, e in leaves.items()
        }
        return _Commit(
            {
                "op": "drop_column",
                "schema": new_schema.jsonValue(),
                "physical": phys or None,
                # the dropped column's bytes live on in old leaves under
                # its physical name — retire it so nothing re-binds it
                "retired_physical": _retired_physical(tip)
                + [_phys_map(tip).get(name, name)],
            },
            _pcol(tip), pruned, None,
            lambda nv, _rows: {
                "version": nv, "column": name, "committed": True,
            },
        )

    return _commit(root, "drop_column", attempt, max_retries, backend)


def drop_partitions(
    root: str,
    partition_values: Sequence,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> int:
    """Atomically remove whole partitions from a partition-scoped
    manifest table — partition-level retention, the engine analogue of
    BigQuery's partition expiration (the reference's warehouse sets
    ``partition_expiration_days``, `sql/bigquery_schema.sql:18-26`)
    and Delta's ``DELETE WHERE p < cutoff`` fast path. Publishes a new
    version whose map lacks the dropped entries via the delta format's
    ``removed`` list: ZERO Spark work, no data files touched — the
    dropped leaves stay on disk for time travel until ``vacuum``
    reclaims them. Idempotent (already-absent values are ignored, so a
    re-run retention job is a no-op). Returns the number of partitions
    actually dropped; 0 means no commit was published."""
    requested = {_pkey(v) for v in partition_values}
    if not requested:
        return 0

    def attempt(v, tip, leaves, written):
        if tip is None:
            return 0  # nothing committed, nothing to drop
        if not _is_partitioned(tip):
            raise ValueError(
                f"{root!r} is an UNPARTITIONED manifest table; "
                "drop_partitions needs the partition-scoped layout"
            )
        dropping = sorted(requested & set(leaves))
        if not dropping:
            return 0
        return _Commit(
            {"op": "drop_partitions"}, tip["partition_col"], {}, dropping,
            lambda _v, _rows: len(dropping),
        )

    return _commit(
        root, "drop_partitions", attempt, max_retries, backend, empty_ok=True
    )


def migrate_to_manifest(
    spark: SparkSession,
    src_path: str,
    dest_root: str,
    key_cols: Sequence[str],
    order_col: str,
    partition_col: str | None = None,
    backend: LocalLinkBackend | None = None,
) -> int:
    """The one-way door from a plain parquet store (a flat directory
    or a hive ``partitionBy`` layout) to the manifest format: read it
    and commit it as version 1 of a FRESH manifest table —
    unpartitioned, or partition-scoped when ``partition_col`` is
    given. Refuses a non-empty destination (a migration must never
    merge into existing history) and leaves the source untouched (cut
    over readers, then retire it). Returns the committed row count.

    Hive partition columns keep the type Spark infers for them only
    when every directory value reads back unchanged through that type
    (``partition_date=2024-01-02`` stays a date); otherwise they
    migrate as strings, so ``snap=00123`` stays ``"00123"`` instead of
    becoming the int 123."""
    if latest_version(dest_root) != 0:
        raise ValueError(
            f"{dest_root!r} already has committed versions; migrate "
            "into a FRESH root"
        )
    src = spark.read.parquet(src_path)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # with inference off every hive partition column reads as its
        # raw directory string; a column whose inferred type differs
        # is a typed partition column to check
        raw = spark.read.parquet(src_path)
        inferred = {f.name: f.dataType for f in src.schema.fields}
        typed = [
            f.name for f in raw.schema.fields
            if isinstance(f.dataType, StringType)
            and not isinstance(inferred[f.name], StringType)
        ]
        lossy = set()
        if typed:
            row = raw.agg(*[
                F.max(
                    F.col(c).isNotNull()
                    & ~F.col(c).cast(inferred[c]).cast("string")
                    .eqNullSafe(F.col(c))
                ).alias(c)
                for c in typed
            ]).collect()[0]
            lossy = {c for c in typed if row[c]}
    finally:
        spark.conf.set(key, prev)
    if lossy:
        src = spark.read.schema(StructType([
            StructField(f.name, StringType(), f.nullable)
            if f.name in lossy else f
            for f in src.schema.fields
        ])).parquet(src_path)
    if partition_col is not None:
        return upsert_manifest_partitioned(
            src, dest_root, key_cols, order_col, partition_col,
            backend=backend,
        )
    return upsert_manifest(
        src, dest_root, key_cols, order_col, backend=backend
    )


def _align_logical(old_df: DataFrame, m_old: dict, m_new: dict) -> DataFrame:
    """Rename the OLD snapshot's columns to the NEW version's logical
    names wherever both resolve to the same physical column — so CDC
    keys stay paired across a ``rename_column`` commit instead of
    reading as drop+add. Columns without a physical twin keep their
    names (a genuine drop/add still diffs as such)."""
    po, pn = _phys_map(m_old), _phys_map(m_new)
    new_fields = StructType.fromJson(m_new["schema"]).fields
    phys_to_new = {pn.get(f.name, f.name): f.name for f in new_fields}
    ren = {}
    for c in old_df.columns:
        nl = phys_to_new.get(po.get(c, c))
        if nl is not None and nl != c:
            ren[c] = nl
    return old_df.withColumnsRenamed(ren) if ren else old_df


def table_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: Sequence[str] = ("user_id",),
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two committed versions — the CDC
    read every lake format exposes (Delta ``table_changes`` / Iceberg
    ``changelog``), derived from the retained manifests. Version 0 is
    the empty table, so ``table_changes(0, k)`` is version ``k`` as
    ``added`` rows. ``to_version`` defaults to the tip.

    Emits one row per key that changed: the keys, ``status`` ∈
    added/removed/changed, ``changed_cols`` (the sorted, comma-joined
    names of the differing columns of a changed row) and the pre/post
    images ``<col>_old``/``<col>_new`` of every compare column (Delta's
    preimage/postimage). ``compare_cols`` defaults to every non-key
    column of the newer version; a column the older version lacks
    reads as NULL there, typed from the newer schema, and the older
    side's columns pair with the newer ones by physical name, so a
    ``rename_column`` reads as no change.

    Only leaves whose (dir, deletion vector, appended dirs) triple is
    not in both versions are read. Dirs are immutable, so a shared
    triple holds the same rows at both versions (unless a restore
    re-binds bytes the older version's ``drop_column`` retired — then
    every leaf is read): after a one-leaf commit the diff reads that
    leaf's two versions, after a metadata-only commit nothing (an
    empty frame that runs no Spark job), after ``repartition_table``
    every leaf. The result equals :func:`operators.diff.snapshot_diff`
    of the two snapshots without its ``unchanged`` rows whenever
    ``key_cols`` identify a row within each version."""
    from feature_store_spark.operators.diff import snapshot_diff

    v_new = latest_version(root) if to_version is None else to_version
    if from_version >= v_new:
        raise ValueError(
            f"table_changes: from_version {from_version} must precede "
            f"to_version {v_new}"
        )
    try:
        m_new = read_manifest(root, v_new)
        m_old = read_manifest(root, from_version) if from_version else None
        new_leaves = _leaves(root, v_new, m_new).values()
        old_leaves = _leaves(root, from_version, m_old).values()
    except FileNotFoundError as e:
        raise ValueError(
            f"table_changes: version range {from_version}..{v_new} not "
            f"readable at {root!r} (manifest missing — vacuumed or never "
            "committed; a change stream starts from a retained version: "
            "pass it as read_changes_stream's starting_version, "
            "table_history lists them)"
        ) from e
    schema = StructType.fromJson(m_new["schema"])
    if compare_cols is None:
        compare_cols = [
            f.name for f in schema.fields if f.name not in key_cols
        ]
    retired = set(_retired_physical(m_old))
    pn = _phys_map(m_new)

    def ident(e):
        return (
            e["dir"], (e.get("dv") or {}).get("dir"),
            tuple(e.get("extra_dirs") or ()),
        )

    # a restore past a drop_column re-binds bytes the older version
    # retired, so a leaf both share reads differently: read them all
    shared = (
        set()
        if any(pn.get(c, c) in retired for c in [*key_cols, *compare_cols])
        else {ident(e) for e in old_leaves} & {ident(e) for e in new_leaves}
    )

    def side(m, leaves):
        return _read_entries(
            spark, StructType.fromJson(m["schema"]), _phys_map(m), root,
            [e for e in leaves if ident(e) not in shared],
        )

    new = side(m_new, new_leaves)
    old = _align_logical(
        side(m_old or m_new, old_leaves), m_old or m_new, m_new
    )
    old = old.withColumns({
        f.name: F.lit(None).cast(f.dataType)
        for f in schema.fields
        if f.name in compare_cols and f.name not in old.columns
    })
    return snapshot_diff(
        old, new, list(key_cols), list(compare_cols), include_values=True
    ).filter(F.col("status") != "unchanged")


def read_changes_stream(
    spark: SparkSession,
    root: str,
    checkpoint_dir: str,
    process,
    key_cols: Sequence[str] = ("user_id",),
    compare_cols: Sequence[str] | None = None,
    starting_version: int = 0,
    max_batches: int | None = None,
) -> dict:
    """Streaming CDC *source* over a manifest table — the Delta
    ``readChangeFeed`` analogue: incremental, checkpointed consumption
    of :func:`table_changes`, one micro-batch per commit.

    Each trigger drains the version cursor up to the current tip: for
    every newly committed version ``k`` it calls
    ``process(table_changes(k-1, k) + _commit_version, k)`` and only
    THEN advances the cursor (atomic tmp+rename). A fresh cursor at
    ``starting_version`` 0 therefore delivers version 1 as ``added``
    rows (Delta's initial-snapshot semantics). Crash between process
    and advance re-delivers exactly that commit on restart —
    at-least-once with the version number as the idempotency key, the
    same contract as ``foreachBatch(batch_id)``. A fully drained stream
    replays ZERO batches from its checkpoint; a metadata-only commit
    delivers an empty batch.

    The per-commit frames are lazy Spark plans over the leaves the
    commit changed, so the work distributes; only the cursor lives on
    the driver. Returns {batches, from_version, to_version}."""
    if process is None or not callable(process):
        raise ValueError("read_changes_stream: process callback required")
    os.makedirs(checkpoint_dir, exist_ok=True)
    off_path = os.path.join(checkpoint_dir, "offset.json")

    def _read_cursor() -> int:
        try:
            with open(off_path) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            return starting_version

    def _advance(k: int) -> None:
        tmp = off_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": k}, f)
        os.replace(tmp, off_path)

    cursor = _read_cursor()
    start = cursor
    tip = latest_version(root)
    if tip < cursor:
        raise ValueError(
            f"read_changes_stream: checkpoint cursor {cursor} is beyond "
            f"the tip {tip} of {root!r} — wrong table or reset history"
        )
    n = 0
    while cursor < tip and (max_batches is None or n < max_batches):
        k = cursor + 1
        ch = table_changes(spark, root, cursor, k, key_cols, compare_cols)
        process(ch.withColumn("_commit_version", F.lit(k)), k)
        _advance(k)
        cursor = k
        n += 1
    return {"batches": n, "from_version": start, "to_version": cursor}


def engine_metrics(
    spark: SparkSession,
    tables: dict,
    now: float | None = None,
) -> DataFrame:
    """Per-table engine gauges from the manifest layer — the analogue
    of the reference's Prometheus gauges (`src/main.py:95-133`
    ``feature_store_db_*`` / ``feature_store_pipeline_*``), emitted as
    a queryable (table, metric, value) frame that feeds
    ``evaluate_alerts`` with the ``database_alert_rules`` pack.

    ``tables`` maps table name → manifest root. Metadata-only: every
    gauge derives from manifest JSONs plus directory stat calls — no
    Spark job, no data read (the frame is a ``local_frame`` over a
    driver-side list of a dozen rows per table, so a consumer's join
    against it — ``evaluate_alerts`` — forks no Python worker).

    Gauges per table: ``readable`` (1/0 — the health check),
    ``version``, ``rows``, ``bytes``, ``files``, ``avg_file_bytes``
    (compaction pressure), ``partitions``, ``commits_retained``
    (vacuum debt), ``dv_deleted_rows`` + ``extra_dirs``
    (merge-on-read debt — what a
    ``purge_deletes`` trigger watches), ``seconds_since_last_commit``
    (ingest liveness; ``now`` injectable for determinism, wall clock
    by default) and
    ``commit_interval_max_seconds`` over the retained history. An
    unreadable/empty table reports ``readable = 0`` and no other
    gauges (PromQL absent-metric semantics downstream)."""
    import time

    ts_now = time.time() if now is None else float(now)
    rows: list = []
    for name, root in sorted(tables.items()):
        try:
            v = latest_version(root)
            if v == 0:
                raise FileNotFoundError(root)
            m = read_manifest(root, v)
            dirs = _version_dirs(root, v, m)
            entries = list(_leaves(root, v, m).values())
        except (FileNotFoundError, ValueError, OSError):
            rows.append((name, "readable", 0.0))
            continue
        rows.append((name, "readable", 1.0))
        rows.append((name, "version", float(v)))
        rows.append((name, "rows", float(m.get("rows", 0))))
        nbytes = sum(_dir_bytes(os.path.join(root, d)) for d in dirs)
        nfiles = sum(
            _leaf_file_count(os.path.join(root, d)) for d in dirs
        )
        rows.append((name, "bytes", float(nbytes)))
        rows.append((name, "files", float(nfiles)))
        rows.append(
            (name, "avg_file_bytes", nbytes / nfiles if nfiles else 0.0)
        )
        # entry count, not dir count: merge-on-read appended dirs
        # would otherwise inflate the partition gauge
        rows.append((name, "partitions", float(len(entries))))
        # merge-on-read debt gauges: soft-deleted positions and
        # appended update/merge dirs awaiting a purge/compaction
        # rewrite — what a purge_deletes trigger watches
        dv_debt = sum(
            (e.get("dv") or {}).get("deleted", 0) for e in entries
        )
        rows.append((name, "dv_deleted_rows", float(dv_debt)))
        rows.append(
            (name, "extra_dirs",
             float(sum(len(e.get("extra_dirs") or []) for e in entries)))
        )
        commit_times = []
        versions = _list_versions(root)
        rows.append((name, "commits_retained", float(len(versions))))
        for vv in versions:
            try:
                c = read_manifest(root, vv).get("committed_at")
            except FileNotFoundError:
                continue
            if c is not None:
                commit_times.append(c)
        if commit_times:
            rows.append(
                (name, "seconds_since_last_commit",
                 max(0.0, ts_now - max(commit_times)))
            )
            gaps = [
                b - a
                for a, b in zip(commit_times, commit_times[1:])
            ]
            rows.append(
                (name, "commit_interval_max_seconds",
                 max(gaps) if gaps else 0.0)
            )
    return local_frame(
        spark, rows, "table string, metric string, value double"
    )


def repartition_table(
    spark: SparkSession,
    root: str,
    partition_col: str | None,
    stats_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """Partition-LAYOUT evolution (the Iceberg partition-spec-change
    analogue, done eagerly): republish the whole table under a new
    partition column — flat → partitioned, partitioned → flat
    (``partition_col=None``), or partitioned → re-keyed. The one
    verb the layered verbs refuse (``upsert_manifest*`` guard against
    layout mixing because an accidental switch collapses a layout;
    this one switches it ON PURPOSE, in one atomic commit).

    Full O(table) rewrite by design — the job one schedules when a
    partition choice ages (e.g. daily → monthly, or re-keying facts
    by the join column the workload actually uses). History is
    intact: earlier versions still time-travel under their own
    layout; deletion vectors are read through and purged by the
    rewrite; column mapping / constraints / protocol carry.
    ``stats_cols`` / ``bloom_cols`` record data-skipping metadata on
    the new leaves. Returns {version, partitions, rows, committed}."""

    def attempt(v, tip, leaves, written):
        schema = StructType.fromJson(tip["schema"])
        fields = {f.name: f for f in schema.fields}
        if partition_col is not None and partition_col not in fields:
            raise ValueError(
                f"repartition_table: partition column {partition_col!r} "
                "is not in the table schema"
            )
        phys = _phys_map(tip)
        # the rows cannot change between the read and the write; a
        # total that disagrees with the tip's means the tip moved
        new_leaves = _land(
            root, "repartition_table", phys,
            _read_entries(spark, schema, phys, root, leaves.values()),
            partition_col, written, expected=tip["rows"],
            stats=_resolve_stats_fields(schema, stats_cols, partition_col)
            if partition_col else (),
            bloom=_resolve_bloom_fields(schema, bloom_cols, partition_col)
            if partition_col else (),
        )
        return _Commit(
            {"op": "repartition"}, partition_col, new_leaves, None,
            lambda nv, rows: {
                "version": nv, "partitions": len(new_leaves),
                "rows": rows, "committed": True,
            },
        )

    return _commit(root, "repartition_table", attempt, max_retries, backend)


def register_tables(
    spark: SparkSession,
    tables: dict,
    versions: dict | None = None,
    prefix: str = "",
) -> dict:
    """Register manifest tables as TEMP VIEWS so plain ``spark.sql``
    queries them directly — the SQL front door over the table layer:
    reads go through :func:`read_table`, so deletion vectors, column
    mapping, data skipping on later filters (Catalyst pushes them into
    the pinned scan), and time travel all apply transparently.

    ``tables`` maps view name → manifest root; ``versions`` optionally
    pins per-name versions (``{"orders": 3}``) — everything else reads
    the tip AT REGISTRATION TIME (snapshot isolation: later commits
    never shift a registered view; re-register to advance, and keep
    vacuum retention ≥ the registration window). Returns the pinned
    {name: version} map."""
    pinned: dict = {}
    versions = versions or {}
    for name, root in sorted(tables.items()):
        df, v = read_table(spark, root, versions.get(name))
        if df is None:
            raise ValueError(
                f"register_tables: {root!r} has no committed versions"
            )
        df.createOrReplaceTempView(f"{prefix}{name}")
        pinned[name] = v
    return pinned


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE HISTORY for manifest tables (Delta `history()` /
    Iceberg `snapshots` analogue): one row per RETAINED version —
    (version, op, committed_at, rows, n_updated_partitions,
    n_removed_partitions, base_version), newest first. Reads only the
    manifest JSONs (no data files, no resolution chain), so it is
    O(retained versions) metadata work; vacuumed versions are absent,
    exactly like Delta after log cleanup. ``op`` is the commit-time
    operation tag (the vocabulary is FORMAT.md §2's op list);
    manifests written before ops were tagged report NULL
    op/committed_at.
    """
    rows = []
    for v in _list_versions(root):
        try:
            m = read_manifest(root, v)
        except FileNotFoundError:  # concurrent vacuum pruned it
            continue
        ts = m.get("committed_at")
        rows.append(
            (
                v,
                m.get("op"),
                float(ts) if ts is not None else None,
                m.get("rows"),
                # only delta manifests KNOW what a commit touched; a
                # format-2 full map would inflate the metric with
                # every carried-forward entry
                (len(m["updates"]) or None) if "updates" in m else None,
                len(m.get("removed", [])) or None,
                m.get("base_version"),
                json.dumps(m["protocol"], sort_keys=True)
                if m.get("protocol")
                else None,
            )
        )
    df = local_frame(
        spark,
        rows,
        "version int, op string, committed_at_epoch double, "
        "rows bigint, n_updated_partitions int, "
        "n_removed_partitions int, base_version int, protocol string",
    )
    return df.select(
        "version",
        "op",
        F.col("committed_at_epoch").cast("timestamp").alias("committed_at"),
        "rows",
        "n_updated_partitions",
        "n_removed_partitions",
        "base_version",
        "protocol",
    ).orderBy(F.desc("version"))


def vacuum(
    root: str,
    keep_last: int = 1,
    orphan_grace_seconds: float | None = None,
    backend: LocalLinkBackend | None = None,
    dry_run: bool = False,
    retain_hours: float | None = None,
) -> list[str]:
    """Delete data directories referenced by no retained manifest
    (retention: the newest ``keep_last`` versions). Returns the
    removed data dirs. ``dry_run=True`` computes and returns the SAME
    list without deleting anything (and without writing the pre-prune
    checkpoint) — the operational what-would-go audit every VACUUM
    implementation grows. Concurrency: the tip is snapshotted once and
    only versions ≤ that tip are ever pruned, so a commit landing
    mid-vacuum (which is necessarily newer than the snapshotted tip)
    can never have its manifest or data deleted; in-flight writers'
    uncommitted data dirs are likewise untouched by the
    manifest-driven prune.

    Crash-orphaned data dirs (written, never published — a writer
    died between data write and manifest link) are reclaimed only
    when ``orphan_grace_seconds`` is set: any ``data/`` subdirectory
    referenced by NO manifest whose mtime is older than the grace
    window is removed. The grace window is what makes this safe —
    an in-flight writer's dir is also unreferenced, so pick a grace
    comfortably above the longest plausible commit (Delta's
    tombstone-retention rule); ``None`` (default) leaves orphans
    alone.

    ``retain_hours`` is Delta's ``VACUUM ... RETAIN <n> HOURS``
    ergonomics over commit timestamps: every version committed within
    the horizon is ADDITIONALLY retained (union with the keep_last
    window, so the tip always survives). A version whose commit time
    is unknowable (pre-op-tag manifest without ``committed_at``) is
    conservatively retained — refusing to date it beats deleting it."""
    if keep_last < 1:
        raise ValueError("vacuum must keep at least the newest version")
    if retain_hours is not None and retain_hours < 0:
        raise ValueError("retain_hours must be >= 0")
    removed: list[str] = []
    on_disk = _list_versions(root)
    tip = max(on_disk, default=0)
    if tip:
        # only versions that actually exist can be kept or pruned —
        # an earlier, more aggressive vacuum may have removed part of
        # the keep window already (keep_last grew between runs)
        keep_versions = {
            v for v in on_disk if v > tip - keep_last
        }
        if retain_hours is not None:
            import time as _time

            cutoff = _time.time() - retain_hours * 3600.0
            oldest_in_horizon = None
            for v in sorted(on_disk):
                if v in keep_versions:
                    continue
                try:
                    c = read_manifest(root, v).get("committed_at")
                except FileNotFoundError:
                    continue  # concurrent vacuum owns it
                if c is None or c >= cutoff:
                    oldest_in_horizon = v
                    break
            if oldest_in_horizon is not None:
                # the retained set must stay a CONTIGUOUS suffix of
                # the history (Delta log cleanup deletes a prefix):
                # a time-retained version below pruned versions would
                # strand delta-manifest resolution chains
                keep_versions.update(
                    v for v in on_disk if v >= oldest_in_horizon
                )
        # a version published AFTER the tip snapshot is a live
        # concurrent commit — pruning it would destroy committed
        # data; everything newer than the snapshot is left alone
        prunable = [v for v in on_disk if v <= tip and v not in keep_versions]
        # every read/remove in the prune pass tolerates a CONCURRENT
        # vacuum having already deleted the manifest between our
        # _list_versions snapshot and the access — mirroring the
        # orphan pass below; without it two simultaneous vacuums crash
        # one with FileNotFoundError.
        # Delta manifests chain through EARLIER versions, so every
        # version's dir set is resolved BEFORE anything is deleted.
        # A KEPT version that fails to resolve (a concurrent vacuum
        # with a newer tip pruned its chain mid-read) ABORTS the
        # prune pass: proceeding with an incomplete kept_dirs could
        # delete a carried-forward leaf that kept version still
        # references — the concurrent vacuum owns this window and
        # will do the pruning itself. A prunable version that fails
        # is merely skipped (already being handled).
        dirs_by_v: dict[int, list[str]] = {}
        aborted = False
        for v in sorted(keep_versions | set(prunable)):
            try:
                dirs_by_v[v] = _version_dirs(root, v, include_dv=True)
            except FileNotFoundError:
                if v in keep_versions:
                    aborted = True
                    break
                continue
        if aborted:
            prunable = []
        kept_dirs = set()
        for v in keep_versions:
            kept_dirs.update(dirs_by_v.get(v, []))
        if prunable and keep_versions and not dry_run:
            # invariant that keeps retained deltas resolvable after
            # their ancestors' manifests are pruned: the OLDEST kept
            # version gets a full-map checkpoint first (no-op for
            # unpartitioned tables and for versions already rolled up)
            ok = min(keep_versions)
            try:
                m_ok = read_manifest(root, ok)
                if _pcol(m_ok) and not os.path.exists(
                    _ckpt_path(root, ok)
                ):
                    _maybe_checkpoint(
                        root,
                        ok,
                        resolve_partitions(root, ok),
                        backend,
                        force=True,
                    )
            except FileNotFoundError:
                pass  # concurrent vacuum owns this window
        reported = set()
        for v in prunable:
            if v not in dirs_by_v:
                continue
            for data_dir in dirs_by_v[v]:
                if os.path.isabs(data_dir):
                    # shallow-clone foreign leaf: lives under the
                    # SOURCE table's root and is owned by ITS vacuum —
                    # this table's vacuum must never reach outside its
                    # own root
                    continue
                # resolved maps repeat carried-forward dirs across
                # versions — delete/report each at most once
                if data_dir not in kept_dirs and data_dir not in reported:
                    path = os.path.join(root, data_dir)
                    if dry_run:
                        if os.path.exists(path):
                            removed.append(data_dir)
                            reported.add(data_dir)
                        continue
                    shutil.rmtree(path, ignore_errors=True)
                    if not os.path.exists(path):  # report real removals
                        removed.append(data_dir)
                        reported.add(data_dir)
                    _rmdir_if_no_live_children(
                        os.path.dirname(path), root, kept_dirs
                    )
            if dry_run:
                continue
            try:
                os.remove(_manifest_path(root, v))
            except FileNotFoundError:
                pass
            # a pruned version's rollup is dead weight once its
            # manifest is gone (kept versions resolve via the oldest-
            # kept checkpoint written above)
            try:
                os.remove(_ckpt_path(root, v))
            except FileNotFoundError:
                pass
    if orphan_grace_seconds is not None:
        # runs even on a zero-commit table: a writer that crashed
        # before its FIRST publish is exactly the 'no manifest ever
        # referenced it' case
        import time

        referenced = set()
        for v in _list_versions(root):
            try:
                dirs = _version_dirs(root, v, include_dv=True)
            except FileNotFoundError:
                # v's OWN manifest vanished (a concurrent vacuum
                # pruned it) -> its dirs live on only if a retained
                # version carries them, which that vacuum's
                # oldest-kept rollup guarantees resolvable — safe to
                # skip v. But if v's manifest EXISTS and only its
                # CHAIN is broken (resolve_partitions exhausted its
                # retries mid-race), an incomplete `referenced` set
                # could orphan-delete dirs v still references — abort
                # the orphan pass; the next vacuum retries.
                if os.path.exists(_manifest_path(root, v)):
                    return removed
                continue
            for d in dirs:
                # a partition leaf (data/<uuid>/__ptok=x) keeps its
                # whole commit dir (data/<uuid>) off the orphan list
                referenced.add("/".join(d.split("/")[:2]))
        data_root = os.path.join(root, DATA_DIR)
        cutoff = time.time() - orphan_grace_seconds
        subs = sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []
        for sub in subs:
            rel = f"{DATA_DIR}/{sub}"
            path = os.path.join(data_root, sub)
            if rel in referenced:
                continue
            try:
                mtime = os.path.getmtime(path)
            except FileNotFoundError:
                # a losing writer's own cleanup (or a concurrent
                # vacuum) removed it between listdir and stat
                continue
            if mtime <= cutoff:
                if dry_run:
                    removed.append(rel)
                    continue
                shutil.rmtree(path, ignore_errors=True)
                if not os.path.exists(path):
                    removed.append(rel)
    return removed


def table_files(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Files metadata table (Delta DESCRIBE DETAIL / Iceberg ``files``
    analogue): one row per live leaf of the pinned version —
    (partition, dir, rows, n_files, bytes, has_stats, has_bloom,
    dv_deleted — cumulative deletion-vector positions, NULL when the
    leaf has none; extra_dirs — count of merge-on-read appended dirs),
    partition NULL for unpartitioned snapshots. n_files/bytes span the
    base dir AND its extras. Metadata-only: reads the manifest chain
    and stats the leaf dirs, never a data file's contents — the
    operational view OPTIMIZE/vacuum decisions are made from (e.g.
    ``min_files`` thresholds, stats coverage audits, DV/update debt
    gauges)."""
    v = latest_version(root) if version is None else version
    if v == 0:
        raise ValueError(f"{root!r} has no committed versions")
    m = read_manifest(root, v)
    rows = []

    def leaf_row(pk, e):
        dirs = _entry_dirs(root, e)
        return (
            pk,
            e["dir"],
            e.get("rows"),
            sum(_leaf_file_count(d) for d in dirs),
            sum(_dir_bytes(d) for d in dirs),
            bool(e.get("stats")),
            bool(e.get("bloom")),
            (e.get("dv") or {}).get("deleted"),
            len(e.get("extra_dirs") or []),
        )

    pcol = _pcol(m)
    for pk, e in sorted(_leaves(root, v, m).items()):
        rows.append(leaf_row(pk if pcol else None, e))
    return local_frame(
        spark,
        rows,
        "partition string, dir string, rows bigint, n_files int, "
        "bytes bigint, has_stats boolean, has_bloom boolean, "
        "dv_deleted bigint, extra_dirs int",
    )


def schema_changes(spark: SparkSession, root: str) -> DataFrame:
    """Schema lineage across retained versions — which commit added,
    dropped, retyped, or renamed which column (the audit Delta users
    run over DESCRIBE HISTORY + schema diffs by hand). One row per
    changed column per version transition: (version, column, change ∈
    added/dropped/retyped/renamed, from_type, to_type). A
    ``rename_column`` commit reports ONE ``renamed`` row whose
    ``column`` reads ``old->new`` — never the drop+add pair a naive
    name diff would show (the physical column is the same).
    Metadata-only — manifest JSONs, no data files; vacuumed ancestors
    simply bound how far back the lineage reaches (their transitions
    report against the oldest retained schema's version gap)."""
    versions = _list_versions(root)
    rows = []
    prev_schema: dict | None = None
    prev_v: int | None = None
    for v in versions:
        try:
            m = read_manifest(root, v)
        except FileNotFoundError:
            continue  # concurrent vacuum
        cur = {
            f["name"]: f["type"] if isinstance(f["type"], str)
            else json.dumps(f["type"], sort_keys=True)
            for f in m["schema"]["fields"]
        }
        if prev_schema is not None:
            ren = {
                old: new
                for old, new in (m.get("renames") or {}).items()
                if old in prev_schema and new in cur
            }
            for old in sorted(ren):
                rows.append(
                    (v, f"{old}->{ren[old]}", "renamed",
                     prev_schema[old], cur[ren[old]])
                )
            renamed_to = set(ren.values())
            for c in sorted(cur.keys() - prev_schema.keys() - renamed_to):
                rows.append((v, c, "added", None, cur[c]))
            for c in sorted(
                prev_schema.keys() - cur.keys() - ren.keys()
            ):
                rows.append((v, c, "dropped", prev_schema[c], None))
            for c in sorted(cur.keys() & prev_schema.keys()):
                if cur[c] != prev_schema[c]:
                    rows.append((v, c, "retyped", prev_schema[c], cur[c]))
        prev_schema, prev_v = cur, v
    return local_frame(
        spark,
        rows,
        "version int, column string, change string, "
        "from_type string, to_type string",
    )
