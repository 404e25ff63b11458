"""Transactional multi-writer upsert: manifest-commit parquet tables.

``upsert_parquet`` (pipelines/sinks.py) is crash-safe via its staged
tmp-path rename, but two CONCURRENT writers can still interleave
read-merge-overwrite and silently lose one writer's keys — the
reference never has this problem because its merge is an atomic
per-statement ``INSERT … ON CONFLICT (user_id) DO UPDATE``
(`src/pipelines/batch_pipeline.py:221-310`). This module closes the
gap with the standard lake-format answer re-implemented minimally
(the Delta/Iceberg commit protocol, public in both projects' specs):

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
file per commit, the same full-snapshot merge cost as
``upsert_parquet`` (at 100 TB, pair it with the partition-scoped
merge so each commit's data dir holds only touched partitions, or
swap the whole module for Delta — the call-site contract is
identical). ``vacuum`` reclaims data directories referenced only by
pruned manifests, plus — behind an explicit grace window —
crash-orphaned dirs no manifest ever referenced.

The full table-format surface as of round 6:

- **Writes**: ``upsert_manifest`` (full snapshot) /
  ``upsert_manifest_partitioned`` (O(touched partitions); merge or
  replace; schema evolution with a type-widening matrix; optional
  ``stats_cols``/``bloom_cols`` data-skipping metadata; optional
  commit-time CHECK ``constraints`` — write-audit-publish).
- **DML**: ``delete_where`` / ``update_where`` (SQL NULL semantics,
  only may-match leaves rewritten) and ``drop_partitions``
  (zero-data-work partition expiration).
- **Reads**: ``read_table`` with version pinning, ``timestamp_as_of``
  time travel, manifest-level partition pruning, and ``where=`` data
  skipping (ranges, equality, IN-lists; leaf stats + Bloom filters;
  the predicate also applies as a real filter, so pruning can only
  save work).
- **Maintenance**: ``compact_manifest`` (OPTIMIZE, auto-compaction
  ``min_files``, ``zorder_cols`` re-clustering), ``vacuum`` (with
  ``dry_run``), checkpoint rollups + ``_last_checkpoint`` tip hint
  (listing-free resolution), ``migrate_to_manifest``.
- **Metadata**: ``table_history`` (DESCRIBE HISTORY),
  ``table_files`` (files view), ``schema_changes`` (schema lineage),
  ``table_changes`` (CDC with byte-identity partition skipping).
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


def _is_partitioned(m: dict) -> bool:
    """Partition-scoped layout in either encoding: format 2 (full
    ``partitions`` map) or format 3 (delta ``updates``)."""
    return "partitions" in m or "updates" in m


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
    if "data_dir" in m:
        out = [m["data_dir"]] + list(m.get("extra_dirs") or [])
        if include_dv and m.get("dv"):
            out.append(m["dv"]["dir"])
        return out
    entries = (
        list(m["partitions"].values())
        if "partitions" in m
        else list(resolve_partitions(root, version).values())
    )
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


def _read_entries(
    spark: SparkSession,
    schema: StructType,
    phys: dict,
    root: str,
    entries,
) -> DataFrame:
    """DV-aware union read of manifest leaf entries (dicts with
    ``dir`` and optional ``dv``). Falls back to the single plain
    columnar read when no entry carries a deletion vector — the
    pre-DV fast path, plan-identical."""
    entries = list(entries)
    plain = []
    for e in entries:
        if not e.get("dv"):
            # extra dirs without a DV are just more files of the leaf
            plain.extend(
                os.path.join(root, d)
                for d in [e["dir"]] + list(e.get("extra_dirs") or [])
            )
    dvd = [e for e in entries if e.get("dv")]
    if not dvd:
        if not plain:
            return spark.createDataFrame([], schema)
        return _read_data(spark, schema, phys, plain)
    parts = []
    if plain:
        parts.append(_read_data(spark, schema, phys, plain))
    for e in dvd:
        parts.append(
            _scan_leaf_with_pos(
                spark,
                schema,
                phys,
                _entry_dirs(root, e),
                os.path.join(root, e["dv"]["dir"]),
            ).drop("__dv_file", "__dv_pos")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _flat_entry(m: dict) -> dict:
    """The unpartitioned manifest's single leaf as an entry dict."""
    e = {"dir": m["data_dir"]}
    if m.get("dv"):
        e["dv"] = m["dv"]
    if m.get("extra_dirs"):
        e["extra_dirs"] = m["extra_dirs"]
    return e


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
    if partition_values is not None or (
        preds is not None and _is_partitioned(m)
    ):
        pmap = resolve_partitions(root, v)
        if partition_values is not None:
            wanted = {_pkey(pv) for pv in partition_values}
            pmap = {pk: e for pk, e in pmap.items() if pk in wanted}
        if preds is not None:
            pcol = m["partition_col"]
            pmap = {
                pk: e
                for pk, e in pmap.items()
                if _entry_may_match(e, pk, preds, pcol)
            }
        df = _read_entries(spark, schema, _phys_map(m), root, pmap.values())
        if preds is not None:
            df = df.filter(_where_expr(preds))
        return df, v
    # format 1 manifests reference one snapshot dir; formats 2/3
    # (partitioned) one immutable leaf dir per live partition (deltas
    # resolve through the checkpoint chain) — either way the read is a
    # union of entries (deletion vectors applied per leaf) under the
    # version's pinned schema (older leaves with narrower/missing
    # columns widen/null-fill natively in the parquet reader)
    if "data_dir" in m:
        entries = [_flat_entry(m)]
    elif "partitions" in m:
        entries = list(m["partitions"].values())
    else:
        entries = list(resolve_partitions(root, v).values())
    df = _read_entries(spark, schema, _phys_map(m), root, entries)
    if preds is not None:
        df = df.filter(_where_expr(preds))
    return df, v


def _is_path_not_found(e: Exception) -> bool:
    """Spark surfaces a vanished data directory as AnalysisException
    PATH_NOT_FOUND at read-analysis time — the vacuum-race signal for
    the writer retry loops (vacuum deletes a pruned version's data
    dirs BEFORE its manifest, so a writer can resolve a manifest and
    then lose the dirs underneath it)."""
    condition = (
        e.getCondition()
        if hasattr(e, "getCondition")
        else e.getErrorClass()
        if hasattr(e, "getErrorClass")
        else None
    )
    return condition == "PATH_NOT_FOUND" or (
        condition is None and "PATH_NOT_FOUND" in str(e)
    )


def _guard_foreign_store(root: str) -> None:
    """Refuse to treat a plain ``upsert_parquet`` store as an empty
    transactional table. A root previously written by the non-txn sink
    has part files directly under it but no ``_manifests/``; silently
    committing a first manifest there would publish a snapshot that
    drops every previously upserted key (and pollute the plain store
    with data/ + _manifests/ subdirs for the reverse toggle). The
    mirror guard lives in ``sinks.upsert_parquet``."""
    if not os.path.isdir(root):
        return
    for e in os.listdir(root):
        if (
            e.startswith("part-")
            or e.endswith(".parquet")
            or e == "_SUCCESS"
            # a hive-partitioned plain store (upsert_parquet_partitioned
            # / export_warehouse) whose _SUCCESS marker is absent still
            # announces itself through its col=value partition dirs
            or (
                "=" in e
                and not e.startswith(".")
                and os.path.isdir(os.path.join(root, e))
            )
        ):
            raise ValueError(
                f"{root!r} holds a non-transactional parquet store "
                f"(found {e!r}); committing a manifest on top would "
                "silently drop its keys. Migrate explicitly: read the "
                "old store, upsert_manifest it into a FRESH root, then "
                "retire the old path"
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
    on GCS ``x-goog-if-generation-match: 0``. The optimistic loop in
    :func:`upsert_manifest` is proven against a lossy backend in
    ``tests/test_txn.py`` (fault-injection fake failing N puts)."""

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
    """``upsert_parquet`` semantics (last-writer-wins per key on
    ``order_col``, update beats store on ties) with SERIALIZABLE
    multi-writer safety: concurrent upserts cannot lose each other's
    keys — the loser of a version race re-merges against the winner's
    snapshot and commits on top (pytest: two interleaved writers, no
    lost update; crash mid-write leaves the old snapshot readable).
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
    spark = updates.sparkSession
    txn_w = _txn_validate(txn)
    if latest_version(root) == 0:
        _guard_foreign_store(root)
    from pyspark.errors import AnalysisException

    for _ in range(max_retries):
        try:
            base, v = read_table(spark, root)
            tip_manifest = read_manifest(root, v) if v else None
        except FileNotFoundError:
            # a concurrent vacuum pruned the version between
            # latest_version and the manifest read — the tip moved;
            # loop to re-resolve it (the optimistic-retry recovery)
            continue
        except AnalysisException as e:
            if _is_path_not_found(e):
                continue  # vacuum deleted the version's data dirs
            raise
        if tip_manifest is not None and _is_partitioned(tip_manifest):
            raise ValueError(
                f"{root!r} is a PARTITION-SCOPED manifest table; a "
                "full-snapshot commit on top would collapse its layout "
                "— use upsert_manifest_partitioned"
            )
        if _txn_already_applied(tip_manifest, txn_w):
            # idempotent replay: this (app_id, version) already landed
            return int(tip_manifest.get("rows") or 0)
        if base is not None:
            base2, upd2 = _reconcile_schemas(
                base, updates, allow_schema_evolution
            )
            merged = latest_per_key(
                base2.withColumn("__src", F.lit(0)).unionByName(
                    upd2.withColumn("__src", F.lit(1)),
                    allowMissingColumns=allow_schema_evolution,
                ),
                list(key_cols),
                order_col,
                tiebreak_col="__src",
            ).drop("__src")
        else:
            merged = latest_per_key(updates, list(key_cols), order_col)
        phys = _phys_map(tip_manifest)
        _validate_mapping(
            merged.schema, phys, _retired_physical(tip_manifest)
        )
        data_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        data_path = os.path.join(root, data_rel)
        obs = Observation()
        _write_physical(
            merged.observe(obs, F.count(F.lit(1)).alias("rows")), phys
        ).write.parquet(data_path)
        n = int(obs.get["rows"])
        checks = _effective_constraints(tip_manifest, constraints)
        if checks:
            # validate the WRITTEN snapshot (columnar re-scan, no
            # recomputation of the merge) against table-level +
            # per-call constraints; a violation aborts before the
            # manifest ever publishes — write-audit-publish
            try:
                _check_constraints(
                    _read_data(spark, merged.schema, phys, [data_path]),
                    checks,
                )
            except ValueError:
                shutil.rmtree(data_path, ignore_errors=True)
                raise
        manifest = _txn_stamp(
            {
                "op": "upsert",
                "base_version": v,
                "data_dir": data_rel,
                "rows": n,
                "schema": merged.schema.jsonValue(),
                **_carry_mapping(tip_manifest),
            },
            txn_w,
        )
        if _try_commit(root, v + 1, manifest, backend):
            return n
        # another writer published v+1 first: our snapshot is stale.
        # Drop the orphan data dir and re-merge against the new tip.
        shutil.rmtree(data_path, ignore_errors=True)
    raise RuntimeError(
        f"upsert_manifest: gave up after {max_retries} version races "
        f"at {root!r} — contention this hot needs a coordinator or a "
        "real lake format"
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
    depth at any partition count."""
    from pyspark.sql.types import StringType, StructField

    return spark.createDataFrame(
        [(val, _ptoken(pk)) for pk, val in pk_to_val.items()],
        StructType(
            [pcol_field, StructField("__ptok", StringType(), False)]
        ),
    )


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


def _leaf_stats(readback_df, pcol: str, stats_fields) -> dict:
    """Per-partition {pkey: {"rows": n, "stats": {...}}} off ONE
    columnar scan of freshly written leaves (the same read that
    produces the commit's row counts)."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, f in enumerate(stats_fields):
        aggs += [
            F.min(f.name).alias(f"__mn{i}"),
            F.max(f.name).alias(f"__mx{i}"),
            F.count(F.when(F.col(f.name).isNull(), 1)).alias(f"__nl{i}"),
        ]
    out = {}
    for r in readback_df.groupBy(pcol).agg(*aggs).collect():
        stats = {}
        for i, f in enumerate(stats_fields):
            mn = _stat_encode(r[f"__mn{i}"])
            mx = _stat_encode(r[f"__mx{i}"])
            nulls = int(r[f"__nl{i}"])
            if (mn is None) != (mx is None):
                continue  # a non-finite float endpoint — unusable
            stats[f.name] = {"min": mn, "max": mx, "nulls": nulls}
        out[_pkey(r[0])] = {"rows": int(r["__rows"]), "stats": stats}
    return out


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


def _leaf_blooms(readback_df, pcol: str, bloom_fields) -> dict:
    """{pkey: {col: base64 bitmap}} — one distinct+collect per bloom
    column over the freshly written leaves (opt-in commit cost;
    positions per leaf are bounded by the bitmap size, so the collect
    is O(leaves × m) metadata, never row data)."""
    out: dict = {}
    for f in bloom_fields:
        poss = F.array(*_bloom_pos_exprs(f))
        rows = (
            readback_df.where(F.col(f.name).isNotNull())
            .select(F.col(pcol), F.explode(poss).alias("__pos"))
            .distinct()
            .groupBy(pcol)
            .agg(F.collect_set("__pos").alias("__ps"))
            .collect()
        )
        for r in rows:
            out.setdefault(_pkey(r[0]), {})[f.name] = _bloom_encode(
                [int(p) for p in r["__ps"]]
            )
    return out


def _resolve_bloom_fields(schema: StructType, bloom_cols, partition_col):
    fields = {f.name: f for f in schema.fields}
    out = []
    for c in bloom_cols:
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
    for c in stats_cols:
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
    """Partition-scoped transactional upsert: ``upsert_manifest``'s
    multi-writer safety at ``upsert_parquet_partitioned``'s cost.
    A commit READS and WRITES only the partitions the updates touch —
    the manifest maps partition → immutable leaf directory, and a new
    version's map carries every untouched partition's entry forward
    verbatim (its files are never re-read, re-written, or moved). The
    commit cost is O(updated partitions), matching the reference's
    per-row ``INSERT … ON CONFLICT`` merge footprint
    (`src/pipelines/batch_pipeline.py:221-310`) instead of the
    O(table) full-snapshot rewrite of the unpartitioned form.

    Layout: each commit writes its touched partitions in ONE Spark job
    to ``data/<uuid>/__ptok=<token>/`` (``__ptok`` is a synthetic
    hash of the partition key used purely for file layout — the real
    partition column stays inside the data files, so readers just
    union leaf dirs with the pinned schema, no Hive-path parsing).

    Concurrency: the same optimistic manifest race as
    ``upsert_manifest``, plus Delta-style conflict resolution — a
    writer that loses the version race checks whether the winner
    touched any of ITS partitions; if not (disjoint writers), it
    re-publishes the SAME already-written data dirs on top of the new
    tip with zero additional Spark work, else it re-merges only the
    touched partitions against the new tip. Returns the committed
    table's total row count.

    ``mode``: ``"merge"`` (default) last-writer-wins rows INTO each
    touched partition (keys absent from the updates survive);
    ``"replace"`` REPLACES each touched partition's contents with the
    updates' rows — dynamic-partition-overwrite semantics under the
    same atomic commit (a repair re-run that dropped keys actually
    drops them). Replace never reads base partition data, so its
    commit is cheaper still; the table schema is still reconciled.

    ``key_cols=None`` (replace mode only) skips the per-key
    last-writer-wins dedupe entirely: every update row lands verbatim,
    matching a plain dynamic partition overwrite row-for-row — the
    passthrough a multi-row-per-key-per-partition export needs
    (``export_warehouse(transactional=True)`` uses it so both its
    modes write identical row sets).

    ``stats_cols`` records per-leaf min/max/null-count for the named
    (orderable, non-partition) columns in the manifest entry — the
    data-skipping statistics ``read_table(where=...)`` prunes leaf
    directories with. Computed on the SAME columnar read-back that
    produces the commit's row counts (no extra job); untouched
    partitions carry their previously recorded stats forward with
    their leaves. Columns added later by schema evolution simply have
    no stats on older leaves — those leaves stay unprunable for that
    column, never wrong.

    ``bloom_cols`` additionally records a per-leaf Bloom filter for
    the named equality-canonical columns (see the bloom section above)
    — the point-lookup complement to min/max: an ``=`` predicate in
    ``read_table(where=...)`` skips leaves whose filter proves the key
    absent. Costs one distinct+collect per bloom column over the
    touched leaves at commit time (opt-in)."""
    if mode not in ("merge", "replace"):
        raise ValueError(f"mode must be 'merge' or 'replace', got {mode!r}")
    if key_cols is None and mode != "replace":
        raise ValueError(
            "key_cols=None (no-dedupe passthrough) requires "
            "mode='replace'; merge needs keys to merge on"
        )
    if "__ptok" in updates.columns:
        raise ValueError(
            "'__ptok' is reserved for the partition-leaf layout; "
            "rename the column"
        )
    spark = updates.sparkSession
    if latest_version(root) == 0:
        _guard_foreign_store(root)
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    if not touched:
        return 0  # a zero-row batch is a harmless no-op, no commit
    if any(t is None for t in touched):
        raise ValueError(
            f"updates contain NULL {partition_col!r} values; NULL "
            "partitions cannot be merged safely — fill or drop them "
            "before upserting"
        )
    keys = {_pkey(t): t for t in touched}
    tok_map = _ptok_mapping(spark, updates.schema[partition_col], keys)
    written: dict | None = None  # reusable commit from a lost race
    for _ in range(max_retries):
        v = latest_version(root)
        try:
            tip = read_manifest(root, v) if v else None
        except FileNotFoundError:
            # concurrent vacuum pruned v between the listing and the
            # read — the tip moved; re-resolve and retry
            continue
        if tip is not None:
            if not _is_partitioned(tip):
                raise ValueError(
                    f"{root!r} is an UNPARTITIONED manifest table; "
                    "mixing layouts would orphan its snapshot — keep "
                    "using upsert_manifest, or migrate to a fresh root"
                )
            if tip["partition_col"] != partition_col:
                raise ValueError(
                    f"table is partitioned by {tip['partition_col']!r}, "
                    f"not {partition_col!r}"
                )
        try:
            tip_parts: dict = resolve_partitions(root, v) if tip else {}
        except FileNotFoundError:
            # a concurrent vacuum pruned part of the tip's resolution
            # chain between our reads — the tip has moved; re-resolve
            continue
        tip_touched = {
            pk: (tip_parts[pk]["dir"] if pk in tip_parts else None)
            for pk in keys
        }
        if written is not None and (
            # replace-mode output is independent of base partition
            # CONTENTS, so a winner touching the same partitions does
            # not stale the prepared commit — only a schema change
            # does; merge-mode output depends on both
            (mode == "merge" and written["base_touched"] != tip_touched)
            # a schema CHANGE by the race winner also invalidates the
            # prepared commit: re-publishing our pre-evolution schema
            # would silently drop the winner's new/widened columns
            # from the table schema
            or written["base_schema"] != (tip["schema"] if tip else None)
        ):
            # the race winner touched one of OUR partitions (or the
            # schema) — the prepared commit is stale; drop it and
            # re-merge below
            shutil.rmtree(
                os.path.join(root, written["commit_rel"]), ignore_errors=True
            )
            written = None
        if written is None:
            base_entries = [
                tip_parts[pk] for pk in keys if pk in tip_parts
            ]
            if tip is not None:
                # reconcile against the TABLE schema even when every
                # touched partition is new (or mode="replace" never
                # reads base rows): the committed manifest's schema
                # covers the untouched partitions too, so an updates
                # frame with missing/narrower columns must widen (or
                # fail) exactly as if rows overlapped
                from pyspark.errors import AnalysisException

                tip_schema = StructType.fromJson(tip["schema"])
                try:
                    existing = (
                        _read_entries(
                            spark, tip_schema, _phys_map(tip), root,
                            base_entries,
                        )
                        if base_entries and mode == "merge"
                        else spark.createDataFrame([], tip_schema)
                    )
                except AnalysisException as e:
                    if _is_path_not_found(e):
                        # concurrent vacuum deleted the resolved
                        # version's data dirs (it removes dirs BEFORE
                        # the manifest) — re-resolve the tip and retry
                        continue
                    raise
                base2, upd2 = _reconcile_schemas(
                    existing, updates, allow_schema_evolution
                )
                if key_cols is None:
                    # no-dedupe passthrough (replace mode): the union
                    # with the empty reconciled base just widens the
                    # updates to the evolved table schema
                    merged = base2.unionByName(
                        upd2, allowMissingColumns=allow_schema_evolution
                    )
                else:
                    merged = latest_per_key(
                        base2.withColumn("__src", F.lit(0)).unionByName(
                            upd2.withColumn("__src", F.lit(1)),
                            allowMissingColumns=allow_schema_evolution,
                        ),
                        [*key_cols, partition_col],
                        order_col,
                        tiebreak_col="__src",
                    ).drop("__src")
            elif key_cols is None:
                merged = updates
            else:
                merged = latest_per_key(
                    updates, [*key_cols, partition_col], order_col
                )
            stats_fields = (
                _resolve_stats_fields(merged.schema, stats_cols, partition_col)
                if stats_cols
                else []
            )
            bloom_fields = (
                _resolve_bloom_fields(merged.schema, bloom_cols, partition_col)
                if bloom_cols
                else []
            )
            phys = _phys_map(tip)
            _validate_mapping(merged.schema, phys, _retired_physical(tip))
            commit_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
            _write_physical(
                merged.join(F.broadcast(tok_map), partition_col), phys
            ).write.partitionBy("__ptok").parquet(
                os.path.join(root, commit_rel)
            )
            # per-partition row counts off the freshly written leaves
            # (columnar scan of ONE column; merged itself is not
            # recomputed) — they make every version's total composable
            # from its map without touching untouched partitions
            leaf = {
                pk: f"{commit_rel}/__ptok={_ptoken(pk)}" for pk in keys
            }
            missing = [
                pk
                for pk, d in leaf.items()
                if not os.path.isdir(os.path.join(root, d))
            ]
            if missing:
                # a partition value that fails lit()-equality round-trip
                # (e.g. a NaN in a float partition column) routes its
                # rows into the null-token leaf instead of its own —
                # surface it as the modeling error it is rather than a
                # bare PATH_NOT_FOUND from the counts read-back
                shutil.rmtree(
                    os.path.join(root, commit_rel), ignore_errors=True
                )
                raise ValueError(
                    f"partition values {sorted(missing)!r} produced no "
                    f"leaf directory — {partition_col!r} values must "
                    "compare equal to themselves (floats with NaN and "
                    "other non-reflexive values cannot key partitions)"
                )
            readback = _read_data(
                spark,
                merged.schema,
                phys,
                [os.path.join(root, d) for d in leaf.values()],
            )
            checks = _effective_constraints(tip, constraints)
            if checks:
                # CHECK constraints (table-level + per-call) over the
                # touched partitions' final rows (untouched partitions
                # were validated by their own commits); violation
                # aborts pre-publish
                try:
                    _check_constraints(readback, checks)
                except ValueError:
                    shutil.rmtree(
                        os.path.join(root, commit_rel), ignore_errors=True
                    )
                    raise
            per_part = _leaf_stats(readback, partition_col, stats_fields)
            blooms = (
                _leaf_blooms(readback, partition_col, bloom_fields)
                if bloom_fields
                else {}
            )
            entries = {}
            for pk, d in leaf.items():
                got = per_part.get(pk, {"rows": 0, "stats": {}})
                e: dict = {"dir": d, "rows": got["rows"]}
                if stats_fields:
                    e["stats"] = got["stats"]
                if bloom_fields:
                    e["bloom"] = blooms.get(pk, {})
                entries[pk] = e
            written = {
                "base_touched": tip_touched,
                "base_schema": tip["schema"] if tip else None,
                "commit_rel": commit_rel,
                "schema": merged.schema.jsonValue(),
                "entries": entries,
            }
        new_parts = {**tip_parts, **written["entries"]}
        total = sum(e["rows"] for e in new_parts.values())
        # format 3: the manifest carries only the TOUCHED entries —
        # commit payload is O(updated partitions), flat in table
        # partition count; readers resolve through the checkpoint
        # chain (rolled up every CHECKPOINT_INTERVAL commits below)
        manifest = {
            "op": mode,  # "merge" or "replace"
            "base_version": v,
            "rows": total,
            "schema": written["schema"],
            "partition_col": partition_col,
            "updates": written["entries"],
            **_carry_mapping(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            _maybe_checkpoint(root, v + 1, new_parts, backend)
            return total
    if written is not None:  # don't leave the last attempt as an orphan
        shutil.rmtree(
            os.path.join(root, written["commit_rel"]), ignore_errors=True
        )
    raise RuntimeError(
        f"upsert_manifest_partitioned: gave up after {max_retries} "
        f"version races at {root!r} — contention this hot needs a "
        "coordinator or a real lake format"
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
    OPTIMIZE for this layout (`compact_parquet` covers plain stores).
    The streaming sinks (ST12/ST13) land one commit per micro-batch at
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
    def _zsorted_flat(df, n_files):
        """Range-partition + sort by the Z-key (flat snapshots)."""
        from feature_store_spark.operators.layout import (
            DEFAULT_BITS,
            zorder_key,
        )

        keyed = zorder_key(df, list(zorder_cols),
                           bits=zorder_bits or DEFAULT_BITS,
                           key_name="__zkey")
        return (
            keyed.repartitionByRange(int(n_files), "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )

    def _validate_zorder(schema):
        for c in zorder_cols:
            names = {f.name: f for f in schema.fields}
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

    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue  # concurrent vacuum; re-resolve the tip
        schema = StructType.fromJson(tip["schema"])
        if zorder_cols:
            _validate_zorder(schema)
        from pyspark.errors import AnalysisException

        if not _is_partitioned(tip):
            if only_dv and not (tip.get("dv") or tip.get("extra_dirs")):
                return {"version": v, "files_before": 0,
                        "files_after": 0, "rows": tip["rows"],
                        "committed": False}
            data_dir = os.path.join(root, tip["data_dir"])
            if min_files is not None and not os.path.isdir(data_dir):
                # stale tip: a concurrent vacuum pruned v's data dir
                # after we read its manifest — without this check the
                # 0-file count would read as 'below threshold' and
                # silently skip compacting the REAL tip (the
                # min_files=None path hits PATH_NOT_FOUND and retries)
                continue
            # size/count over base + appended extra dirs: a leaf whose
            # merge-on-read debt lives in extra_dirs would otherwise
            # under-count and evade min_files-triggered compaction
            leaf_dirs = _entry_dirs(root, _flat_entry(tip))
            before = sum(_leaf_file_count(d) for d in leaf_dirs)
            if min_files is not None and before < min_files:
                return {"version": v, "files_before": before,
                        "files_after": before, "rows": tip["rows"],
                        "committed": False}
            n_files = max(
                1,
                -(-sum(_dir_bytes(d) for d in leaf_dirs)
                  // target_file_bytes),
            )
            new_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
            try:
                snap = _read_entries(
                    spark, schema, _phys_map(tip), root, [_flat_entry(tip)]
                )
                laid = (
                    _zsorted_flat(snap, n_files)
                    if zorder_cols
                    else snap.repartition(n_files)
                )
                _write_physical(laid, _phys_map(tip)).write.parquet(
                    os.path.join(root, new_rel)
                )
            except AnalysisException as e:
                if _is_path_not_found(e):
                    continue
                raise
            manifest = {
                "op": "compact",
                "base_version": v,
                "data_dir": new_rel,
                "rows": tip["rows"],
                "schema": tip["schema"],
                **_carry_mapping(tip),
            }
            if _try_commit(root, v + 1, manifest, backend):
                return {
                    "version": v + 1,
                    "files_before": before,
                    "files_after": _leaf_file_count(
                        os.path.join(root, new_rel)
                    ),
                    "rows": tip["rows"],
                    "committed": True,
                }
            shutil.rmtree(os.path.join(root, new_rel), ignore_errors=True)
            continue

        try:
            parts = resolve_partitions(root, v)
        except FileNotFoundError:
            continue  # concurrent vacuum pruned the chain; re-resolve
        if partition_values is None:
            selected = list(parts)
        else:
            selected = [_pkey(p) for p in partition_values]
            unknown = sorted(set(selected) - set(parts))
            if unknown:
                raise ValueError(
                    f"partitions {unknown!r} not in the table"
                )
        if min_files is not None:
            fresh, stale = [], False
            for pk in selected:
                d = os.path.join(root, parts[pk]["dir"])
                if not os.path.isdir(d):
                    # vanished leaf == stale tip (concurrent vacuum);
                    # a 0-file count would silently filter it out and
                    # leave the real tip uncompacted — retry instead
                    stale = True
                    break
                if sum(
                    _leaf_file_count(x)
                    for x in _entry_dirs(root, parts[pk])
                ) >= min_files:
                    fresh.append(pk)
            if stale:
                continue
            selected = fresh
        if only_dv:
            # merge-on-read debt = a DV or an appended extra dir
            selected = [
                pk
                for pk in selected
                if parts[pk].get("dv") or parts[pk].get("extra_dirs")
            ]
        if not selected:
            return {"version": v, "files_before": 0, "files_after": 0,
                    "rows": tip["rows"], "committed": False}
        sel_dirs = {
            pk: _entry_dirs(root, parts[pk]) for pk in selected
        }
        before = sum(
            _leaf_file_count(d) for ds in sel_dirs.values() for d in ds
        )
        total_bytes = sum(
            _dir_bytes(d) for ds in sel_dirs.values() for d in ds
        )
        n_files = max(
            len(selected), -(-total_bytes // target_file_bytes)
        )
        commit_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        # one job: union the selected leaves, re-key each row to its
        # leaf token via the shared typed mapping (`_ptok_mapping` —
        # the upsert uses the same one). The typed values come from
        # the leaves themselves (one distinct per selected partition,
        # the same O(selected) collect the upsert pays for
        # `touched`). Hash-cluster by partition so each partition's
        # rows coalesce into its own task(s); a single partition
        # larger than target_file_bytes stays one file (hash
        # clustering cannot split within a key).
        token_map = {pk: _ptoken(pk) for pk in selected}
        pcol = tip["partition_col"]
        try:
            df = _read_entries(
                spark, schema, _phys_map(tip), root,
                [parts[pk] for pk in selected],
            )
            vals = [r[0] for r in df.select(pcol).distinct().collect()]
            val_keys = {_pkey(v): v for v in vals}
            stray = sorted(set(val_keys) - set(selected))
            if stray:
                raise RuntimeError(
                    f"compact_manifest: leaves of {sorted(selected)!r} "
                    f"contain rows of foreign partitions {stray!r} — "
                    f"the manifest at {root!r} is corrupt; not committing"
                )
            mapping = _ptok_mapping(spark, schema[pcol], val_keys)
            clustered = df.join(F.broadcast(mapping), pcol).repartition(
                int(n_files), F.col(pcol)
            )
            if zorder_cols:
                from feature_store_spark.operators.layout import (
                    DEFAULT_BITS,
                    zorder_key,
                )

                clustered = (
                    zorder_key(
                        clustered, list(zorder_cols),
                        bits=zorder_bits or DEFAULT_BITS,
                        key_name="__zkey",
                    )
                    # leaf membership (pcol) leads the sort so each
                    # leaf's rows are contiguous AND z-ordered within
                    .sortWithinPartitions(F.col(pcol), F.col("__zkey"))
                    .drop("__zkey")
                )
            _write_physical(clustered, _phys_map(tip)).write.partitionBy(
                "__ptok"
            ).parquet(os.path.join(root, commit_rel))
        except AnalysisException as e:
            if _is_path_not_found(e):
                continue
            raise
        new_parts = dict(parts)
        for pk in selected:
            e = {
                "dir": f"{commit_rel}/__ptok={token_map[pk]}",
                "rows": parts[pk]["rows"],
            }
            # compaction re-lays the SAME rows, so recorded
            # data-skipping stats and Bloom filters stay exact —
            # carry them forward
            if "stats" in parts[pk]:
                e["stats"] = parts[pk]["stats"]
            if "bloom" in parts[pk]:
                e["bloom"] = parts[pk]["bloom"]
            new_parts[pk] = e
        # guard before publishing: every selected partition that holds
        # rows must have produced its leaf, and the rewritten leaves
        # must carry exactly the row counts the manifest records — a
        # mapping bug (or a non-reflexive partition value) must surface
        # here as an error, never as a silently thinner tip. Costs one
        # columnar scan of the freshly written leaves.
        live = [pk for pk in selected if parts[pk]["rows"] > 0]
        missing = [
            pk
            for pk in live
            if not os.path.isdir(
                os.path.join(root, new_parts[pk]["dir"])
            )
        ]
        if missing:
            shutil.rmtree(
                os.path.join(root, commit_rel), ignore_errors=True
            )
            raise RuntimeError(
                f"compact_manifest: partitions {sorted(missing)!r} "
                "produced no leaf directory — rows would be lost; "
                "not committing"
            )
        if live:
            recounts = {
                _pkey(r[0]): r[1]
                for r in _read_data(
                    spark,
                    schema,
                    _phys_map(tip),
                    [
                        os.path.join(root, new_parts[pk]["dir"])
                        for pk in live
                    ],
                )
                .groupBy(pcol)
                .count()
                .collect()
            }
            short = {
                pk: (parts[pk]["rows"], recounts.get(pk, 0))
                for pk in live
                if recounts.get(pk, 0) != parts[pk]["rows"]
            }
            if short:
                shutil.rmtree(
                    os.path.join(root, commit_rel), ignore_errors=True
                )
                raise RuntimeError(
                    "compact_manifest: rewritten row counts disagree "
                    f"with the manifest (partition: (expected, got)) "
                    f"{short!r} — not committing"
                )
        manifest = {
            "op": "compact",
            "base_version": v,
            "rows": tip["rows"],
            "schema": tip["schema"],
            "partition_col": tip["partition_col"],
            # format-3 delta: only the re-laid leaves; untouched
            # entries carry forward through resolution
            "updates": {pk: new_parts[pk] for pk in selected},
            **_carry_mapping(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            _maybe_checkpoint(root, v + 1, new_parts, backend)
            return {
                "version": v + 1,
                "files_before": before,
                "files_after": sum(
                    _leaf_file_count(
                        os.path.join(root, new_parts[pk]["dir"])
                    )
                    for pk in selected
                ),
                "rows": tip["rows"],
                "committed": True,
            }
        shutil.rmtree(os.path.join(root, commit_rel), ignore_errors=True)
    raise RuntimeError(
        f"compact_manifest: gave up after {max_retries} version races "
        f"at {root!r}"
    )


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

class _StaleRead(Exception):
    """Internal: a written row count disagrees with the accounting
    pass — the tip moved between the reads; retry."""


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


def _pcol(m: dict) -> str | None:
    return m["partition_col"] if _is_partitioned(m) else None


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
        out = spark.createDataFrame([], schema).withColumns({
            "__dv_file": F.lit(None).cast("string"),
            "__dv_pos": F.lit(None).cast("bigint"),
        })
    return out


def _write_leaves(root, phys, pcol, rows, pks, written) -> dict:
    """Write ``rows`` (logical columns + ``__ptok``) to ONE fresh dir,
    one ``__ptok`` subdir per partition (the unpartitioned leaf is the
    dir itself), and return {pk: leaf dir}."""
    rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
    written.append(rel)
    w = _write_physical(rows if pcol else rows.drop("__ptok"), phys).write
    if pcol:
        w = w.partitionBy("__ptok")
    w.parquet(os.path.join(root, rel))
    return {pk: f"{rel}/__ptok={_ptoken(pk)}" if pcol else rel for pk in pks}


def _require_dirs(verb: str, root: str, dirs: dict) -> None:
    missing = sorted(
        pk for pk, d in dirs.items()
        if not os.path.isdir(os.path.join(root, d))
    )
    if missing:
        raise RuntimeError(
            f"{verb}: partitions {missing!r} produced no leaf — rows "
            "would be lost; not committing"
        )


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
    from pyspark.errors import AnalysisException

    dv = mode == "dv"
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue  # concurrent vacuum; re-resolve
        nothing = {
            "version": v, "rows_updated": 0, "rows_deleted": 0,
            "rows_inserted": 0, "partitions_rewritten": 0,
            "partitions_removed": 0, "committed": False,
            "txn_skipped": False,
        }
        if _txn_already_applied(tip, txn):
            return {**nothing, "txn_skipped": True}
        plan = plan_for(tip)
        pcol = _pcol(tip)
        try:
            leaves = (
                resolve_partitions(root, v) if pcol
                else {"": {**_flat_entry(tip), "rows": tip["rows"]}}
            )
        except FileNotFoundError:
            continue
        cand = {
            pk: e for pk, e in leaves.items()
            if plan.preds is None
            or _entry_may_match(e, pk, plan.preds, pcol)
        }
        if not cand and plan.preds is not None:
            return nothing
        base = StructType.fromJson(tip["schema"])
        phys = _phys_map(tip)
        written: list[str] = []
        try:
            cs = plan.classify(
                _read_leaves(spark, base, phys, root, cand, dv)
            ).withColumn("__leaf", F.col(pcol) if pcol else F.lit(""))
            if dv:
                # pin ONE evaluation: accounting, the CHECK, the
                # sidecars and the append write all replay these blocks
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
                return nothing
            total = {
                k: sum(c[k] for c in counts.values())
                for k in ("upd", "del", "ins")
            }
            checks = (
                _effective_constraints(tip, None)
                if total["upd"] or total["ins"] else []
            )
            leaf_type = plan.schema[pcol].dataType if pcol else StringType()
            cs = cs.join(
                F.broadcast(_ptok_mapping(
                    spark, StructField("__leaf", leaf_type), typed
                )),
                "__leaf",
            )
            publish = _publish_dv if dv else _publish_rewrite
            updates, removed = publish(
                spark, root, verb, phys, pcol, plan, leaves, counts, cs,
                checks, written,
            )
        except BaseException as exc:
            for d in written:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            if isinstance(exc, _StaleRead) or (
                isinstance(exc, AnalysisException) and _is_path_not_found(exc)
            ):
                continue
            raise
        manifest = {
            "op": verb.split("_")[0],
            "base_version": v,
            "schema": (
                tip["schema"] if plan.schema == base
                else plan.schema.jsonValue()
            ),
        }
        if pcol:
            parts = {pk: e for pk, e in leaves.items() if pk not in removed}
            parts.update(updates)
            manifest.update(
                rows=sum(e["rows"] for e in parts.values()),
                partition_col=pcol, updates=updates, removed=removed,
            )
        else:
            flat = updates[""]
            manifest.update(data_dir=flat["dir"], rows=flat["rows"])
            manifest.update(
                {k: flat[k] for k in ("dv", "extra_dirs") if flat.get(k)}
            )
        manifest.update(_carry_mapping(tip))
        if _try_commit(root, v + 1, _txn_stamp(manifest, txn), backend):
            if pcol:
                _maybe_checkpoint(root, v + 1, parts, backend)
            return {
                **nothing,
                "version": v + 1,
                "rows_updated": total["upd"],
                "rows_deleted": total["del"],
                "rows_inserted": total["ins"],
                "partitions_rewritten": len(updates),
                "partitions_removed": len(removed),
                "committed": True,
            }
        for d in written:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    raise RuntimeError(
        f"{verb}: gave up after {max_retries} version races at {root!r}"
    )


def _publish_rewrite(
    spark, root, verb, phys, pcol, plan, leaves, counts, cs, checks,
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
    dirs = _write_leaves(
        root, phys, pcol,
        cs.filter(F.col("__cls") != "del").select(*names, "__ptok"),
        live, written,
    )
    _require_dirs(verb, root, dirs)
    readback = _read_data(
        spark, plan.schema, phys, [os.path.join(root, d) for d in dirs.values()]
    ).withColumn("__leaf", F.col(pcol) if pcol else F.lit(""))
    if checks:
        _check_constraints(readback, checks)

    def recorded(k):
        # the stats/bloom columns any of the table's entries carry
        cols = {c for e in leaves.values() for c in e.get(k) or {}}
        return [plan.schema[c] for c in sorted(cols & set(names))]

    stat_f, bloom_f = recorded("stats"), recorded("bloom")
    got = _leaf_stats(readback, "__leaf", stat_f)
    blooms = _leaf_blooms(readback, "__leaf", bloom_f) if bloom_f else {}
    updates = {}
    for pk in live:
        g = got.get(pk, {"rows": 0, "stats": {}})
        if g["rows"] != expected[pk]:
            raise _StaleRead()
        e: dict = {"dir": dirs[pk], "rows": expected[pk]}
        if stat_f:
            e["stats"] = g["stats"]
        if bloom_f:
            e["bloom"] = blooms.get(pk, {})
        updates[pk] = e
    return updates, removed


def _publish_dv(
    spark, root, verb, phys, pcol, plan, leaves, counts, cs, checks,
    written,
):
    """Merge-on-read publish step of :func:`_change_rows`; returns the
    (updates, removed) leaf delta."""
    names = [f.name for f in plan.schema.fields]
    images = cs.filter(F.col("__cls").isin("upd", "ins"))
    if checks:
        _check_constraints(images.select(*names), checks)
    removed = sorted(
        pk for pk, c in counts.items()
        if pcol and pk in leaves and c["del"] == leaves[pk]["rows"]
        and not c["upd"] and not c["ins"]
    )
    appended = {
        pk: c["upd"] + c["ins"] for pk, c in counts.items()
        if c["upd"] or c["ins"]
    }
    app_dirs: dict = {}
    if appended:
        obs = Observation()
        app_dirs = _write_leaves(
            root, phys, pcol,
            images.select(*names, "__ptok").observe(
                obs, F.count(F.lit(1)).alias("rows")
            ),
            appended, written,
        )
        if int(obs.get["rows"]) != sum(appended.values()):
            raise _StaleRead()
        _require_dirs(verb, root, app_dirs)
    updates = {}
    for pk, c in sorted(counts.items()):
        old = leaves.get(pk)
        if pk in removed:
            continue
        if old is None:
            # brand-new partition: its append dir IS the base leaf
            updates[pk] = {"dir": app_dirs[pk], "rows": c["ins"]}
            continue
        ne = dict(old)
        ne["rows"] = old["rows"] - c["del"] + c["ins"]
        hits = c["del"] + c["upd"]
        if hits:
            dv_rel = _write_leaf_dv(
                spark, root, old,
                cs.filter(
                    F.col("__cls").isin("del", "upd")
                    & (F.col("__ptok") == _ptoken(pk))
                ).select("__dv_file", "__dv_pos"),
            )
            written.append(dv_rel)
            prior = (old.get("dv") or {}).get("deleted", 0)
            ne["dv"] = {"dir": dv_rel, "deleted": prior + hits}
        if pk in app_dirs:
            ne["extra_dirs"] = list(old.get("extra_dirs") or []) + [
                app_dirs[pk]
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
    materialize_source: bool = True,
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
    if materialize_source:
        # Pin the source plan ONCE: the merge evaluates it several
        # times (dup-key guard, accounting aggregate, rewrite) — a
        # nondeterministic source (sample, limit, shuffle-order-
        # dependent expr) could pass the guard on one evaluation and
        # diverge on another, burning every retry on the accounting
        # mismatch. Delta materializes merge sources for the same
        # reason. Lazy localCheckpoint: first action computes and
        # stores the rows; every later evaluation replays the stored
        # blocks. Opt out only for large sources whose plans are
        # provably deterministic.
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
    if _is_partitioned(target):
        parts = resolve_partitions(root, version)
        rows = sum(e["rows"] for e in parts.values())
        body = {
            "partition_col": target["partition_col"],
            "partitions": parts,
        }
    else:
        parts = None
        rows = target["rows"]
        body = {"data_dir": target["data_dir"]}
        if target.get("dv"):
            body["dv"] = target["dv"]
        if target.get("extra_dirs"):
            body["extra_dirs"] = target["extra_dirs"]
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        if version > v:
            raise ValueError(
                f"restore: version {version} is beyond the tip {v}"
            )
        if version == v:
            return {
                "version": v, "restored_version": version,
                "rows": rows, "committed": False,
            }
        manifest = {
            "op": "restore",
            "base_version": v,
            "restored_version": version,
            "rows": rows,
            "schema": target["schema"],
            # the restored snapshot's leaves live under the TARGET's
            # physical names — its mapping travels with its schema
            **_carry_mapping(target),
            **body,
        }
        if _try_commit(root, v + 1, manifest, backend):
            if parts is not None:
                _maybe_checkpoint(root, v + 1, parts, backend)
            return {
                "version": v + 1, "restored_version": version,
                "rows": rows, "committed": True,
            }
    raise RuntimeError(
        f"restore: gave up after {max_retries} version races at {root!r}"
    )


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

    def src_abs(d: str) -> str:
        return os.path.abspath(os.path.join(src_root, d))

    manifest: dict = {
        "op": "clone",
        "base_version": 0,
        "source_root": os.path.abspath(src_root),
        "source_version": v,
        "rows": m["rows"],
        "schema": m["schema"],
        **_carry_mapping(m),
    }
    def clone_dv(dv: dict | None, copy_to: str | None) -> dict | None:
        """Deletion vectors travel WITH their leaves: shallow clones
        re-point them absolutely (same rule as the data dirs — a
        dropped DV would resurrect deleted rows); deep clones copy
        the DV dir under the new root."""
        if not dv:
            return None
        if copy_to is None:
            return {**dv, "dir": src_abs(dv["dir"])}
        shutil.copytree(src_abs(dv["dir"]), os.path.join(dst_root, copy_to))
        return {**dv, "dir": copy_to}

    def clone_extras(extras: list | None, deep_copy: bool) -> list | None:
        """Merge-on-read appended dirs travel with their leaf, same
        rule as the DV: shallow re-points absolutely, deep copies."""
        if not extras:
            return None
        if not deep_copy:
            return [src_abs(d) for d in extras]
        out = []
        for d in extras:
            rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
            shutil.copytree(src_abs(d), os.path.join(dst_root, rel))
            out.append(rel)
        return out

    parts = None
    if _is_partitioned(m):
        parts = resolve_partitions(src_root, v)
        new_parts = {}
        if deep:
            commit_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
            for pk, e in parts.items():
                leaf_rel = f"{commit_rel}/__ptok={_ptoken(pk)}"
                shutil.copytree(
                    src_abs(e["dir"]), os.path.join(dst_root, leaf_rel)
                )
                ne = {**e, "dir": leaf_rel}
                if e.get("dv"):
                    ne["dv"] = clone_dv(
                        e["dv"], f"{DATA_DIR}/{uuid.uuid4().hex}"
                    )
                if e.get("extra_dirs"):
                    ne["extra_dirs"] = clone_extras(e["extra_dirs"], True)
                new_parts[pk] = ne
        else:
            new_parts = {}
            for pk, e in parts.items():
                ne = {**e, "dir": src_abs(e["dir"])}
                if e.get("dv"):
                    ne["dv"] = clone_dv(e["dv"], None)
                if e.get("extra_dirs"):
                    ne["extra_dirs"] = clone_extras(e["extra_dirs"], False)
                new_parts[pk] = ne
        manifest["partition_col"] = m["partition_col"]
        manifest["partitions"] = new_parts
        parts = new_parts
    else:
        if deep:
            new_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
            shutil.copytree(
                src_abs(m["data_dir"]), os.path.join(dst_root, new_rel)
            )
            manifest["data_dir"] = new_rel
            if m.get("dv"):
                manifest["dv"] = clone_dv(
                    m["dv"], f"{DATA_DIR}/{uuid.uuid4().hex}"
                )
            if m.get("extra_dirs"):
                manifest["extra_dirs"] = clone_extras(m["extra_dirs"], True)
        else:
            manifest["data_dir"] = src_abs(m["data_dir"])
            if m.get("dv"):
                manifest["dv"] = clone_dv(m["dv"], None)
            if m.get("extra_dirs"):
                manifest["extra_dirs"] = clone_extras(m["extra_dirs"], False)
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
    if parts is not None:
        _maybe_checkpoint(dst_root, 1, parts, backend, force=False)
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
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue
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

        def rekey(d: dict | None) -> dict | None:
            if not d:
                return d
            return {(new if c == old else c): s for c, s in d.items()}

        cpat = re.compile(rf"\b{re.escape(old)}\b")
        bound = [c[0] for c in _table_constraints(tip) if cpat.search(c[1])]
        if bound:
            raise ValueError(
                f"rename_column: {old!r} is referenced by CHECK "
                f"constraint(s) {bound!r} — drop them first and re-add "
                f"against the new name"
            )
        manifest: dict = {
            "op": "rename_column",
            "base_version": v,
            "renames": {old: new},
            "rows": tip["rows"],
            "schema": new_schema.jsonValue(),
            # carry everything a commit must inherit (txn watermarks,
            # constraints, retired physicals, protocol) EXCEPT the
            # column map, rebuilt above; _carry_mapping also runs the
            # write-side protocol gate
            **{
                k: val
                for k, val in _carry_mapping(tip).items()
                if k != "physical"
            },
        }
        if phys:
            manifest["physical"] = phys
        if _is_partitioned(tip):
            try:
                parts = resolve_partitions(root, v)
            except FileNotFoundError:
                continue
            new_parts = {}
            for pk, e in parts.items():
                e2 = dict(e)
                if "stats" in e2:
                    e2["stats"] = rekey(e2["stats"])
                if "bloom" in e2:
                    e2["bloom"] = rekey(e2["bloom"])
                new_parts[pk] = e2
            pcol = tip["partition_col"]
            manifest["partition_col"] = new if pcol == old else pcol
            # full format-2 map: the stats/bloom re-key must reach
            # every entry, not just touched ones
            manifest["partitions"] = new_parts
        else:
            new_parts = None
            manifest["data_dir"] = tip["data_dir"]
            if tip.get("dv"):
                manifest["dv"] = tip["dv"]
            if tip.get("extra_dirs"):
                manifest["extra_dirs"] = tip["extra_dirs"]
        if _try_commit(root, v + 1, manifest, backend):
            if new_parts is not None:
                _maybe_checkpoint(root, v + 1, new_parts, backend)
            return {
                "version": v + 1,
                "renamed": {old: new},
                "committed": True,
            }
    raise RuntimeError(
        f"rename_column: gave up after {max_retries} version races at "
        f"{root!r}"
    )


def _passthrough_body(tip: dict) -> dict:
    """Manifest body for a metadata-only commit that leaves every
    data reference untouched: unpartitioned tables re-point the same
    snapshot dir; partitioned tables publish an EMPTY delta (all
    entries carry forward through resolution) — O(1) payload."""
    if _is_partitioned(tip):
        return {
            "partition_col": tip["partition_col"],
            "updates": {},
            "removed": [],
        }
    body = {"data_dir": tip["data_dir"]}
    if tip.get("dv"):
        body["dv"] = tip["dv"]
    if tip.get("extra_dirs"):
        body["extra_dirs"] = tip["extra_dirs"]
    return body


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
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue
        cons = _table_constraints(tip)
        if name in {c[0] for c in cons}:
            raise ValueError(
                f"add_constraint: {name!r} already exists on {root!r}"
            )
        df, _v = read_table(spark, root, v)
        _check_constraints(df, [(name, predicate)])  # raises on violation
        manifest = {
            "op": "add_constraint",
            "base_version": v,
            "rows": tip["rows"],
            "schema": tip["schema"],
            **_carry_mapping(tip),
            "constraints": cons + [[name, predicate]],
            **_passthrough_body(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            return {"version": v + 1, "name": name, "committed": True}
    raise RuntimeError(
        f"add_constraint: gave up after {max_retries} version races at "
        f"{root!r}"
    )


def drop_constraint(
    root: str,
    name: str,
    max_retries: int = 20,
    backend: LocalLinkBackend | None = None,
) -> dict:
    """``ALTER TABLE DROP CONSTRAINT`` — metadata-only removal of a
    persisted CHECK constraint. Raises if the name is unknown."""
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue
        cons = _table_constraints(tip)
        if name not in {c[0] for c in cons}:
            raise ValueError(
                f"drop_constraint: {name!r} is not a constraint of "
                f"{root!r}"
            )
        remaining = [c for c in cons if c[0] != name]
        manifest = {
            "op": "drop_constraint",
            "base_version": v,
            "rows": tip["rows"],
            "schema": tip["schema"],
            **{
                k: val
                for k, val in _carry_mapping(tip).items()
                if k != "constraints"
            },
            **({"constraints": remaining} if remaining else {}),
            **_passthrough_body(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            return {"version": v + 1, "name": name, "committed": True}
    raise RuntimeError(
        f"drop_constraint: gave up after {max_retries} version races at "
        f"{root!r}"
    )


def add_column(
    root: str,
    name: str,
    dtype,
    nullable: bool = True,
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
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue
        schema = StructType.fromJson(tip["schema"])
        if name in {f.name for f in schema.fields}:
            raise ValueError(
                f"add_column: {name!r} already exists in {root!r}"
            )
        new_schema = StructType(
            [*schema.fields, StructField(name, dtype, nullable)]
        )
        _validate_mapping(
            new_schema, _phys_map(tip), _retired_physical(tip)
        )
        manifest = {
            "op": "add_column",
            "base_version": v,
            "rows": tip["rows"],
            "schema": new_schema.jsonValue(),
            **_carry_mapping(tip),
            **_passthrough_body(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            return {"version": v + 1, "column": name, "committed": True}
    raise RuntimeError(
        f"add_column: gave up after {max_retries} version races at "
        f"{root!r}"
    )


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
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue
        schema = StructType.fromJson(tip["schema"])
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(
                f"drop_column: {name!r} is not a column of {root!r}"
            )
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        if _is_partitioned(tip) and tip["partition_col"] == name:
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
        manifest: dict = {
            "op": "drop_column",
            "base_version": v,
            "rows": tip["rows"],
            "schema": new_schema.jsonValue(),
            **{
                k: val
                for k, val in _carry_mapping(tip).items()
                if k not in ("physical", "retired_physical")
            },
            # the dropped column's bytes live on in old leaves under
            # its physical name — retire it so nothing re-binds it
            "retired_physical": _retired_physical(tip)
            + [_phys_map(tip).get(name, name)],
        }
        if phys:
            manifest["physical"] = phys
        if _is_partitioned(tip):
            try:
                parts = resolve_partitions(root, v)
            except FileNotFoundError:
                continue
            new_parts = {}
            for pk, e in parts.items():
                e2 = dict(e)
                if "stats" in e2:
                    e2["stats"] = {
                        c: s for c, s in e2["stats"].items() if c != name
                    }
                if "bloom" in e2:
                    e2["bloom"] = {
                        c: b for c, b in e2["bloom"].items() if c != name
                    }
                new_parts[pk] = e2
            manifest["partition_col"] = tip["partition_col"]
            manifest["partitions"] = new_parts
        else:
            new_parts = None
            manifest["data_dir"] = tip["data_dir"]
            if tip.get("dv"):
                manifest["dv"] = tip["dv"]
            if tip.get("extra_dirs"):
                manifest["extra_dirs"] = tip["extra_dirs"]
        if _try_commit(root, v + 1, manifest, backend):
            if new_parts is not None:
                _maybe_checkpoint(root, v + 1, new_parts, backend)
            return {"version": v + 1, "column": name, "committed": True}
    raise RuntimeError(
        f"drop_column: gave up after {max_retries} version races at "
        f"{root!r}"
    )


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
    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            return 0  # nothing committed, nothing to drop
        try:
            tip = read_manifest(root, v)
            if not _is_partitioned(tip):
                raise ValueError(
                    f"{root!r} is an UNPARTITIONED manifest table; "
                    "drop_partitions needs the partition-scoped layout"
                )
            parts = resolve_partitions(root, v)
        except FileNotFoundError:
            continue  # concurrent vacuum moved the tip; re-resolve
        dropping = sorted(requested & set(parts))
        if not dropping:
            return 0
        remaining = {
            pk: e for pk, e in parts.items() if pk not in requested
        }
        manifest = {
            "op": "drop_partitions",
            "base_version": v,
            "rows": sum(e["rows"] for e in remaining.values()),
            "schema": tip["schema"],
            "partition_col": tip["partition_col"],
            "updates": {},
            "removed": dropping,
            **_carry_mapping(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            _maybe_checkpoint(root, v + 1, remaining, backend)
            return len(dropping)
    raise RuntimeError(
        f"drop_partitions: gave up after {max_retries} version races "
        f"at {root!r}"
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
    """The migration the toggle guards point at: read a plain-parquet
    store (``upsert_parquet`` / ``upsert_parquet_partitioned`` /
    ``export_warehouse`` layout) and commit it as version 1 of a FRESH
    manifest table — unpartitioned, or partition-scoped when
    ``partition_col`` is given. Refuses a non-empty destination (a
    migration must never merge into existing history) and leaves the
    source untouched (cut over readers, then retire it). Returns the
    committed row count."""
    if latest_version(dest_root) != 0:
        raise ValueError(
            f"{dest_root!r} already has committed versions; migrate "
            "into a FRESH root"
        )
    src = spark.read.parquet(src_path)
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
    skip_unchanged_partitions: bool = False,
    include_values: bool = False,
) -> DataFrame:
    """Row-level change feed between two committed versions — the CDC
    read every lake format exposes (Delta ``table_changes`` / Iceberg
    ``changelog``), derived here from the retained manifests:
    :func:`operators.diff.snapshot_diff` of the two pinned snapshots,
    emitting (keys, status ∈ added/removed/changed/unchanged,
    changed_cols). Consumers feed downstream incrementally (cache
    invalidation, warehouse sync) without replaying full snapshots.
    ``compare_cols`` defaults to every non-key column of the newer
    snapshot. Scale shape inherits snapshot_diff's: one shuffle per
    side, zero when the snapshots are key-bucketed.

    ``skip_unchanged_partitions=True`` (partitioned tables only) uses
    the manifests' immutable-leaf identity to read ONLY partitions
    whose leaf dir changed between the two versions — dir equality ⇒
    byte-identity (the vacuum invariant), so a skipped partition's
    rows are provably all 'unchanged' and are OMITTED from the output
    instead of scanned. After a daily commit this reads one partition
    instead of 730; after a compact_manifest it reads only the
    compacted leaves. Requires the partition column in ``key_cols``
    (keys that recur across partitions would otherwise pair across
    the skip boundary and change statuses)."""
    from feature_store_spark.operators.diff import snapshot_diff

    try:
        if skip_unchanged_partitions:
            v_new = (
                latest_version(root) if to_version is None else to_version
            )
            v_old = from_version
            m_new = read_manifest(root, v_new) if v_new else None
            m_old = read_manifest(root, v_old) if v_old else None
            if (
                m_old is None
                or m_new is None
                or not _is_partitioned(m_old)
                or not _is_partitioned(m_new)
            ):
                raise ValueError(
                    "table_changes: skip_unchanged_partitions needs a "
                    "partition-scoped manifest table at both versions"
                )
            pcol = m_new["partition_col"]
            if pcol != m_old["partition_col"] or pcol not in set(key_cols):
                raise ValueError(
                    "table_changes: skip_unchanged_partitions requires "
                    f"the partition column {pcol!r} in key_cols — keys "
                    "recurring across partitions would pair across the "
                    "skip boundary and corrupt statuses"
                )
            po = resolve_partitions(root, v_old)
            pn = resolve_partitions(root, v_new)
            # leaf identity = (dir, deletion vector, extra dirs): a DV
            # or a merge-on-read appended dir changes a leaf's LIVE
            # rows without changing its base bytes — skipping on dir
            # equality alone would drop those deletes/updates from
            # the feed
            def _ident(e):
                return (
                    (e or {}).get("dir"),
                    (e or {}).get("dv"),
                    tuple((e or {}).get("extra_dirs") or ()),
                )

            diff_pks = [
                pk
                for pk in set(po) | set(pn)
                if _ident(po.get(pk)) != _ident(pn.get(pk))
            ]

            def side(m, pmap):
                schema = StructType.fromJson(m["schema"])
                entries = [pmap[pk] for pk in diff_pks if pk in pmap]
                if not entries:
                    return spark.createDataFrame([], schema)
                return _read_entries(
                    spark, schema, _phys_map(m), root, entries
                )

            old, new = (
                _align_logical(side(m_old, po), m_old, m_new),
                side(m_new, pn),
            )
        else:
            new, v_new = read_table(spark, root, to_version)
            old, v_old = read_table(spark, root, from_version)
            if old is not None and new is not None:
                old = _align_logical(
                    old,
                    read_manifest(root, v_old),
                    read_manifest(root, v_new),
                )
    except FileNotFoundError as e:
        raise ValueError(
            f"table_changes: version range {from_version}.."
            f"{to_version or 'latest'} not readable at {root!r} "
            "(manifest missing — vacuumed or never committed)"
        ) from e
    if old is None or new is None:
        raise ValueError(
            f"table_changes: versions {from_version}..{v_new or to_version}"
            f" not readable at {root!r} (table empty at one endpoint)"
        )
    if v_old >= v_new:
        raise ValueError(
            f"table_changes: from_version {v_old} must precede "
            f"to_version {v_new}"
        )
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in set(key_cols)]
    return snapshot_diff(
        old,
        new,
        list(key_cols),
        list(compare_cols),
        include_values=include_values,
    )


def read_changes_stream(
    spark: SparkSession,
    root: str,
    checkpoint_dir: str,
    process,
    key_cols: Sequence[str] = ("user_id",),
    compare_cols: Sequence[str] | None = None,
    starting_version: int = 0,
    skip_unchanged_partitions: bool = False,
    max_batches: int | None = None,
    include_values: bool = False,
) -> dict:
    """Streaming CDC *source* over a manifest table — the Delta
    ``readChangeFeed`` analogue: incremental, checkpointed consumption
    of :func:`table_changes`, one micro-batch per commit.

    Each trigger drains the version cursor up to the current tip:
    for every newly committed version ``k`` it builds that commit's
    change frame (``table_changes(k-1, k)`` plus a ``_commit_version``
    literal; for ``k == starting_version + 1`` with no predecessor the
    whole snapshot arrives as status ``added`` — Delta's
    ``startingVersion`` initial-snapshot semantics), calls
    ``process(changes_df, k)``, and only THEN advances the cursor
    (atomic tmp+rename). Crash between process and advance re-delivers
    exactly that commit on restart — at-least-once with the version
    number as the idempotency key, the same contract as
    ``foreachBatch(batch_id)``. A fully drained stream replays ZERO
    batches from its checkpoint.

    The per-commit frames are lazy Spark plans over the two pinned
    snapshots (partition-pruned via ``skip_unchanged_partitions`` on
    partitioned tables — after a daily commit each batch reads one
    partition, not the table), so the work distributes; only the
    cursor lives on the driver. Returns {batches, from_version,
    to_version}."""
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
        if cursor == 0:
            # no predecessor: the whole v1 snapshot arrives as 'added'
            # (Delta startingVersion initial-snapshot semantics), in
            # snapshot_diff's exact shape (changed_cols NULL)
            try:
                snap, _v = read_table(spark, root, k)
            except FileNotFoundError as e:
                raise ValueError(
                    f"read_changes_stream: initial-snapshot version {k} "
                    f"of {root!r} has been vacuumed — pass "
                    "starting_version >= the oldest retained version "
                    "(see table_history)"
                ) from e
            cmp_cols = sorted(
                compare_cols
                if compare_cols is not None
                else [c for c in snap.columns if c not in set(key_cols)]
            )
            values = (
                [
                    c2
                    for c in cmp_cols
                    for c2 in (
                        F.lit(None)
                        .cast(snap.schema[c].dataType)
                        .alias(f"{c}_old"),
                        F.col(c).alias(f"{c}_new"),
                    )
                ]
                if include_values
                else []
            )
            ch = snap.select(
                *key_cols,
                F.lit("added").alias("status"),
                F.lit(None).cast("string").alias("changed_cols"),
                *values,
            )
        else:
            ch = table_changes(
                spark, root, cursor, k, key_cols, compare_cols,
                skip_unchanged_partitions=skip_unchanged_partitions,
                include_values=include_values,
            ).filter(F.col("status") != "unchanged")
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
    Spark job, no data read (the frame is createDataFrame'd from a
    driver-side list of a dozen rows per table).

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
        if _is_partitioned(m):
            try:
                entries = list(resolve_partitions(root, v).values())
            except FileNotFoundError:
                entries = []
        else:
            entries = [_flat_entry(m)]
        # entry count, not dir count: merge-on-read appended dirs
        # would otherwise inflate the partition gauge
        rows.append(
            (name, "partitions",
             float(len(entries) if _is_partitioned(m) else 1))
        )
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
    return spark.createDataFrame(
        rows, "table string, metric string, value double"
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
    from pyspark.errors import AnalysisException

    for _ in range(max_retries):
        v = latest_version(root)
        if v == 0:
            raise ValueError(f"{root!r} has no committed versions")
        try:
            tip = read_manifest(root, v)
        except FileNotFoundError:
            continue
        schema = StructType.fromJson(tip["schema"])
        fields = {f.name: f for f in schema.fields}
        if partition_col is not None and partition_col not in fields:
            raise ValueError(
                f"repartition_table: partition column {partition_col!r} "
                "is not in the table schema"
            )
        try:
            df, _v = read_table(spark, root, v)
        except FileNotFoundError:
            continue
        phys = _phys_map(tip)
        if partition_col is None:
            # → flat snapshot (format 1)
            new_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
            obs = Observation()
            try:
                _write_physical(
                    df.observe(obs, F.count(F.lit(1)).alias("rows")),
                    phys,
                ).write.parquet(os.path.join(root, new_rel))
            except AnalysisException as e:
                if _is_path_not_found(e):
                    continue
                raise
            n = int(obs.get["rows"])
            if n != tip["rows"]:
                shutil.rmtree(
                    os.path.join(root, new_rel), ignore_errors=True
                )
                continue  # tip moved between the two passes
            manifest = {
                "op": "repartition",
                "base_version": v,
                "data_dir": new_rel,
                "rows": n,
                "schema": tip["schema"],
                **_carry_mapping(tip),
            }
            if _try_commit(root, v + 1, manifest, backend):
                return {
                    "version": v + 1, "partitions": 1, "rows": n,
                    "committed": True,
                }
            shutil.rmtree(os.path.join(root, new_rel), ignore_errors=True)
            continue

        stats_fields = (
            _resolve_stats_fields(schema, stats_cols, partition_col)
            if stats_cols
            else []
        )
        bloom_fields = (
            _resolve_bloom_fields(schema, bloom_cols, partition_col)
            if bloom_cols
            else []
        )
        try:
            vals = [
                r[0]
                for r in df.select(partition_col).distinct().collect()
            ]
        except AnalysisException as e:
            if _is_path_not_found(e):
                continue
            raise
        if any(x is None for x in vals):
            raise ValueError(
                f"repartition_table: NULL {partition_col!r} values "
                "cannot key partitions — fill or drop them first"
            )
        val_keys = {_pkey(x): x for x in vals}
        tok_map = _ptok_mapping(spark, schema[partition_col], val_keys)
        commit_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        try:
            _write_physical(
                df.join(F.broadcast(tok_map), partition_col), phys
            ).write.partitionBy("__ptok").parquet(
                os.path.join(root, commit_rel)
            )
        except AnalysisException as e:
            if _is_path_not_found(e):
                continue
            raise
        leaf = {pk: f"{commit_rel}/__ptok={_ptoken(pk)}" for pk in val_keys}
        readback = _read_data(
            spark, schema, phys,
            [os.path.join(root, d) for d in leaf.values()],
        )
        per_part = _leaf_stats(readback, partition_col, stats_fields)
        blooms = (
            _leaf_blooms(readback, partition_col, bloom_fields)
            if bloom_fields
            else {}
        )
        new_parts: dict = {}
        for pk in sorted(val_keys):
            got = per_part.get(pk, {"rows": 0, "stats": {}})
            e: dict = {"dir": leaf[pk], "rows": got["rows"]}
            if stats_fields:
                e["stats"] = got["stats"]
            if bloom_fields:
                e["bloom"] = blooms.get(pk, {})
            new_parts[pk] = e
        total = sum(e["rows"] for e in new_parts.values())
        if total != tip["rows"]:
            shutil.rmtree(
                os.path.join(root, commit_rel), ignore_errors=True
            )
            continue  # tip moved between the two passes
        manifest = {
            "op": "repartition",
            "base_version": v,
            "rows": total,
            "schema": tip["schema"],
            "partition_col": partition_col,
            "partitions": new_parts,
            **_carry_mapping(tip),
        }
        if _try_commit(root, v + 1, manifest, backend):
            _maybe_checkpoint(root, v + 1, new_parts, backend)
            return {
                "version": v + 1, "partitions": len(new_parts),
                "rows": total, "committed": True,
            }
        shutil.rmtree(os.path.join(root, commit_rel), ignore_errors=True)
    raise RuntimeError(
        f"repartition_table: gave up after {max_retries} version races "
        f"at {root!r}"
    )


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
    operation tag (upsert/merge/replace/compact/drop_partitions);
    pre-round-6 manifests without a tag report NULL op/committed_at.
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
    df = spark.createDataFrame(
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
                if _is_partitioned(m_ok) and not os.path.exists(
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

    def leaf_row(pk, e, has_stats, has_bloom):
        dirs = _entry_dirs(root, e)
        return (
            pk,
            e["dir"],
            e.get("rows"),
            sum(_leaf_file_count(d) for d in dirs),
            sum(_dir_bytes(d) for d in dirs),
            has_stats,
            has_bloom,
            (e.get("dv") or {}).get("deleted"),
            len(e.get("extra_dirs") or []),
        )

    if _is_partitioned(m):
        for pk, e in sorted(resolve_partitions(root, v).items()):
            rows.append(
                leaf_row(pk, e, bool(e.get("stats")), bool(e.get("bloom")))
            )
    else:
        e = _flat_entry(m)
        e["rows"] = m.get("rows")
        rows.append(leaf_row(None, e, False, False))
    return spark.createDataFrame(
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
    return spark.createDataFrame(
        rows,
        "version int, column string, change string, "
        "from_type string, to_type string",
    )
