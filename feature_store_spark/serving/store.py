"""Read-through serving layer (SURVEY.md §3.1; reference
`src/feature_store/store.py:43-207`, `src/feature_store/cache.py`).

The reference serves features from Redis (hot) falling back to
PostgreSQL (cold). In the Spark engine the cold store is the computed
feature DataFrames (or their manifest tables); the hot path is a
driver-side TTL dict — the documented stand-in (SURVEY §7.4: sub-40 ms
point lookups are not a Spark strength).

Cold reads of a PINNED type run no Spark job.
``refresh_serving_from_changes`` pins a type to one committed table
snapshot; while ``feature_dfs[t]`` is still that pinned frame, point
misses, batch misses and ``preload`` read the matching rows on the
driver with ``txn.read_rows``, straight from the snapshot's parquet
leaves (leaf pruning, deletion vectors and column mapping as
``read_table`` applies them). The driver read is taken only while the
pruned leaves' files fit under ``spark.sql.autoBroadcastJoinThreshold``:
data small enough to broadcast is small enough to read on the driver.
Above it, and for any frame a caller puts in ``feature_dfs``, reads go
through Spark: a point miss is one keyed filter, and a batch miss is
one broadcast semi-join per miss-set, never one job per key (the
reference's chunked ``WHERE user_id = ANY($1)``). The keys frame is a
``session.local_frame`` (a ``LocalRelation``), so neither the
broadcast nor the join forks a Python worker. CDC invalidation
collects the changed keys and dedupes them driver-side, with no
shuffle.
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_spark.pipelines.txn import read_rows
from feature_store_spark.session import local_frame

FEATURE_TYPES = ("user", "transaction", "risk")

MAX_BATCH_SIZE = 100  # reference: batch requests capped at 100 keys


@dataclass
class FeatureResponse:
    user_id: int
    features: dict[str, dict[str, Any]]
    cache_hit: bool
    response_time_ms: float
    data_freshness_minutes: float | None = None


@dataclass
class _CacheEntry:
    value: dict[str, Any]
    cached_at: float


@dataclass
class FeatureStore:
    """Point/batch feature serving over computed feature DataFrames.

    ``feature_dfs`` maps feature type → DataFrame keyed by ``user_id``.
    TTL semantics follow the reference (3600 s default, checked at
    read; `src/config/settings.py:64`, `src/feature_store/cache.py`).
    ``_pinned`` maps a type to the (frame, root, version) that
    :func:`refresh_serving_from_changes` last put in ``feature_dfs``.
    """

    feature_dfs: dict[str, DataFrame]
    ttl_seconds: float = 3600.0
    clock: Any = time.monotonic  # injectable for deterministic tests
    _cache: dict[tuple[str, int], _CacheEntry] = field(default_factory=dict)
    _pinned: dict[str, tuple[DataFrame, str, int]] = field(
        default_factory=dict
    )
    hits: int = 0
    misses: int = 0

    def __post_init__(self) -> None:
        unknown = set(self.feature_dfs) - set(FEATURE_TYPES)
        if unknown:
            raise ValueError(f"unknown feature types: {sorted(unknown)}")

    # -- cache ops (SV3) --------------------------------------------------

    def _cache_get(self, ftype: str, user_id: int) -> dict[str, Any] | None:
        entry = self._cache.get((ftype, user_id))
        if entry is None:
            return None
        if self.clock() - entry.cached_at > self.ttl_seconds:
            del self._cache[(ftype, user_id)]
            return None
        # fresh copy per read (values are scalars, shallow suffices):
        # the Redis hot store this stands in for deserializes a new
        # object per GET — returning the cached dict by reference would
        # let a caller's mutation poison every later hit
        return dict(entry.value)

    def _cache_put(self, ftype: str, user_id: int, value: dict[str, Any]) -> None:
        # own copy on write too: miss paths hand the SAME dict to the
        # cache and the caller's response
        self._cache[(ftype, user_id)] = _CacheEntry(dict(value), self.clock())

    def invalidate(self, user_id: int) -> int:
        """ST2: drop every cached feature group for a user; returns the
        number of evicted entries."""
        keys = [k for k in self._cache if k[1] == user_id]
        for k in keys:
            del self._cache[k]
        return len(keys)

    # -- lookups (SV1/SV2) ------------------------------------------------

    def get_features(
        self, user_id: int, feature_types: Sequence[str] | None = None
    ) -> FeatureResponse:
        """Read-through point lookup: cache probe per requested type;
        a hit requires ALL requested types cached (reference
        `store.py:49`); a miss reads the one row of a pinned type on the
        driver (no Spark job), or else runs a keyed filter, and fills
        the cache."""
        t0 = time.perf_counter()
        ftypes = self._validate_types(feature_types)
        cached = {t: self._cache_get(t, user_id) for t in ftypes}
        if all(v is not None for v in cached.values()):
            self.hits += 1
            return self._respond(user_id, cached, True, t0)
        self.misses += 1
        features: dict[str, dict[str, Any] | None] = {}
        for t in ftypes:
            if cached[t] is not None:
                features[t] = cached[t]
                continue
            rows = self._pinned_rows(t, [user_id])
            if rows is None:
                df = self.feature_dfs[t]
                rows = (
                    df.filter(F.col("user_id") == user_id).limit(1).collect()
                )
            value = rows[0].asDict() if rows else None
            if value is not None:
                self._cache_put(t, user_id, value)
            features[t] = value
        return self._respond(user_id, features, False, t0)

    def get_batch_features(
        self, user_ids: Sequence[int], feature_types: Sequence[str] | None = None
    ) -> list[FeatureResponse]:
        """Batch lookup ≤100 keys (validated like the reference,
        `models.py:80-89`): split cache hits from misses, fetch ALL
        misses per feature type with ONE driver read of a pinned type
        (no Spark job) or else ONE broadcast semi-join, assemble
        per-user responses."""
        if not user_ids:
            return []
        if len(user_ids) > MAX_BATCH_SIZE:
            raise ValueError(
                f"batch size {len(user_ids)} exceeds {MAX_BATCH_SIZE}"
            )
        t0 = time.perf_counter()
        ftypes = self._validate_types(feature_types)
        fetched: dict[str, dict[int, dict[str, Any]]] = {}
        cache_state: dict[str, dict[int, dict[str, Any] | None]] = {}
        for t in ftypes:
            cache_state[t] = {u: self._cache_get(t, u) for u in user_ids}
            missing = [u for u, v in cache_state[t].items() if v is None]
            if missing:
                rows = self._pinned_rows(t, missing)
                if rows is None:
                    rows = self._semi_join(t, missing).collect()
                fetched[t] = {r["user_id"]: r.asDict() for r in rows}
                for u, v in fetched[t].items():
                    self._cache_put(t, u, v)
            else:
                fetched[t] = {}
        out = []
        for u in user_ids:
            feats: dict[str, dict[str, Any] | None] = {}
            fully_cached = True
            for t in ftypes:
                v = cache_state[t][u]
                if v is None:
                    fully_cached = False
                    v = fetched[t].get(u)
                feats[t] = v
            # batch traffic counts toward the same hit/miss stats as
            # point lookups (SV5) — one unit per user request
            if fully_cached:
                self.hits += 1
            else:
                self.misses += 1
            out.append(self._respond(u, feats, fully_cached, t0))
        return out

    def preload(
        self,
        user_ids: Sequence[int] | None = None,
        feature_types: Sequence[str] | None = None,
    ) -> int:
        """Warm-load the hot path: per feature type, ONE driver read of
        a pinned type (no Spark job), or else ONE Spark job, fills the
        TTL cache for every requested key (or the whole store when
        ``user_ids`` is None), after which point lookups are pure dict
        probes — zero Spark jobs until TTL expiry. This is the
        reference's Redis-warm semantics (its pipeline writes features
        INTO the hot store after each run, `src/pipelines/
        feature_pipeline.py` cache-refresh step) rather than the
        read-through stand-in's job-per-miss.

        Scale contract: the serving key domain is bounded (users ×
        ~200 B/row — the same bound that lets the reference hold it in
        Redis); for a domain that outgrows driver memory, preload the
        working set explicitly via ``user_ids``. Returns the number of
        cache entries written.
        """
        ftypes = self._validate_types(feature_types)
        written: set[tuple[str, int]] = set()
        for t in ftypes:
            rows = self._pinned_rows(t, user_ids)
            if rows is None:
                rows = (
                    self.feature_dfs[t].collect()
                    if user_ids is None
                    else self._semi_join(t, user_ids).collect()
                )
            for r in rows:
                self._cache_put(t, r["user_id"], r.asDict())
                written.add((t, r["user_id"]))
        # distinct entries, not rows: a duplicated user_id upstream
        # must not inflate the count (the cache keeps one row per key)
        return len(written)

    # -- health / stats (SV5) ---------------------------------------------

    def stats(self) -> dict[str, Any]:
        total = self.hits + self.misses
        return {
            "cache_entries": len(self._cache),
            "hits": self.hits,
            "misses": self.misses,
            "hit_ratio": (self.hits / total) if total else None,
            "feature_types": sorted(self.feature_dfs),
        }

    def health(self) -> dict[str, bool]:
        """DB 'SELECT 1' analog: each feature DataFrame answers a
        limit-1 probe. A probe that throws (backing files deleted,
        store unreadable) reports False rather than propagating — the
        method exists to REPORT unhealthy stores, not crash on them."""
        out: dict[str, bool] = {}
        for t, df in self.feature_dfs.items():
            try:
                df.limit(1).collect()
                out[t] = True
            except Exception:  # noqa: BLE001 — any failure = unhealthy
                out[t] = False
        return out

    # -- internals --------------------------------------------------------

    def _pinned_rows(self, ftype: str, user_ids: Sequence[int] | None):
        """The rows of ``ftype`` for ``user_ids`` (every row when None)
        read on the driver from the pinned snapshot, with no Spark job;
        None when ``feature_dfs[ftype]`` is not the pinned frame or the
        leaves that may hold the keys exceed the broadcast threshold."""
        pin = self._pinned.get(ftype)
        if pin is None or pin[0] is not self.feature_dfs[ftype]:
            return None
        df, root, version = pin
        # the session's SQLConf resolves the byte string ("10MB", -1)
        limit = df.sparkSession._jsparkSession.sessionState().conf()
        return read_rows(
            root, version, "user_id", user_ids,
            max_bytes=max(limit.autoBroadcastJoinThreshold(), 0),
        )

    def _semi_join(self, ftype: str, user_ids: Sequence[int]) -> DataFrame:
        """``feature_dfs[ftype]`` restricted to ``user_ids`` by one
        broadcast semi-join."""
        df = self.feature_dfs[ftype]
        keys = local_frame(
            df.sparkSession, [(int(u),) for u in user_ids], "user_id long"
        )
        return df.join(F.broadcast(keys), "user_id")

    def _validate_types(self, feature_types: Sequence[str] | None) -> list[str]:
        # None means "all types"; an EXPLICIT empty list is a caller
        # bug and must raise, not silently expand to a full 3-type
        # fetch (`feature_types or ...` conflated the two)
        ftypes = (
            sorted(self.feature_dfs)
            if feature_types is None
            else list(feature_types)
        )
        if not ftypes:
            raise ValueError("at least one feature type required")
        unknown = set(ftypes) - set(self.feature_dfs)
        if unknown:
            raise ValueError(f"unknown feature types: {sorted(unknown)}")
        return list(dict.fromkeys(ftypes))  # dedup, keep order

    def _respond(
        self,
        user_id: int,
        features: dict[str, dict[str, Any] | None],
        cache_hit: bool,
        t0: float,
    ) -> FeatureResponse:
        present = {t: v for t, v in features.items() if v is not None}
        freshness = None
        stamps = [
            v["updated_at"]
            for v in present.values()
            if isinstance(v, dict) and v.get("updated_at") is not None
        ]
        if stamps:
            import datetime as _dt

            # PySpark materializes TimestampType as naive datetimes in
            # the driver's LOCAL timezone (datetime.fromtimestamp), so
            # the comparison anchor must be local-naive too — a naive
            # utcnow() would skew freshness by the UTC offset on any
            # non-UTC driver.
            now = _dt.datetime.now()
            freshness = min(
                (now - s).total_seconds() / 60.0 for s in stamps
            )
        return FeatureResponse(
            user_id=user_id,
            features=present,
            cache_hit=cache_hit,
            response_time_ms=(time.perf_counter() - t0) * 1000.0,
            data_freshness_minutes=freshness,
        )


def refresh_serving_from_changes(
    spark,
    store: FeatureStore,
    root: str,
    checkpoint_dir: str,
    feature_type: str,
    key_col: str = "user_id",
) -> dict:
    """CDC-driven cache invalidation (ST2 closed over the table's OWN
    log): drain the manifest table's change feed
    (`txn.read_changes_stream`) and, per commit batch, evict exactly
    the changed users' cache entries and re-pin the served DataFrame
    to the new snapshot, recording its root and version so that cold
    reads of the type run on the driver (``FeatureStore._pinned_rows``).
    Unchanged users keep their warm entries — the point of row-level
    CDC over the blunt flush-everything alternative. The version
    cursor lives in ``checkpoint_dir``, so a re-run after a crash
    re-invalidates (idempotent) rather than misses. Returns
    read_changes_stream's {batches, from_version, to_version}."""
    from feature_store_spark.pipelines.txn import (
        read_changes_stream,
        read_table,
    )

    if feature_type not in FEATURE_TYPES:
        raise ValueError(f"unknown feature type {feature_type!r}")

    def apply(changes, version):
        for u in {r[0] for r in changes.select(key_col).collect()}:
            store.invalidate(u)
        df, v = read_table(spark, root)
        store.feature_dfs[feature_type] = df
        store._pinned[feature_type] = (df, root, v)

    return read_changes_stream(
        spark, root, checkpoint_dir, apply, key_cols=[key_col]
    )
