"""CollectionEngine — the Spark-native analogue of the reference ``Api`` +
``VectorDatabase`` protocol (``vector_mcp/vector_api.py:195``,
``vector_mcp/vectordb/base.py:78-253``).

Collections are Parquet tables under ``root/collections/<physical>`` plus a
``_catalog`` Parquet table mirroring ``vector_mcp_collections``
(``vector_mcp/vectordb/postgres.py:30-35,106-115``): one row per collection
with the physical table name (``vm_`` + sha256(name)[:24], same scheme as
``postgres.py:33-35``) and the locked embedding dimension
(dimension-drift rejection per ``postgres.py:164-172``).

Multi-tenancy: logical name → physical ``t_<sha256(tenant)[:16]>_<name>``
(``vector_mcp/vector_api.py:216-223``); listing filters and strips the
prefix (``vector_api.py:455-476``).

Every mutation is a bulk DataFrame write (the reference asserts 1 bulk write
per ingest, ``tests/test_secure_backends.py:177-196``). Tables are
hive-partitioned on the first 2 hex chars of the content-hash id; upsert /
delete / point-lookup read and rewrite ONLY the partitions the batch's ids
hash into — O(batch) i/o per mutation instead of O(table), the Parquet
stand-in for Delta MERGE file pruning (SURVEY §7 risk 3).
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import math
import os
import shutil
import threading
import time
import uuid
from collections import OrderedDict
from collections.abc import Mapping, Sequence
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_mcp_spark.sanitize import sanitize_metadata_py, sanitize_text_py
from vector_mcp_spark.schema import CATALOG_SCHEMA, DOCUMENT_SCHEMA
from vector_mcp_spark.validation import (
    EngineError,
    validate_collection_name,
    validate_delete_confirm,
    validate_ingest_bounds,
    validate_metric,
)


#: unique temp-view names for beam-serve working sets (one pair per
#: serve-set build; session-scoped, so a plain process-wide counter is safe)
_SERVE_VIEW_SEQ = itertools.count()

#: beam-serve working sets one engine keeps open (LRU), so the cache is
#: bounded by this constant, not by the number of collections served. Each
#: set pins two temp views and two localCheckpointed frames, measured at
#: 3.6-5.4 KB per collection row (dim 64-384, 4 cores, 8g driver): eight
#: sets of 100k-row collections would about fill that driver's ~5 GB
#: storage pool. How many collections real traffic keeps hot is not
#: known; past the cap every serve rebuilds its set (+1.4-3 s measured).
_SERVE_SET_CAP = 8

#: row schema every indexed serve answers with, best-first
_HITS_SCHEMA = "id string, content string, score double"


def _physical_name(logical: str) -> str:
    # postgres.py:33-35 — "vm_" + sha256(name)[:24]
    return "vm_" + hashlib.sha256(logical.encode("utf-8")).hexdigest()[:24]


# Collection tables are hive-partitioned on the first 2 hex chars of the
# content-hash id (256 uniform buckets). Ingest/delete/point-lookup batches
# touch only the partitions their ids hash into, so a mutation rewrites
# O(batch) partitions instead of O(table) — the Parquet stand-in for Delta
# MERGE file pruning (SURVEY §7 risk 3). At 100 TB each bucket is ~0.4% of
# the table; a 1000-doc batch rewrites at most 256 buckets but reads/writes
# only their bytes, never the full table.
_PART_COL = "_p"
_PART_LEN = 2


def _prefix_of(id_col) -> "F.Column":
    return F.substring(id_col, 1, _PART_LEN)


def _dir_fingerprint(path: str | Path) -> str:
    """Freshness stamp of a parquet tree: sha256 over every data file's
    relative path and mtime. Every mutation rewrites at least one file, so
    an index manifest that recorded this stamp is fresh exactly while the
    tree is untouched."""
    path = Path(path)
    if not path.exists():
        return "empty"
    stamps = sorted(
        f"{p.relative_to(path)}:{p.stat().st_mtime_ns}" for p in path.rglob("*.parquet")
    )
    return hashlib.sha256("\n".join(stamps).encode()).hexdigest()


def _tenant_prefix(tenant: str) -> str:
    # vector_api.py:216-223 — "t_" + sha256(tenant)[:16] + "_"
    return "t_" + hashlib.sha256(tenant.encode("utf-8")).hexdigest()[:16] + "_"


# Thread-local alias pins: while a serialized mutation runs, every
# _resolve_scoped of its logical name inside the body returns the SAME
# target the lock was taken for, even if another thread re-points the alias
# mid-flight (the blue-green switch must not swing a running mutation onto
# a table whose lock it doesn't hold).
_ALIAS_PIN = threading.local()


def _serialized_mutation(fn):
    """Serialize table mutations per collection (ADVICE r7, high): the SSE
    transport dispatches each tools/call on its own thread and the HTTP
    transport uses ThreadingHTTPServer, so two pipelined mutations of the
    same collection would otherwise interleave partition rewrites and
    changelog seq assignment. The lock is process-wide (class-level, keyed
    by resolved root + scoped name) so engine instances sharing a warehouse
    root in one process serialize too; cross-process writers are covered by
    the writer-unique stage dirs and the O_EXCL seq claims below.

    Aliases resolve BEFORE the lock (a mutation through an alias must
    contend with one through the target's real name), are re-checked under
    it (retry if a re-point won the race), and stay PINNED for the body so
    its own _require calls land on the locked table."""

    @functools.wraps(fn)
    def wrapper(self, name: str, *args, **kwargs):
        scoped = self._resolve_scoped(name)
        while True:
            with self._mutation_lock(scoped):
                current = self._resolve_scoped(name)
                if current != scoped:
                    scoped = current  # alias re-pointed before we locked
                    continue
                pins = getattr(_ALIAS_PIN, "pins", None)
                if pins is None:
                    pins = _ALIAS_PIN.pins = {}
                key = (str(self.root), self._scoped(name))
                prev = pins.get(key)
                pins[key] = scoped
                try:
                    return fn(self, name, *args, **kwargs)
                finally:
                    if prev is None:
                        pins.pop(key, None)
                    else:
                        pins[key] = prev

    return wrapper


class CollectionEngine:
    # Process-wide mutation locks: (resolved root, scoped name) → RLock.
    # Class-level so two engine instances over the same warehouse root in
    # one process contend on the same lock (the transports construct one
    # engine, but tests and embedded users construct several).
    _MUTATION_LOCKS: dict[tuple[str, str], threading.RLock] = {}
    _LOCKS_GUARD = threading.Lock()

    def _mutation_lock(self, scoped: str) -> threading.RLock:
        key = (str(self.root.resolve()), scoped)
        with self._LOCKS_GUARD:
            lock = self._MUTATION_LOCKS.get(key)
            if lock is None:
                lock = self._MUTATION_LOCKS[key] = threading.RLock()
            return lock

    def __init__(self, spark: SparkSession, root: str, tenant: str | None = None):
        from vector_mcp_spark.operators.transactional import transactional_format

        self.spark = spark
        self.root = Path(root)
        self.tenant = tenant
        # VECTOR_MCP_SPARK_TABLE_FORMAT=delta|iceberg routes T7/T9 mutations
        # through transactional MERGE/DELETE (operators/transactional.py);
        # unset keeps the partition-pruned parquet rewrite path
        self._table_format = transactional_format()
        # Beam-serve working sets per graph index build, LRU-bounded by
        # _SERVE_SET_CAP: (index root, manifest mtime_ns, metric) →
        # materialized (nodes, edges, views). The mtime key makes any
        # rebuild a miss, and the freshness gate runs before this cache is
        # consulted, so a stale index can never be served from here.
        self._graph_serve_sets: OrderedDict[tuple, tuple] = OrderedDict()
        self._serve_sets_guard = threading.Lock()
        (self.root / "collections").mkdir(parents=True, exist_ok=True)

    def _graph_serve_set(self, index_root: Path, corpus, metric: str):
        """Materialized (nodes, edges, nodes_view, edges_view, bcast_edges)
        for one graph index build — the in-RAM working set a vector DB
        keeps open next to its persisted graph, plus the temp-view names
        the prepared single-query descent SQL references (one spark.sql
        parse per serve instead of ~60 eagerly-analyzed DataFrame
        transformations). Built once per (build, metric); a new build
        evicts the prior builds of the same root, and the least recently
        served set goes once more than _SERVE_SET_CAP are open."""
        from vector_mcp_spark.operators.graph_ann import hnsw_serve_set

        st = (index_root / "manifest.json").stat()
        key = (str(index_root), st.st_mtime_ns, metric)
        with self._serve_sets_guard:
            hit = self._graph_serve_sets.get(key)
            if hit is not None:
                self._graph_serve_sets.move_to_end(key)
                return hit
        # older builds of this root only: a racing miss on the same or a
        # newer build keeps its set (and the views it is about to resolve)
        self._drop_serve_sets(lambda k: k[0] == key[0] and k[1] < key[1])
        edges = self.spark.read.parquet(str(index_root / "graph"))
        nodes, edges = hnsw_serve_set(
            corpus, edges, id_col="id", emb_col="embedding", metric=metric
        )
        seq = next(_SERVE_VIEW_SEQ)
        nodes_view, edges_view = f"_hnsw_serve_nodes_{seq}", f"_hnsw_serve_edges_{seq}"
        nodes.createOrReplaceTempView(nodes_view)
        edges.createOrReplaceTempView(edges_view)
        # measured broadcast gate for the descent's per-hop edge-union
        # side (two id columns — the vectors never enter that relation):
        # counted ONCE per build over the cached partitions, so the
        # decision is scale-adaptive — a serve set that outgrows the
        # session's own threshold never hints and the planner keeps
        # building the ef-bounded beam side instead
        try:
            limit = int(self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        except (TypeError, ValueError):
            limit = 10 * 1024 * 1024
        bcast_edges = 0 <= (nodes.count() + edges.count()) * 64 <= limit
        ss = (nodes, edges, nodes_view, edges_view, bcast_edges)
        with self._serve_sets_guard:
            cached = self._graph_serve_sets.setdefault(key, ss)
            self._graph_serve_sets.move_to_end(key)
            overflow = list(self._graph_serve_sets)[:-_SERVE_SET_CAP]
        if cached is not ss:  # a racing miss inserted first: keep its set
            for view in (nodes_view, edges_view):
                self.spark.catalog.dropTempView(view)
        self._drop_serve_sets(lambda k: k in overflow)
        return cached

    def _drop_serve_sets(self, match) -> None:
        """Forget every cached serve set whose key ``match``es and drop its
        temp views (the checkpointed frames go with their last reference)."""
        with self._serve_sets_guard:
            gone = [self._graph_serve_sets.pop(k) for k in list(self._graph_serve_sets)
                    if match(k)]
        for ss in gone:
            for view in ss[2:4]:
                self.spark.catalog.dropTempView(view)

    # -- catalog ------------------------------------------------------------
    #
    # The catalog is DRIVER-SIDE metadata (one row per collection — the
    # reference keeps it in an indexed SQL table, postgres.py:30-35). It is
    # read/written with pyarrow directly: a catalog lookup must never cost a
    # Spark job. A (mtime, rows) cache makes repeat lookups free while
    # staying coherent across engine instances sharing a root.

    @property
    def _catalog_path(self) -> str:
        return str(self.root / "_catalog.parquet")

    def _catalog_rows(self) -> list[tuple]:
        import pyarrow.parquet as pq

        path = Path(self._catalog_path)
        if not path.exists():
            return []
        mtime = path.stat().st_mtime_ns
        cached = getattr(self, "_cat_cache", None)
        if cached and cached[0] == mtime:
            return cached[1]
        tbl = pq.read_table(path)
        rows = [
            (
                r["collection_name"],
                r["table_name"],
                r["dimension"],
                r["created_at"],
                # legacy catalogs predate the flag: assume embeds may be
                # needed (conservative — costs one pass-through projection,
                # never a wrong result)
                bool(r.get("needs_embed", True)),
                # legacy catalogs predate the per-collection distance
                # config: every pre-r12 collection was served under cosine
                (r.get("distance") or "cosine"),
            )
            for r in tbl.to_pylist()
        ]
        self._cat_cache = (mtime, rows)
        return rows

    def _write_catalog(self, rows: list[tuple]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("collection_name", pa.string()),
                ("table_name", pa.string()),
                ("dimension", pa.int32()),
                ("created_at", pa.timestamp("us", tz="UTC")),
                ("needs_embed", pa.bool_()),
                ("distance", pa.string()),
            ]
        )
        cols = (
            "collection_name", "table_name", "dimension", "created_at",
            "needs_embed", "distance",
        )
        # Pad legacy rows positionally by missing field, not by blind append:
        # a 4-tuple (pre-needs_embed) gets (True, "cosine"), a 5-tuple
        # (pre-distance) gets ("cosine",); anything else is malformed and
        # must fail loudly rather than write a boolean into `distance`.
        defaults = (True, "cosine")
        padded = []
        for r in rows:
            if len(r) not in (4, 5, 6):
                raise EngineError("catalog_row_malformed")
            padded.append(tuple(r) + defaults[len(r) - 4 :])
        tbl = pa.Table.from_pylist(
            [dict(zip(cols, r)) for r in padded],
            schema=schema,
        )
        # Catalog writes are read-modify-write over a shared file; serialize
        # them with an O_EXCL lock file and compare-and-swap on the mtime the
        # modification was based on, so two engine instances mutating the same
        # root fail loudly ("catalog_conflict") instead of silently dropping
        # one instance's row. Readers need no lock (tmp+replace is atomic).
        lock = Path(self._catalog_path + ".lock")
        fd = self._acquire_file_lock(lock)
        try:
            path = Path(self._catalog_path)
            expected = getattr(self, "_cat_cache", (None, None))[0]
            current = path.stat().st_mtime_ns if path.exists() else None
            if expected is not None and current is not None and current != expected:
                raise EngineError("catalog_conflict")
            tmp = Path(self._catalog_path + ".tmp")
            pq.write_table(tbl, tmp)
            tmp.replace(self._catalog_path)
            self._cat_cache = (path.stat().st_mtime_ns, padded)
        finally:
            os.close(fd)
            lock.unlink(missing_ok=True)

    @classmethod
    def _acquire_file_lock(cls, lock: Path) -> int:
        """O_EXCL-create ``lock`` and return the fd; the caller must close
        the fd and unlink the lock in its finally block.

        Stale-lock recovery (ADVICE r6): a holder killed between os.open and
        its finally block would brick every future write. Break the lock
        when its pid is provably dead or the file is older than the TTL
        (covers unreadable/foreign-host pids); otherwise fail with the lock
        path so an operator can recover. The break is an atomic RENAME of
        the stale file, not unlink: two writers may both judge it stale, but
        only one rename wins, so the loser can never delete the winner's
        fresh lock (TOCTOU)."""
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if not cls._lock_is_stale(lock):
                raise EngineError("catalog_locked", detail=str(lock)) from None
            broken = Path(f"{lock}.broken.{os.getpid()}")
            try:
                lock.rename(broken)
            except OSError:  # another breaker won the rename race
                raise EngineError("catalog_locked", detail=str(lock)) from None
            broken.unlink(missing_ok=True)
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:  # lost the re-acquire race
                raise EngineError("catalog_locked", detail=str(lock)) from None
        try:
            os.write(fd, f"{os.getpid()} {time.time():.3f}".encode())
        except OSError:
            pass  # lock metadata is best-effort; TTL still applies
        return fd

    # A lock this old is presumed orphaned even when its pid can't be probed
    # (pid unreadable, or reused by an unrelated process).
    _LOCK_TTL_S = 60.0

    @classmethod
    def _lock_is_stale(cls, lock: Path) -> bool:
        import os

        pid = None
        try:
            first = lock.read_text().split()
            if first:
                pid = int(first[0])
        except (OSError, ValueError):
            pid = None
        if pid is not None:
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
            except ProcessLookupError:
                return True  # holder is provably dead
            except PermissionError:
                # signal 0 reached a process we may not signal: either the
                # real holder running under another uid (never break a live
                # writer's lock — ADVICE r7), or the holder died and its pid
                # was REUSED by an unrelated foreign-uid process (eternal
                # brick unless broken). Disambiguate by owner: a genuine
                # foreign holder created the lock file, so the lock's owner
                # uid matches the process's uid; a reused pid won't.
                try:
                    proc_uid = os.stat(f"/proc/{pid}").st_uid
                    if proc_uid == lock.stat().st_uid:
                        return False  # same owner: genuinely alive holder
                except OSError:
                    pass  # no /proc or vanished — fall through to TTL
            else:
                # provably ALIVE same-uid holder: never break, however old —
                # a >TTL hold is a stall (GC pause, slow fs), not a leak
                return False
        try:
            age = time.time() - lock.stat().st_mtime
        except OSError:
            return False  # vanished — the holder released it; retry normally
        return age > cls._LOCK_TTL_S

    def _read_catalog(self) -> DataFrame:
        """Catalog as a DataFrame (for callers that want to query it)."""
        return self.spark.createDataFrame(self._catalog_rows(), CATALOG_SCHEMA)

    def _scoped(self, name: str) -> str:
        validate_collection_name(name)
        if self.tenant:
            return _tenant_prefix(self.tenant) + name
        return name

    def _table_path(self, scoped_name: str) -> str:
        return str(self.root / "collections" / _physical_name(scoped_name))

    # -- S1-S4: collection DDL (base.py:88-137) -----------------------------

    def create_collection(
        self,
        name: str,
        dimension: int | None = None,
        overwrite: bool = False,
        get_or_create: bool = True,
        distance: str | None = None,
        vectors_config: Mapping[str, Mapping] | None = None,
    ) -> str:
        """S1 — ``distance`` is the per-collection scoring convention
        (qdrant locks ``Distance`` in the collection config at create,
        ``qdrant.py:122-127``; pgvector picks it per index opclass): every
        search and index family on this collection builds and serves under
        it. Switch later with :meth:`set_collection_distance` (the index
        goes stale and a rebuild re-derives every family). ``None`` means
        UNSPECIFIED — a new collection gets cosine, and get-or-create of an
        existing one accepts whatever is locked (the same sentinel contract
        as ``dimension``); only an EXPLICIT conflicting distance drifts.

        ``vectors_config`` declares NAMED vectors next to the default one
        (the qdrant named-vectors map ``{name: {dimension, distance}}``):
        each name gets its own sidecar storage, its own metric, and its own
        graph index family (:meth:`put_named_vectors`,
        :meth:`build_named_vector_index`, :meth:`named_vector_search`).
        Locked at create like the rest of the config — a get-or-create
        that requests a different map refuses."""
        if distance is not None:
            validate_metric(distance)
        vectors_config = self._validate_vectors_config(vectors_config)
        scoped = self._scoped(name)
        # a live alias owns its name: a collection created over it would
        # shadow it (listings inconsistent) and dropping that collection
        # would silently resurrect the stale alias
        if any(a == scoped for a, _ in self._alias_rows()):
            raise EngineError("collection_conflicts_with_alias", detail=name)
        exists = any(r[0] == scoped for r in self._catalog_rows())
        if exists and not overwrite:
            if not get_or_create:
                raise EngineError("collection_exists")  # base.py:96-99
            # dimension-drift rejection (postgres.py:161-172): get-or-create
            # of an existing collection must request the locked dimension
            if dimension is not None and self._locked_dimension(scoped) != dimension:
                raise EngineError("collection_vector_schema_mismatch")
            # distance-drift rejection, same shape: get-or-create must not
            # silently hand back a collection scored under another metric
            if distance is not None and distance != self._locked_distance(scoped):
                raise EngineError(
                    "collection_distance_mismatch",
                    detail=f"locked {self._locked_distance(scoped)!r}, requested {distance!r}",
                )
            if vectors_config is not None and vectors_config != self.named_vectors_config(name):
                raise EngineError(
                    "named_vectors_config_mismatch",
                    detail=f"locked {sorted(self.named_vectors_config(name))}",
                )
            return scoped
        if exists and overwrite:
            # outside the catalog lock: delete takes the collection lock
            # first (consistent collection → catalog ordering, no cycles)
            self.delete_collection(name, confirm=True)
        # catalog read-modify-writes serialize in-process (engine instances
        # SHARE _cat_cache semantics per instance, so the on-disk mtime CAS
        # alone can't catch two threads of one engine racing — the second
        # write would silently drop the first's row)
        with self._mutation_lock("__catalog__"):
            rows = self._catalog_rows()
            if any(r[0] == scoped for r in rows):  # lost a create race
                if get_or_create or overwrite:
                    return scoped
                raise EngineError("collection_exists")
            # re-check the alias conflict INSIDE the catalog lock: a
            # concurrent create_alias serializes on this same lock (lock
            # order __catalog__ → __aliases__), so both guards passing at
            # once — collection silently shadowing a just-created alias —
            # can no longer happen (ADVICE r8)
            if any(a == scoped for a, _ in self._alias_rows()):
                raise EngineError("collection_conflicts_with_alias", detail=name)
            self._write_catalog(
                [
                    *rows,
                    (
                        scoped,
                        _physical_name(scoped),
                        dimension,
                        datetime.now(timezone.utc),
                        False,
                        distance or "cosine",
                    ),
                ]
            )
        if vectors_config:
            root = self._named_root(scoped)
            root.mkdir(parents=True, exist_ok=True)
            (root / "config.json").write_text(
                __import__("json").dumps(vectors_config, sort_keys=True)
            )
        # table dir materializes lazily on first write — an empty collection
        # is just a catalog row (no Spark job on create)
        return scoped

    def get_collections(self) -> list[str]:
        # vector_api.py:455-476 — tenant filter + strip prefix + sort + dedup
        names = [r[0] for r in self._catalog_rows()]
        if self.tenant:
            pfx = _tenant_prefix(self.tenant)
            names = [n[len(pfx):] for n in names if n.startswith(pfx)]
        return sorted(set(names))

    def collection_exists(self, name: str) -> bool:
        scoped = self._scoped(name)
        return any(r[0] == scoped for r in self._catalog_rows())

    def _locked_dimension(self, scoped: str) -> int | None:
        for r in self._catalog_rows():
            if r[0] == scoped:
                return r[2]
        return None

    def _locked_distance(self, scoped: str) -> str:
        for r in self._catalog_rows():
            if r[0] == scoped:
                return r[5] if len(r) > 5 else "cosine"
        return "cosine"

    def collection_distance(self, name: str) -> str:
        """The distance convention the collection is scored under —
        catalog-only, no Spark job (like :meth:`needs_embed`)."""
        return self._locked_distance(self._resolve_scoped(name))

    def set_collection_distance(self, name: str, distance: str) -> None:
        """Switch the collection's distance config. The persisted index
        was built under the OLD metric, so :meth:`index_status` reports
        ``stale`` until a rebuild — exactly the quantization-switch
        contract: serving refuses rather than answering under the wrong
        geometry, and the rebuild cleans any family the new config
        obsoletes."""
        validate_metric(distance)
        scoped = self._require(name)
        with self._mutation_lock("__catalog__"):  # serialized RMW
            rows = self._catalog_rows()
            self._write_catalog(
                [(r[:5] + (distance,)) if r[0] == scoped else r for r in rows]
            )

    def needs_embed(self, name: str) -> bool:
        """True if the collection may hold rows with NULL embedding. Driver-
        side catalog lookup — never a Spark job, so the search hot path can
        consult it per query for free (the alternative, probing the table
        with a ``WHERE embedding IS NULL LIMIT 1`` count, costs an extra
        scan per search at scale). Resolves aliases: a search through an
        alias must see the TARGET's flag, not default to the conservative
        embed-everything path. Missing collections raise the same stable
        ``collection_not_found`` as every other name-gated surface (the
        tenant-matrix contract: tenant B probing A's name learns nothing a
        nonexistent name wouldn't tell it) — still catalog-only, no job."""
        scoped = self._resolve_scoped(name)
        for r in self._catalog_rows():
            if r[0] == scoped:
                return bool(r[4])
        raise EngineError("collection_not_found")

    def _mark_needs_embed(self, scoped: str) -> None:
        with self._mutation_lock("__catalog__"):  # serialized RMW
            rows = self._catalog_rows()
            if any(r[0] == scoped and not r[4] for r in rows):
                self._write_catalog(
                    [(r[:4] + (True,) + r[5:]) if r[0] == scoped else r for r in rows]
                )

    def _check_dimension(self, scoped: str, df: DataFrame, emb_col: str = "embedding") -> None:
        """Reject wrong-size vectors before they reach the table
        (postgres.py:164-172 — pgvector's VECTOR(dim) enforces this in-DDL;
        parquet has no typed vector width, so it's an explicit gate)."""
        dim = self._locked_dimension(scoped)
        if dim is None:
            return
        bad = df.where(F.col(emb_col).isNotNull() & (F.size(F.col(emb_col)) != F.lit(dim)))
        if bad.limit(1).count() > 0:
            raise EngineError("collection_vector_schema_mismatch")

    def _require(self, name: str) -> str:
        scoped = self._resolve_scoped(name)
        if not any(r[0] == scoped for r in self._catalog_rows()):
            raise EngineError("collection_not_found")  # base.py:107-117
        return scoped

    # -- collection aliases ---------------------------------------------------
    #
    # Qdrant-parity alias surface (update_collection_aliases): an alias is a
    # second name every read/search/mutation resolves through, and
    # re-pointing it is the atomic blue-green switch (index into
    # "docs_green", re-point "prod" at it, drop "docs_blue" — queries never
    # see a half-built table). Aliases live in a driver-side sidecar
    # (_aliases.parquet) under the same tenant scoping as collections; a
    # real collection name always wins over an alias with the same name.

    @property
    def _aliases_path(self) -> str:
        return str(self.root / "_aliases.parquet")

    def _alias_rows(self) -> list[tuple[str, str]]:
        import pyarrow.parquet as pq

        path = Path(self._aliases_path)
        if not path.exists():
            return []
        mtime = path.stat().st_mtime_ns
        cached = getattr(self, "_alias_cache", None)
        if cached and cached[0] == mtime:
            return cached[1]
        rows = [
            (r["alias"], r["target"]) for r in pq.read_table(path).to_pylist()
        ]
        self._alias_cache = (mtime, rows)
        return rows

    def _mutate_aliases(self, update) -> None:
        """Serialized read-modify-write of the alias sidecar: the current
        rows are read INSIDE both the process-wide lock (threads) and the
        on-disk O_EXCL lock (processes), so two concurrent alias ops can
        never silently drop each other's update. ``update`` maps current
        rows → new rows, or returns None for a no-op (nothing written)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self._mutation_lock("__aliases__"):
            lock = Path(self._aliases_path + ".lock")
            fd = self._acquire_file_lock(lock)
            try:
                rows = update(self._alias_rows())
                if rows is None:
                    return
                tbl = pa.Table.from_pylist(
                    [{"alias": a, "target": t} for a, t in sorted(rows)],
                    schema=pa.schema([("alias", pa.string()), ("target", pa.string())]),
                )
                tmp = Path(self._aliases_path + ".tmp")
                pq.write_table(tbl, tmp)
                tmp.replace(self._aliases_path)
            finally:
                os.close(fd)
                lock.unlink(missing_ok=True)

    def _resolve_scoped(self, name: str) -> str:
        """Logical name → scoped physical name, following one alias hop.
        A real collection shadows an alias of the same name. A running
        serialized mutation's resolution is PINNED (thread-local) so its
        body can't be swung onto an unlocked table by a concurrent alias
        re-point."""
        scoped = self._scoped(name)
        pinned = getattr(_ALIAS_PIN, "pins", {}).get((str(self.root), scoped))
        if pinned is not None:
            return pinned
        if any(r[0] == scoped for r in self._catalog_rows()):
            return scoped
        return dict(self._alias_rows()).get(scoped, scoped)

    def create_alias(self, alias: str, collection: str) -> None:
        """Point ``alias`` at ``collection``; re-pointing an existing alias
        is the atomic blue-green switch. Rejects an alias that names a real
        collection (it could never be resolved)."""
        validate_collection_name(alias)
        target = self._require(collection)
        scoped_alias = self._scoped(alias)
        # the collection-conflict guard runs under the __catalog__ lock so
        # it serializes against create_collection's alias-conflict guard
        # (consistent lock order __catalog__ → __aliases__; ADVICE r8) —
        # without it, a concurrent create_collection(alias) and this call
        # could both pass their checks and produce a collection silently
        # shadowing the new alias
        with self._mutation_lock("__catalog__"):
            if self.collection_exists(alias):
                raise EngineError("alias_conflicts_with_collection", detail=alias)
            self._mutate_aliases(
                lambda rows: [*(r for r in rows if r[0] != scoped_alias), (scoped_alias, target)]
            )

    def delete_alias(self, alias: str) -> None:
        scoped_alias = self._scoped(alias)

        def drop(rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
            if all(a != scoped_alias for a, _ in rows):
                raise EngineError("alias_not_found", detail=alias)
            return [(a, t) for a, t in rows if a != scoped_alias]

        self._mutate_aliases(drop)

    def list_aliases(self, collection: str | None = None) -> list[tuple[str, str]]:
        """(alias, collection) pairs in this tenant's scope, unscoped names,
        sorted; optionally filtered to one target collection."""
        target = self._require(collection) if collection is not None else None
        pfx = _tenant_prefix(self.tenant) if self.tenant else ""
        out = []
        for a, t in self._alias_rows():
            if target is not None and t != target:
                continue
            if pfx and not (a.startswith(pfx) and t.startswith(pfx)):
                continue
            out.append((a[len(pfx):], t[len(pfx):]))
        return sorted(out)

    @_serialized_mutation
    def delete_collection(self, name: str, confirm: bool = False) -> None:
        validate_delete_confirm(confirm)  # vector_api.py:448-449
        # DDL never follows aliases (qdrant parity): dropping "prod" must
        # not cascade through an alias to the real table behind it
        scoped = self._scoped(name)
        if not any(r[0] == scoped for r in self._catalog_rows()):
            raise EngineError("collection_not_found")
        with self._mutation_lock("__catalog__"):  # serialized RMW
            self._write_catalog([r for r in self._catalog_rows() if r[0] != scoped])
        for suffix in ("", "_index", "_changelog", "_named"):  # table + sidecars
            path = Path(self._table_path(scoped) + suffix)
            if path.exists():
                shutil.rmtree(path)
        # the dropped indexes' serve sets (default and named roots alike)
        self._drop_serve_sets(lambda k: k[0].startswith(self._table_path(scoped) + "_"))
        # orphaned stage dirs from a crashed writer (writer-unique names)
        base = Path(self._table_path(scoped))
        for stale in base.parent.glob(base.name + "_stage-*"):
            shutil.rmtree(stale, ignore_errors=True)
        # aliases pointing at the dropped collection die with it
        self._mutate_aliases(
            lambda rows: [(a, t) for a, t in rows if t != scoped]
            if any(t == scoped for _, t in rows)
            else None
        )

    # -- documents ----------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        scoped = self._require(name)
        if not Path(self._table_path(scoped)).exists():
            # cataloged but never written to — empty collection
            return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
        df = self.spark.read.schema(DOCUMENT_SCHEMA).parquet(self._table_path(scoped))
        # partition discovery appends _p; project back to the document shape
        return df.select(*DOCUMENT_SCHEMA.fieldNames())

    def _write_partitioned(self, path: str, df: DataFrame) -> None:
        (
            df.withColumn(_PART_COL, _prefix_of(F.col("id")))
            .write.partitionBy(_PART_COL)
            .mode("overwrite")
            .parquet(path)
        )

    @staticmethod
    def _stage_dir(table: str | Path) -> Path:
        # Writer-unique stage dir (ADVICE r7, high): a fixed "<table>_stage"
        # let one writer rmtree another's staged rows. pid+uuid suffix makes
        # concurrent stagers (threads or processes) collision-free.
        return Path(f"{table}_stage-{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def _overwrite_table(self, scoped: str, df: DataFrame) -> None:
        # Parquet has no MERGE: stage to tmp dir then atomic-ish rename.
        tmp = self._stage_dir(self._table_path(scoped))
        try:
            self._write_partitioned(str(tmp), df)
            out = Path(self._table_path(scoped))
            if out.exists():
                shutil.rmtree(out)
            tmp.rename(out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _read_partitions(self, scoped: str, prefixes: Sequence[str]) -> DataFrame:
        """Read ONLY the partition directories the given id prefixes touch —
        the table's other bytes are never opened."""
        table = Path(self._table_path(scoped))
        dirs = [str(table / f"{_PART_COL}={p}") for p in sorted(set(prefixes))
                if (table / f"{_PART_COL}={p}").exists()]
        if not dirs:
            return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
        df = (
            self.spark.read.schema(DOCUMENT_SCHEMA)
            .option("basePath", str(table))
            .parquet(*dirs)
        )
        return df.select(*DOCUMENT_SCHEMA.fieldNames())

    def _rewrite_partitions(self, scoped: str, prefixes: Sequence[str], out: DataFrame) -> None:
        """Swap in new contents for exactly the given partitions. ``out``
        must contain only rows whose id prefix is in ``prefixes`` (true for
        every caller: merges/deletes over rows read from those partitions).
        Untouched partition directories are not read, written, or moved."""
        table = Path(self._table_path(scoped))
        table.mkdir(parents=True, exist_ok=True)
        stage = self._stage_dir(table)
        try:
            self._write_partitioned(str(stage), out)
            for p in sorted(set(prefixes)):
                dst = table / f"{_PART_COL}={p}"
                src = stage / f"{_PART_COL}={p}"
                if dst.exists():
                    shutil.rmtree(dst)
                if src.exists():
                    src.rename(dst)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    @_serialized_mutation
    def add_documents(
        self,
        name: str,
        contents: Sequence[str],
        metadatas: Sequence[Mapping[str, str] | None] | None = None,
        embeddings: Sequence[Sequence[float] | None] | None = None,
        upsert: bool = True,
    ) -> int:
        """Bounded ingest: sanitize → content-hash id → dedup → upsert.

        The reference pipeline at ``vector_api.py:413-439`` + ``303-317``
        (sanitize, sha256→id, in-batch last-writer-wins dedup) and
        ``base.py:139-172`` (upsert)."""
        validate_ingest_bounds(contents)
        scoped = self._require(name)
        self._seed_changelog_if_legacy(scoped)
        n = len(contents)
        metadatas = metadatas if metadatas is not None else [None] * n
        embeddings = embeddings if embeddings is not None else [None] * n
        # The batch is driver-bounded (≤1000 docs, validate_ingest_bounds),
        # so sanitize → sha256 id → last-writer-wins dedup run driver-side
        # via the Column twins' Python counterparts (sanitize_text_py /
        # sanitize_metadata_py, parity-tested) — the table-side merge below
        # stays distributed. This removes an entire Spark job per ingest
        # (the old batch-prep collect): the batch never needs a cluster.
        prepped: dict[str, tuple] = {}
        for c, m, e in zip(contents, metadatas, embeddings):
            content = sanitize_text_py(c)
            meta = sanitize_metadata_py(dict(m)) if m else None
            emb = [float(x) for x in e] if e is not None else None
            # T2 in-batch dedup, last-writer-wins (vector_api.py:363-366):
            # dict assignment keeps the final writer's row per content id
            prepped[hashlib.sha256(content.encode("utf-8")).hexdigest()] = (content, meta, emb)
        dim = self._locked_dimension(scoped)
        if dim is not None and any(e is not None and len(e) != dim for _, _, e in prepped.values()):
            # postgres.py:164-172 — pgvector's VECTOR(dim) enforces this
            # in-DDL; parquet has no typed vector width, so explicit gate
            raise EngineError("collection_vector_schema_mismatch")
        ids = list(prepped)
        # plain createDataFrame keeps the batch a LocalRelation →
        # LocalTableScan (no parallelize slices, no coalesce barrier)
        new = self.spark.createDataFrame(
            [(i, c, m, e) for i, (c, m, e) in prepped.items()], DOCUMENT_SCHEMA
        )
        prefixes = sorted({i[:_PART_LEN] for i in ids})
        # First-write fast path (r13): when none of the touched partition
        # dirs exist yet there is nothing to merge against — planning the
        # anti-join + dup-guard against a provably-empty frame cost ~0.5 s
        # of pure overhead per fresh-collection ingest. Existence is the
        # same driver-side check _read_partitions performs.
        table = Path(self._table_path(scoped))
        existing = [p for p in prefixes if (table / f"{_PART_COL}={p}").exists()]
        if not existing:
            self._rewrite_partitions(scoped, prefixes, new)
        else:
            touched = self._read_partitions(scoped, existing)
            if not upsert:
                # T8 duplicate guard (qdrant.py:176-189) — only touched
                # partitions can hold a colliding content-hash id
                if touched.join(F.broadcast(new), "id", "left_semi").count() > 0:
                    raise EngineError("document_exists")
            merged = touched.join(F.broadcast(new), "id", "left_anti").unionByName(new)
            self._rewrite_partitions(scoped, prefixes, merged)
        self._log_mutation_rows(
            scoped, "upsert", [(i, c, m, e) for i, (c, m, e) in prepped.items()]
        )
        # flag maintenance is driver-side and exact: the caller's embeddings
        # list says whether this batch introduced NULL-embedding rows
        if any(e is None for e in embeddings):
            self._mark_needs_embed(scoped)
        return len(ids)

    @staticmethod
    def _row_fingerprint(_df: DataFrame) -> F.Column:
        """Served-representation row fingerprint for the index ``ids``
        sidecar: id + content + embedding (the embedding participates —
        an in-place vector swap with unchanged text still invalidates
        incremental repair). NULLs hash stably."""
        return F.xxhash64("id", "content", "embedding")

    # -- persistent search index (build offline / serve online) -------------
    #
    # The reference's engines keep server-side text/vector indexes (pg GIN,
    # qdrant HNSW); the Spark analogue is a MATERIALIZED index the engine
    # builds offline and queries prune into: a postings table partitioned by
    # term-hash bucket (lexical) and a sign-packed bits table (Hamming
    # vector shortlist). Freshness is tracked against a table fingerprint so
    # mutations flip the status to stale instead of silently serving old
    # results — rebuild-offline / serve-online, the same contract as the
    # streaming ANN index maintenance.

    def _index_root(self, scoped: str) -> Path:
        return Path(self._table_path(scoped) + "_index")

    # -- index lifecycle: one state reader, one gate, one row-family writer --
    #
    # Every index family (the default families under <table>_index, each
    # named vector's graph, each payload index) records the fingerprint of
    # the tree it was built over in its manifest.json. _manifest_state is
    # the one reader that turns (manifest, tree) into a status; the vector
    # serves go through _serve_gate, which reads the manifest ONCE and hands
    # the checked copy to the serve plan.

    @staticmethod
    def _manifest_state(
        manifest_path: Path, data: str | Path, valid=None
    ) -> tuple[str, dict | None]:
        """('absent' | 'fresh' | 'repaired' | 'stale', manifest) for one
        index family: fresh while ``data`` still has the fingerprint the
        build stamped, repaired while it has the one an incremental repair
        stamped, stale otherwise or when ``valid(manifest)`` rejects the
        manifest itself. The manifest is returned whatever the status (a
        repair extends a stale one); only the gate decides what serves."""
        if not manifest_path.exists():
            return "absent", None
        meta = json.loads(manifest_path.read_text())
        if valid is not None and not valid(meta):
            return "stale", meta
        fp = _dir_fingerprint(data)
        if meta.get("fingerprint") == fp:
            return "fresh", meta
        if meta.get("repaired_fingerprint") == fp:
            return "repaired", meta
        return "stale", meta

    def _index_state(self, scoped: str) -> tuple[str, dict | None]:
        """State of the default index families. A manifest predating the
        graph or IVF-PQ family can't serve the whole search surface, and a
        :meth:`set_collection_distance` switch changed every score without
        changing the data: both read stale until a rebuild."""
        distance = self._locked_distance(scoped)
        return self._manifest_state(
            self._index_root(scoped) / "manifest.json",
            self._table_path(scoped),
            lambda m: "graph" in m and "ivfpq" in m
            and (m.get("distance") or "cosine") == distance,
        )

    @staticmethod
    def _servable(status: str, required: bool = True) -> bool:
        """The one freshness rule: a fresh or repaired index serves, nothing
        else does. A required serve refuses with ``index_not_fresh`` — a
        stale index is never served silently."""
        if status in ("fresh", "repaired"):
            return True
        if required:
            raise EngineError("index_not_fresh")
        return False

    @staticmethod
    def _query_vector(question_vec, dim: int | None) -> list[float]:
        """The one query-vector check: numeric, finite, and ``dim`` wide
        when a width is known. A mis-sized query NULL-pads zip_with and
        scores every pair NULL; a NaN/Inf element has no SQL literal. Both
        refuse with the ingest gate's width code instead of serving garbage
        or reaching the parser."""
        try:
            vec = [float(x) for x in question_vec]
        except (TypeError, ValueError):
            raise EngineError(
                "collection_vector_schema_mismatch", detail="query vector must be numeric"
            ) from None
        if not all(math.isfinite(x) for x in vec):
            raise EngineError(
                "collection_vector_schema_mismatch", detail="query vector has NaN/Inf elements"
            )
        if dim is not None and len(vec) != dim:
            raise EngineError(
                "collection_vector_schema_mismatch",
                detail=f"query dimension {len(vec)} != indexed {dim}",
            )
        return vec

    def _serve_gate(self, name: str, question_vec=None, family: str | None = None):
        """The gate in front of every default-family serve: ``_require`` →
        one manifest read → status → query-vector check → family present.
        Returns ``(scoped, manifest, query)``; the manifest is the copy the
        status was judged on, so no serve reads it again.

        Refusal order: a query off the catalog-locked width first, then
        ``index_not_fresh``, then a query off the width the build recorded
        (content-only collections lock none). ``family`` names the
        directory the plan reads; ``"shortlist"`` resolves to the quantized
        family the build chose, and the sign shortlist never refuses a
        width — it packs the first 64 dimensions of any query."""
        scoped = self._require(name)
        status, manifest = self._index_state(scoped)
        manifest = manifest or {}
        if family == "shortlist":
            family = "signs" if manifest.get("quantization", "sign") == "sign" else "int8q"
        sized = family != "signs"
        query = None
        if question_vec is not None:
            query = self._query_vector(
                question_vec, self._locked_dimension(scoped) if sized else None
            )
        self._servable(status)
        if query is not None and sized:
            width = manifest.get("dimension")
            pq = manifest.get("ivfpq")
            if width is None and pq:  # manifests before the width stamp
                width = pq["m"] * len(pq["codebooks"][0][0])
            self._query_vector(query, width)
        if family is not None and not (self._index_root(scoped) / family).exists():
            raise EngineError("index_not_fresh", detail=f"{family} family missing; rebuild")
        return scoped, manifest, query

    def _indexable_rows(self, name: str) -> tuple[DataFrame, bool]:
        """(rows, content_only): the collection in its SERVED
        representation — rows stored content-only get their vectors from
        the same embed seam the search path uses."""
        df = self.read(name)
        content_only = self.needs_embed(name)
        if content_only:
            from vector_mcp_spark.functions.embedder import embed_documents

            df = embed_documents(df, text_col="content", out_col="embedding")
        return df, content_only

    def _write_row_families(
        self, root: Path, rows: DataFrame, quantization: str, content_only: bool, mode: str
    ) -> tuple[DataFrame, DataFrame]:
        """Write the row-level index families over ``rows``: lexical
        postings (term-bucket partitioned), the (id, dlen) L1 norms that
        make them SPLADE-style sparse vectors, the derived vectors of a
        content-only collection (serving never re-embeds the corpus), the
        sign or int8 shortlist codes, and the (id, rowhash) sidecar that
        lets a repair prove growth was append-only. ``mode="overwrite"``
        (build) replaces every family and removes the ones the config no
        longer uses; ``"append"`` (repair) extends the families the build
        wrote and skips any the index predates. Returns (postings, codes)."""
        from vector_mcp_spark.functions.text import tokens
        from vector_mcp_spark.operators.lexical import build_postings, term_bucket
        from vector_mcp_spark.operators.quantize import quantize_int8, sign_pack

        def write(frame: DataFrame, family: str, *partition: str) -> None:
            if mode == "append" and not (root / family).exists():
                return
            writer = frame.write.mode(mode)
            if partition:
                writer = writer.partitionBy(*partition)
            writer.parquet(str(root / family))

        vecs = rows.where(F.col("embedding").isNotNull())
        postings = build_postings(rows.select("id", "content"), "id", "content").withColumn(
            "term_bucket", term_bucket("term")
        )
        write(postings, "postings", "term_bucket")
        write(rows.select("id", F.size(tokens(F.col("content"))).alias("dlen")), "doclen")
        if content_only:
            write(vecs.select("id", "embedding"), "vectors")
        if quantization == "sign":
            shortlist = "signs"
            codes = sign_pack(vecs, "embedding", "id").select("id", "lo", "hi")
        else:
            shortlist = "int8q"
            codes = quantize_int8(vecs, vec_col="embedding", id_col="id").select("id", "scale", "q")
        write(codes, shortlist)
        if mode == "overwrite":
            unused = {"signs", "int8q"} - {shortlist}
            if not content_only:
                unused.add("vectors")  # stored vectors are read from the table
            for family in unused:
                shutil.rmtree(root / family, ignore_errors=True)
        write(rows.select("id", self._row_fingerprint(rows).alias("rowhash")), "ids")
        return postings, codes

    def build_search_index(self, name: str, quantization: str = "sign") -> dict:
        """Materialize the search index families for a collection:
        lexical postings, the quantized vector-shortlist table, the
        HNSW-style graph, and IVF-PQ codes. Returns {"n_terms",
        "n_vectors", "fingerprint"}.

        ``quantization`` selects the vector-shortlist compression at build
        (the per-collection ``quantization_config`` a qdrant user sets;
        the reference's qdrant backend serves collections carrying it):
        ``"sign"`` packs 64 dims into 16 bytes and shortlists by Hamming
        (32×, two popcounts per candidate); ``"int8"`` stores per-vector
        symmetric int8 codes + scale (4×, full-dimension approximate
        cosine over dequantized codes — better shortlist fidelity and
        exact dimension coverage at 8× the sign footprint). Exact re-rank
        over the full vectors follows either way; the choice is recorded
        in the manifest and honored by serve + repair."""
        if quantization not in ("sign", "int8"):
            raise EngineError(
                "quantization_invalid",
                detail=f"{quantization!r} not in ('sign', 'int8')",
            )
        scoped = self._require(name)
        distance = self._locked_distance(scoped)
        if distance != "cosine" and quantization == "sign":
            # sign bits keep direction only; dot and l2 need magnitudes —
            # non-cosine collections shortlist from int8 codes (and the
            # quantization-switch cleanup removes a stale sign family)
            quantization = "int8"
        # the coarse quantizer under the collection metric: l2 collections
        # cluster by Euclidean distance; dot shares the cosine clustering
        # (the standard MIPS compromise — the exact re-rank restores order)
        coarse_metric = "l2" if distance == "l2" else "cosine"
        df, content_only = self._indexable_rows(name)
        root = self._index_root(scoped)
        postings, codes = self._write_row_families(
            root, df, quantization, content_only, "overwrite"
        )
        # counts come from the source plans, not a read-back: an EMPTY
        # collection writes only _SUCCESS markers, which parquet cannot
        # re-read without a schema
        n_terms = postings.select("term").distinct().count()
        n_vectors = codes.count()
        # third index family: the HNSW-style layered graph (the engine-side
        # analogue of pgvector `USING hnsw`, postgres.py:182-188) — built
        # over the same ivf coarse quantizer the graph operator uses, and
        # served by indexed_graph_search below
        graph_meta: dict = {"entry": None, "top_layer": 0}
        ivfpq_meta: dict | None = None
        # the vector width this index serves — stamped into the manifest so
        # NO serve path ever needs a per-query Spark job to learn it
        # (VERDICT r12 item 2); the catalog lock is authoritative when set,
        # measured from the data otherwise (content-only collections)
        dim_indexed: int | None = self._locked_dimension(scoped)
        if dim_indexed is None and n_vectors == 1:
            one = (
                df.where(F.col("embedding").isNotNull())
                .select(F.size("embedding").alias("d"))
                .first()
            )
            dim_indexed = int(one.d) if one is not None else None
        if n_vectors >= 2:
            from vector_mcp_spark.operators.graph_ann import hnsw_build
            from vector_mcp_spark.operators.pq import pq_build
            from vector_mcp_spark.operators.similarity import ivf_build

            vecs = df.where(F.col("embedding").isNotNull()).select("id", "embedding")
            assigned, cents = ivf_build(
                vecs, n_centroids=min(16, n_vectors), id_col="id", max_iter=2,
                metric=coarse_metric,
            )
            # fourth index family: IVF-PQ (FAISS IndexIVFPQ shape; the
            # engine-side analogue of the reference engine's IVF-PQ index,
            # epistemic_graph.py:5-9) — the SAME coarse quantizer as the
            # graph family plus per-subspace codebooks; codes are persisted
            # partitioned by cluster so a query's nprobe clusters prune
            # partitions, and repair appends codes against the FROZEN
            # centroids/codebooks (the streaming twin of this maintenance
            # path lives at streaming/ingest.py ivfpq maintenance).
            dim_row = vecs.select(F.size("embedding").alias("d")).first()
            d = int(dim_row.d)
            dim_indexed = d
            m = next(mm for mm in (4, 2, 1) if d % mm == 0)
            n_codes = min(16, n_vectors)
            encoded, codebooks = pq_build(
                vecs, m=m, n_codes=n_codes, id_col="id", iters=1
            )
            codes = encoded.select("id", "codes").join(
                assigned.select("id", "cluster"), "id"
            )
            codes.select("id", "cluster", "codes").write.mode("overwrite").partitionBy(
                "cluster"
            ).parquet(str(root / "ivfpq"))
            ivfpq_meta = {
                "m": m,
                "n_codes": n_codes,
                "centroids": cents,
                "codebooks": codebooks,
            }
            # size the hash-bucket family to the collection: a tiny corpus
            # spread over 16 buckets yields singleton blocks → no candidate
            # pairs → a disconnected graph the beam can't traverse; ~128
            # rows per bucket keeps small collections fully connected and
            # large ones capped (the sliver inside hnsw_build takes over
            # past 2048 vectors)
            edges, graph_meta = hnsw_build(
                assigned,
                id_col="id",
                n_hash_buckets=min(16, max(1, n_vectors // 128)),
                metric=distance,
            )
            edges.write.mode("overwrite").parquet(str(root / "graph"))
        fp = _dir_fingerprint(self._table_path(scoped))
        (root / "manifest.json").write_text(
            json.dumps(
                {
                    "fingerprint": fp,
                    "n_terms": n_terms,
                    "n_vectors": n_vectors,
                    "graph": graph_meta,
                    "ivfpq": ivfpq_meta,
                    "quantization": quantization,
                    "distance": distance,
                    # content-only collections never lock a dimension in the
                    # catalog; the serve gate falls back to this for the
                    # mis-sized-query refusal
                    "dimension": dim_indexed,
                }
            )
        )
        return {"n_terms": n_terms, "n_vectors": n_vectors, "fingerprint": fp}

    def index_status(self, name: str) -> str:
        """'absent' | 'fresh' | 'repaired' | 'stale' — stale when the table
        changed after the index was built (any mutation rewrites partition
        files); 'repaired' when the change was covered by an incremental
        :meth:`repair_search_index` instead of a full rebuild (all
        families serve, but a rebuild restores the build-quality graph)."""
        return self._index_state(self._require(name))[0]

    @_serialized_mutation
    def repair_search_index(self, name: str) -> dict:
        """Incrementally extend the index families after APPEND-ONLY
        growth — the alternative to a full :meth:`build_search_index` when a
        batch landed on an indexed collection: the batch's row-level
        families are appended (the same writer the build uses), its
        IVF-PQ codes are encoded against the frozen centroids, and the
        graph gets the batch HNSW-insert repair
        (:func:`~vector_mcp_spark.operators.graph_ann.hnsw_repair` — layer
        draws + beam-searched top-M links against the frozen graph).

        Cost, honestly: the append-only PROOF is one verification pass over
        the table + sidecar (two equi-joins and a postings re-count — linear
        scans, embarrassingly parallel); the INDEX work after it is bounded
        by the batch. What never reruns is the expensive part of a rebuild —
        corpus-wide candidate pair generation and NN-descent.

        Refuses with ``index_repair_requires_rebuild`` when the growth was
        NOT append-only (an indexed row vanished or changed its served
        representation — detected against the ``ids`` sidecar) or when the
        index predates the sidecar / has no graph family. A fresh index is
        a no-op. After repair :meth:`index_status` reports ``'repaired'``
        (serving resumes; a rebuild restores build-quality edge lists).

        Serialized with the table mutations: the repair reads the table and
        stamps the covering fingerprint, so a mutation interleaving between
        the two would stamp coverage it never indexed."""
        from vector_mcp_spark.operators.graph_ann import hnsw_repair

        scoped = self._require(name)
        root = self._index_root(scoped)
        status, manifest = self._index_state(scoped)
        if manifest is None:
            raise EngineError(
                "index_not_fresh", detail="no index to repair — build_search_index first"
            )
        if self._servable(status, required=False):
            return {"repaired": 0, "n_vectors": manifest.get("n_vectors", 0)}
        graph_meta = manifest.get("graph") or {}
        if "graph" not in manifest or "ivfpq" not in manifest or not (root / "ids").exists():
            raise EngineError(
                "index_repair_requires_rebuild",
                detail="index predates incremental repair; rebuild",
            )
        distance = manifest.get("distance") or "cosine"
        if distance != self._locked_distance(scoped):
            # repair extends families; it cannot re-derive them under a new
            # geometry — that is exactly what a rebuild is for
            raise EngineError(
                "index_repair_requires_rebuild",
                detail="collection distance switched since build; rebuild",
            )
        if graph_meta.get("entry") is None:
            raise EngineError(
                "index_repair_requires_rebuild",
                detail="collection had <2 vectors at build; rebuild",
            )
        df, content_only = self._indexable_rows(name)
        df = df.localCheckpoint(eager=True)  # feeds membership + both phases
        indexed = self.spark.read.parquet(str(root / "ids"))
        removed = indexed.join(df.select("id"), "id", "left_anti").count()
        if removed:
            raise EngineError(
                "index_repair_requires_rebuild",
                detail=f"{removed} indexed row(s) deleted since build",
            )
        fingerprinted = df.select("id", self._row_fingerprint(df).alias("rowhash"))
        changed = (
            fingerprinted.join(indexed, "id")
            .where(fingerprinted["rowhash"] != indexed["rowhash"])
            .count()
        )
        if changed:
            raise EngineError(
                "index_repair_requires_rebuild",
                detail=f"{changed} indexed row(s) changed since build",
            )
        new = df.join(indexed, "id", "left_anti").localCheckpoint(eager=True)
        n_new = new.count()
        if n_new == 0:
            # logically identical table in rewritten files (e.g. a no-op
            # upsert): stamp coverage, nothing to index
            manifest["repaired_fingerprint"] = _dir_fingerprint(self._table_path(scoped))
            (root / "manifest.json").write_text(json.dumps(manifest))
            return {"repaired": 0, "n_vectors": manifest.get("n_vectors", 0)}

        new_emb = new.where(F.col("embedding").isNotNull()).select("id", "embedding")
        n_new_vecs = new_emb.count()
        if n_new_vecs and manifest.get("ivfpq"):
            # IVF-PQ family: encode the batch against the FROZEN coarse
            # centroids + codebooks and append its (cluster-partitioned)
            # codes — the batch-side twin of the streaming maintenance path
            from vector_mcp_spark.operators.pq import pq_encode_with
            from vector_mcp_spark.operators.similarity import assign_clusters

            pq_meta = manifest["ivfpq"]
            new_codes = pq_encode_with(
                assign_clusters(
                    new_emb, pq_meta["centroids"],
                    metric="l2" if distance == "l2" else "cosine",
                ),
                pq_meta["codebooks"],
            )
            new_codes.select("id", "cluster", "codes").write.mode("append").partitionBy(
                "cluster"
            ).parquet(str(root / "ivfpq"))
        if n_new_vecs:
            old_vecs = (
                df.join(indexed.select("id"), "id", "left_semi")
                .where(F.col("embedding").isNotNull())
                .select("id", "embedding")
            )
            new_edges, graph_meta = hnsw_repair(
                new_emb,
                old_vecs,
                self.spark.read.parquet(str(root / "graph")),
                graph_meta["entry"],
                int(graph_meta.get("top_layer", 0)),
                id_col="id",
                metric=distance,
            )
            new_edges.write.mode("append").parquet(str(root / "graph"))
        # the ids sidecar goes last inside the writer: rows count as indexed
        # only once every other family holds them
        self._write_row_families(
            root, new, manifest.get("quantization", "sign"), content_only, "append"
        )
        # n_terms is a distinct over the merged postings — a linear scan of
        # the postings index (its OUTPUT is vocabulary-bounded, the scan is
        # not); repair only runs on collections that had a graph, so the
        # postings directory is readable
        try:
            n_terms = (
                self.spark.read.parquet(str(root / "postings"))
                .select("term")
                .distinct()
                .count()
            )
        except Exception:
            n_terms = manifest.get("n_terms", 0)
        manifest.update(
            {
                "n_terms": n_terms,
                "n_vectors": int(manifest.get("n_vectors", 0)) + n_new_vecs,
                "graph": graph_meta,
                "repaired_fingerprint": _dir_fingerprint(self._table_path(scoped)),
            }
        )
        (root / "manifest.json").write_text(json.dumps(manifest))
        return {
            "repaired": n_new,
            "n_vectors": int(manifest["n_vectors"]),
            "n_terms": n_terms,
        }

    def _served_embeddings_df(self, name: str, scoped: str):
        """The document frame with its SERVED embedding column — what every
        indexed search ranks and re-ranks over. Stored-vector collections
        read straight from the table; content-only collections read the
        ``vectors`` family the index build persisted (build/repair keep it
        covering, and every caller already passed the freshness gate), so
        serving never re-embeds the corpus inside a query plan. Indexes
        built before the family existed fall back to the deterministic
        embed seam."""
        df = self.read(name)
        if not self.needs_embed(name):
            return df
        vec_root = self._index_root(scoped) / "vectors"
        if vec_root.exists():
            vecs = self.spark.read.parquet(str(vec_root))
            return df.drop("embedding").join(vecs, "id", "left")
        from vector_mcp_spark.functions.embedder import embed_documents

        return embed_documents(df, text_col="content", out_col="embedding")

    @staticmethod
    def _metric_order(metric: str, score, tie) -> list:
        """Best-first ordering under the collection's distance config:
        cosine/dot desc, l2 asc with NULLs last (a NULL score must never
        outrank a real one — ADVICE r11)."""
        if metric == "l2":
            return [score.asc_nulls_last(), tie.asc()]
        return [score.desc(), tie.asc()]

    def _no_hits(self) -> DataFrame:
        return self.spark.createDataFrame([], _HITS_SCHEMA)

    def _ranked(self, docs: DataFrame, hits: DataFrame, metric: str, score=None) -> DataFrame:
        """The one serve finish: broadcast the k-bounded hit set into the
        document frame, project (id, content, score) — ``score`` defaults
        to the hits' own column — and rank best-first under ``metric``."""
        return (
            docs.join(F.broadcast(hits), "id")
            .select("id", "content", "score" if score is None else score.alias("score"))
            .orderBy(*self._metric_order(metric, F.col("score"), F.col("id")))
        )

    def _beam_hits(
        self, index_root: Path, manifest: dict, corpus: DataFrame, query: list[float],
        k: int, ef: int, metric: str,
    ) -> "DataFrame | None":
        """(id, score) beam-descent hits from one graph family — the default
        index or a named vector's — or None when the build recorded no
        entry (< 2 vectors: nothing to traverse). The prepared single-query
        descent is one spark.sql text over the cached serve-set views,
        identical to ``ann_hnsw_topk(exclude_self=False)``: the query is not
        a corpus row, so a document whose id equals the synthetic query id
        must still be returnable."""
        from vector_mcp_spark.operators.graph_ann import ann_hnsw_prepared_sql

        entry = (manifest.get("graph") or {}).get("entry")
        if entry is None:
            return None
        _, _, nodes_view, edges_view, bcast_edges = self._graph_serve_set(
            index_root, corpus, metric
        )
        return self.spark.sql(
            ann_hnsw_prepared_sql(
                nodes_view, edges_view, entry, query, k=k, ef=ef, metric=metric,
                broadcast_edges=bcast_edges,
            )
        ).select(F.col("neighbor_id").alias("id"), "score")

    def indexed_lexical_search(self, name: str, query: str, k: int = 5) -> DataFrame:
        """Serve a lexical query from the materialized index; refuses with
        ``index_not_fresh`` when the index is absent or stale (never serve
        silently wrong results — rebuild first); an incrementally
        ``repaired`` index serves."""
        from vector_mcp_spark.operators.lexical import indexed_lexical_topk

        scoped, _, _ = self._serve_gate(name, family="postings")
        return indexed_lexical_topk(
            self.spark, str(self._index_root(scoped) / "postings"), query, k
        )

    # -- named multi-vector collections (qdrant named-vectors parity) -------
    #
    # A point can carry several NAMED dense vectors next to the default
    # embedding column ("text" + "image" towers, a Matryoshka head, a
    # reranker vector), each with its own dimension and distance and its
    # own graph index family. qdrant declares these as the vectors_config
    # map at create (qdrant.py:122-127 pins one; the client API takes the
    # map) and searches with using=<name>. Storage here is one (id, vector)
    # parquet sidecar per name under <table>_named/ — the document table
    # never widens, and a name's index/search touch only its sidecar.

    _NAMED_RE = __import__("re").compile(r"^[A-Za-z0-9_]{1,64}$")

    def _named_root(self, scoped: str) -> Path:
        return Path(self._table_path(scoped) + "_named")

    @classmethod
    def _validate_vectors_config(cls, vectors_config):
        if vectors_config is None:
            return None
        if not isinstance(vectors_config, Mapping) or not vectors_config:
            raise EngineError(
                "named_vectors_config_invalid",
                detail="need a non-empty {name: {dimension?, distance?}} map",
            )
        out = {}
        for vname, cfg in vectors_config.items():
            if not isinstance(vname, str) or not cls._NAMED_RE.match(vname):
                raise EngineError(
                    "named_vectors_config_invalid", detail=f"bad vector name {vname!r}"
                )
            cfg = dict(cfg or {})
            dim = cfg.get("dimension")
            if dim is not None and (not isinstance(dim, int) or dim <= 0):
                raise EngineError(
                    "named_vectors_config_invalid", detail=f"bad dimension for {vname!r}"
                )
            out[vname] = {
                "dimension": dim,
                "distance": validate_metric(cfg.get("distance", "cosine")),
            }
        return out

    def named_vectors_config(self, name: str) -> dict:
        """The locked named-vectors map (empty when none was declared)."""
        scoped = self._require(name)
        cfg_path = self._named_root(scoped) / "config.json"
        if not cfg_path.exists():
            return {}
        return json.loads(cfg_path.read_text())

    def _named_cfg(self, scoped: str, vector_name: str) -> dict:
        cfg_path = self._named_root(scoped) / "config.json"
        cfg = json.loads(cfg_path.read_text()) if cfg_path.exists() else {}
        if vector_name not in cfg:
            raise EngineError(
                "named_vector_unknown",
                detail=f"{vector_name!r} not declared; have {sorted(cfg)}",
            )
        return cfg[vector_name]

    @_serialized_mutation
    def put_named_vectors(self, name: str, vector_name: str, vectors: Mapping[str, Sequence[float]]) -> int:
        """Upsert ``{point_id: vector}`` into the named sidecar (the qdrant
        update_vectors shape). Every id must be an existing point —
        refusing beats silently storing orphan vectors — and every vector
        must match the name's locked dimension. Batch-bounded like
        add_documents; the merge is an anti-join + union over the sidecar."""
        scoped = self._require(name)
        cfg = self._named_cfg(scoped, vector_name)
        if not isinstance(vectors, Mapping) or not vectors:
            raise EngineError("named_vectors_invalid", detail="need {id: vector}")
        from vector_mcp_spark.validation import MAX_INGEST_DOCS

        # the add_documents batch bound, applied to the COUNT (the byte
        # caps there measure document text; ids/vectors have their own
        # width gates below)
        if len(vectors) > MAX_INGEST_DOCS:
            raise EngineError("ingest_too_many_documents")
        dim = cfg.get("dimension")
        rows = []
        for pid, vec in vectors.items():
            pid = str(pid)
            vec = [float(x) for x in vec]
            if dim is not None and len(vec) != dim:
                raise EngineError(
                    "collection_vector_schema_mismatch",
                    detail=f"{vector_name!r} locked at {dim}, got {len(vec)}",
                )
            rows.append((pid, vec))
        batch = self.spark.createDataFrame(rows, "id string, vector array<float>")
        missing = batch.join(self.read(name).select("id"), "id", "left_anti").count()
        if missing:
            raise EngineError(
                "point_not_found", detail=f"{missing} id(s) not in the collection"
            )
        data = self._named_root(scoped) / vector_name / "data"
        if (data / "_SUCCESS").exists():
            merged = (
                self.spark.read.parquet(str(data))
                .join(F.broadcast(batch), "id", "left_anti")
                .unionByName(batch)
                .localCheckpoint(eager=True)  # sever self-read before overwrite
            )
        else:
            merged = batch
        merged.write.mode("overwrite").parquet(str(data))
        return len(rows)

    def build_named_vector_index(self, name: str, vector_name: str) -> dict:
        """Materialize the name's graph index family under ITS distance
        (the per-name analogue of the default embedding's graph family):
        IVF coarse quantizer + layered graph over the sidecar vectors, a
        per-name manifest stamped with the sidecar fingerprint. Collections
        with < 2 vectors under the name record an entry-less graph (served
        queries answer empty, same as the default family)."""
        from vector_mcp_spark.operators.graph_ann import hnsw_build
        from vector_mcp_spark.operators.similarity import ivf_build

        scoped = self._require(name)
        cfg = self._named_cfg(scoped, vector_name)
        root = self._named_root(scoped) / vector_name
        data = root / "data"
        n = (
            self.spark.read.parquet(str(data)).count()
            if (data / "_SUCCESS").exists()
            else 0
        )
        graph_meta: dict = {"entry": None, "top_layer": 0}
        if n >= 2:
            vecs = self.spark.read.parquet(str(data)).select(
                "id", F.col("vector").alias("embedding")
            )
            assigned, _cents = ivf_build(
                vecs,
                n_centroids=min(16, max(1, n // 4)),
                id_col="id",
                max_iter=2,
                metric="l2" if cfg["distance"] == "l2" else "cosine",
            )
            edges, graph_meta = hnsw_build(
                assigned,
                id_col="id",
                n_hash_buckets=min(16, max(1, n // 128)),
                metric=cfg["distance"],
            )
            edges.write.mode("overwrite").parquet(str(root / "graph"))
        (root / "manifest.json").write_text(
            json.dumps(
                {
                    "fingerprint": _dir_fingerprint(data),
                    "n_vectors": n,
                    "graph": graph_meta,
                    "distance": cfg["distance"],
                }
            )
        )
        return {"n_vectors": n}

    def _named_state(self, scoped: str, vector_name: str) -> tuple[str, dict | None]:
        root = self._named_root(scoped) / vector_name
        return self._manifest_state(root / "manifest.json", root / "data")

    def named_vector_index_status(self, name: str, vector_name: str) -> str:
        """'absent' | 'fresh' | 'stale' for one name's graph family (a
        named family has no incremental repair; a re-put needs a rebuild)."""
        scoped = self._require(name)
        self._named_cfg(scoped, vector_name)
        return self._named_state(scoped, vector_name)[0]

    def named_vector_search(
        self,
        name: str,
        vector_name: str,
        question_vec,
        k: int = 5,
        ef: int = 48,
        indexed: bool | None = None,
    ) -> DataFrame:
        """Search one NAMED vector (qdrant ``query_points(using=<name>)``):
        scores under the name's locked distance, returns (id, content,
        score) best-first. ``indexed=None`` auto-routes — the name's graph
        family serves when built and fresh, the exact scan otherwise;
        ``indexed=True`` requires a fresh index (``index_not_fresh``);
        ``indexed=False`` forces the exact scan."""
        from vector_mcp_spark.operators.semantic import semantic_topk

        scoped = self._require(name)
        cfg = self._named_cfg(scoped, vector_name)
        query = self._query_vector(question_vec, cfg.get("dimension"))
        metric = cfg["distance"]
        root = self._named_root(scoped) / vector_name
        if not (root / "data" / "_SUCCESS").exists():
            return self._no_hits()
        status, manifest = self._named_state(scoped, vector_name)
        fresh = self._servable(status, required=bool(indexed))
        vecs = self.spark.read.parquet(str(root / "data"))
        # the auto router picks the best serving route: an entry-less graph
        # (< 2 vectors at build) cannot answer what the exact scan can
        beam = fresh and (manifest.get("graph") or {}).get("entry") is not None
        if indexed is False or (indexed is None and not beam):
            joined = self.read(name).select("id", "content").join(
                vecs.select("id", F.col("vector").alias("_nv")), "id"
            )
            return semantic_topk(
                joined, query, k, id_col="id",
                emb_col="_nv", payload_cols=("content",), metric=metric,
            ).select("id", "content", "score")
        corpus = vecs.select("id", F.col("vector").alias("embedding"))
        hits = self._beam_hits(root, manifest, corpus, query, k, ef, metric)
        return self._no_hits() if hits is None else self._ranked(self.read(name), hits, metric)

    def _indexed_sparse_hits(self, scoped: str, query_weights, k: int) -> DataFrame:
        """(id, score) sparse leg from the persisted named-sparse family —
        postings bucket-pruned to the query's terms (partition pruning at
        the scan), L1 norms from the doclen table; nothing re-tokenizes."""
        from vector_mcp_spark.operators.vecapi import indexed_sparse_dot_topk

        root = self._index_root(scoped)
        buckets = sorted(
            {
                hashlib.sha256(str(t).casefold().encode("utf-8")).hexdigest()[:2]
                for t, _ in query_weights
            }
        )
        postings = self.spark.read.parquet(str(root / "postings")).where(
            F.col("term_bucket").isin(buckets)
        )
        doclens = self.spark.read.parquet(str(root / "doclen"))
        return indexed_sparse_dot_topk(postings, doclens, query_weights, k, id_col="id")

    def indexed_sparse_search(self, name: str, query_weights, k: int = 5) -> DataFrame:
        """Serve a sparse-vector query (``[(term, weight), ...]``) from the
        persisted named-sparse family — the qdrant named-sparse-vector
        search next to the dense index families. Same staleness contract
        as every indexed search. Returns (id, content, score) best-first."""
        scoped, _, _ = self._serve_gate(name, family="doclen")
        return self._ranked(
            self.read(name), self._indexed_sparse_hits(scoped, query_weights, k), "dot"
        )

    def indexed_sparse_dense_search(
        self,
        name: str,
        question_vec,
        query_weights,
        k: int = 10,
        w_dense: float = 0.5,
        w_sparse: float = 0.5,
        rrf_k: int = 60,
        ef: int = 48,
        leg_k: int | None = None,
    ) -> DataFrame:
        """Sparse+dense hybrid served END TO END from the engine's
        persisted index families behind ONE pass of the gate: the dense
        leg beam-descends the graph family under the collection's distance
        config, the sparse leg dots the named-sparse postings, and weighted
        RRF fuses ≤ leg-k rows per side (the qdrant named-vectors +
        ``Fusion.RRF`` composition the suite's ``hybrid_sparse_dense``
        entry oracles at corpus level)."""
        from vector_mcp_spark.operators.hybrid import rrf_fuse

        scoped, manifest, query = self._serve_gate(name, question_vec, family="doclen")
        metric = manifest.get("distance") or "cosine"
        leg = int(leg_k or k)
        docs = self._served_embeddings_df(name, scoped)
        corpus = docs.where(F.col("embedding").isNotNull()).select("id", "embedding")
        dense = self._beam_hits(self._index_root(scoped), manifest, corpus, query, leg, ef, metric)
        if dense is None:
            dense = self._no_hits().select("id", "score")
        if metric == "l2":
            # RRF is rank-based; rrf_fuse ranks legs score-DESC, so flip the
            # ascending-better l2 distances into a descending-better key
            dense = dense.withColumn("score", -F.col("score"))
        sparse = self._indexed_sparse_hits(scoped, query_weights, leg)
        fused = rrf_fuse(
            [(dense, w_dense), (sparse, w_sparse)], k, rrf_k=rrf_k, id_col="id"
        )
        return self._ranked(self.read(name), fused, "dot")

    def indexed_semantic_search(
        self, name: str, question_vec, k: int = 5, shortlist: int = 100
    ) -> DataFrame:
        """Serve a vector query from the quantized-shortlist index, honoring
        the collection's build-time ``quantization`` config: ``"sign"`` →
        Hamming shortlist over the 16-byte-per-vector signs table; ``"int8"``
        → approximate-cosine shortlist over dequantized int8 codes (the
        full-precision vector column is read only for the shortlist re-rank
        either way). Refuses when not fresh.

        The sign packing covers the FIRST 64 dimensions on both the index
        and the query path (shorter vectors zero-pad, extra dims don't
        contribute to the shortlist); the int8 codes cover the full
        dimension, so the gate refuses a mis-sized query for them. The
        exact-cosine re-rank always uses the full vectors, so under sign
        quantization recall degrades gracefully — it never errors — for
        dimensions other than 64."""
        from vector_mcp_spark.functions.vector import (
            cosine_similarity,
            dot,
            l2_distance,
            l2_norm,
        )
        from vector_mcp_spark.operators.quantize import dequantize_expr, sign_pack_py

        scoped, manifest, query = self._serve_gate(name, question_vec, family="shortlist")
        metric = manifest.get("distance") or "cosine"
        if manifest.get("quantization", "sign") == "sign":
            if metric != "cosine":
                # unreachable through build_search_index (non-cosine builds
                # force int8 — sign bits drop the magnitudes dot/l2 need),
                # but a hand-edited manifest must refuse, not serve wrong
                # geometry
                raise EngineError(
                    "index_not_fresh",
                    detail="sign shortlist is cosine-only; rebuild under int8",
                )
            qlo, qhi = sign_pack_py(query)
            signs = self.spark.read.parquet(str(self._index_root(scoped) / "signs"))
            ham = F.bit_count(F.col("lo").bitwiseXOR(F.lit(qlo))) + F.bit_count(
                F.col("hi").bitwiseXOR(F.lit(qhi))
            )
            short = (
                signs.select("id", ham.alias("hamming"))
                .orderBy(F.col("hamming").asc(), F.col("id").asc())
                .limit(shortlist)
            )
        else:
            codes = self.spark.read.parquet(str(self._index_root(scoped) / "int8q"))
            qarr = F.array(*[F.lit(x) for x in query])
            deq = dequantize_expr("q", "scale")
            if metric == "cosine":
                approx = cosine_similarity(deq, qarr)
            elif metric == "dot":
                approx = dot(deq, qarr)
            else:
                approx = l2_distance(deq, qarr)
            short = (
                codes.select("id", approx.alias("_approx"))
                .where(F.col("_approx").isNotNull())
                .orderBy(*self._metric_order(metric, F.col("_approx"), F.col("id")))
                .limit(shortlist)
                .drop("_approx")
            )
        df = self._served_embeddings_df(name, scoped)
        qv = F.array(*[F.lit(x) for x in query])
        if metric == "cosine":
            sim = dot(F.col("embedding"), qv) / (l2_norm(F.col("embedding")) * l2_norm(qv))
        elif metric == "dot":
            sim = dot(F.col("embedding"), qv)
        else:
            sim = l2_distance(F.col("embedding"), qv)
        return self._ranked(df, short, metric, F.round(sim, 6)).limit(k)

    def indexed_graph_search(
        self, name: str, question_vec, k: int = 5, ef: int = 48
    ) -> DataFrame:
        """Serve a vector query from the layered HNSW-style graph index
        (operators/graph_ann.py): beam-descend the persisted edge table
        from the index's entry point, exact re-rank the final beam under
        the collection's distance. Refuses when the index is absent or
        stale — same contract as the postings and shortlist families.
        Collections with < 2 vectors have no graph; the query answers empty
        (nothing to traverse)."""
        scoped, manifest, query = self._serve_gate(name, question_vec)
        metric = manifest.get("distance") or "cosine"
        df = self._served_embeddings_df(name, scoped)
        corpus = df.where(F.col("embedding").isNotNull()).select("id", "embedding")
        hits = self._beam_hits(self._index_root(scoped), manifest, corpus, query, k, ef, metric)
        return self._no_hits() if hits is None else self._ranked(df, hits, metric)

    def indexed_ivfpq_search(
        self, name: str, question_vec, k: int = 5, nprobe: int = 4, shortlist: int = 50
    ) -> DataFrame:
        """Serve a vector query from the persisted IVF-PQ index (the FAISS
        ``IndexIVFPQ`` serving path; engine-side analogue of the reference
        engine's IVF-PQ index, ``epistemic_graph.py:5-9``): coarse probe
        over the manifest's centroid table → ADC shortlist over the probed
        clusters' code partitions (4 B/vector reads, partition-pruned) →
        exact re-rank of ``shortlist`` rows. Refuses with
        ``index_not_fresh`` when the index is absent, stale, or predates
        the IVF-PQ family — same contract as the other families.
        Collections with < 2 vectors at build have no codes; the query
        answers empty."""
        from vector_mcp_spark.operators.pq import ann_ivf_adc_rerank_topk

        scoped, manifest, query = self._serve_gate(name, question_vec)
        pq_meta = manifest["ivfpq"]
        if pq_meta is None:
            return self._no_hits()
        codes = self.spark.read.parquet(str(self._index_root(scoped) / "ivfpq"))
        df = self._served_embeddings_df(name, scoped)
        corpus = df.where(F.col("embedding").isNotNull()).select("id", "embedding")
        metric = manifest.get("distance") or "cosine"
        hits = ann_ivf_adc_rerank_topk(
            codes.select("id", "cluster"),
            codes.select("id", "codes"),
            pq_meta["centroids"],
            pq_meta["codebooks"],
            corpus,
            query,
            k,
            shortlist=shortlist,
            nprobe=nprobe,
            id_col="id",
            metric=metric,
        ).select("id", "score")
        return self._ranked(df, hits, metric)

    def indexed_filtered_search(
        self,
        name: str,
        question_vec,
        payload_filter: dict,
        k: int = 5,
        ef: int = 48,
        selectivity_threshold: float = 0.25,
    ) -> DataFrame:
        """Filtered vector search over the persisted graph index — the
        filter+vector query a qdrant user issues most (its planner picks
        between a filtered exact scan and the HNSW traversal by estimated
        cardinality; the engine routes the same way via
        :func:`~vector_mcp_spark.operators.graph_ann.ann_filtered_topk_routed`).

        ``payload_filter`` is the must-match map ``{metadata_key: value}``
        (qdrant ``Filter(must=[FieldCondition(...)])`` shape): a row
        qualifies when EVERY pair matches its metadata. A value may also be
        a qdrant ``Range`` dict over ``gt``/``gte``/``lt``/``lte`` (any
        subset, at least one — the key's NUMERIC metadata must fall in the
        interval, strict bounds excluded) or a qdrant ``MatchAny`` dict
        ``{"any": [v1, v2, ...]}`` (the key equals any listed value).
        Every condition kind is served from its FRESH payload index when
        one exists — equality/MatchAny from the hex-value partitions of
        :meth:`create_payload_index`, ranges from the band partitions of
        :meth:`create_payload_range_index` — and falls back to the
        (always correct) metadata scan otherwise.
        When a FRESH range payload index exists for that key
        (:meth:`create_payload_range_index`), the allowed set is served
        from its band partitions — only the bands overlapping [lo, hi]
        open — instead of scanning every row's metadata map; a stale or
        absent index falls back to the scan (accelerator contract: never
        wrong, at worst unaccelerated). Refuses empty or non-mapping
        filters with ``payload_filter_invalid``, malformed ranges with
        ``payload_range_invalid``, mis-sized queries with
        ``collection_vector_schema_mismatch``, and absent/stale vector
        indexes with ``index_not_fresh`` — the same staleness contract as
        every indexed search. Returns (id, content, score) best-first;
        < 2 indexed vectors answers empty."""
        from vector_mcp_spark.operators.graph_ann import ann_filtered_topk_routed

        if not isinstance(payload_filter, dict) or not payload_filter:
            raise EngineError(
                "payload_filter_invalid", detail="need a non-empty {key: value} map"
            )
        range_filters: dict[str, dict[str, float]] = {}
        any_filters: dict[str, list[str]] = {}
        for key, value in payload_filter.items():
            self._validate_payload_key(key)
            if isinstance(value, dict):
                if set(value) == {"any"}:
                    vals = value["any"]
                    if (
                        not isinstance(vals, (list, tuple))
                        or not vals
                        or len(vals) > 256  # wire-bounded like every input
                        or not all(isinstance(v, (str, int, float))
                                   and not isinstance(v, bool) for v in vals)
                    ):
                        raise EngineError(
                            "payload_filter_invalid",
                            detail="'any' needs a non-empty list of <=256 scalars",
                        )
                    any_filters[key] = [str(v) for v in vals]
                elif set(value) <= set(self._RANGE_BOUND_KEYS):
                    range_filters[key] = self._validate_range_bounds(**value)
                else:
                    raise EngineError(
                        "payload_range_invalid",
                        detail="condition keys must be gt/gte/lt/lte or 'any', "
                        f"got {sorted(value)}",
                    )
        scoped, manifest, question_vec = self._serve_gate(name, question_vec)
        entry = (manifest.get("graph") or {}).get("entry")
        if entry is None:
            return self._no_hits()
        df = self._served_embeddings_df(name, scoped)
        cond = None
        indexed_ids = None  # semi-join side from fresh payload indexes

        def _use_index(served: "DataFrame | None") -> bool:
            nonlocal indexed_ids
            if served is None:
                return False
            indexed_ids = (
                served if indexed_ids is None
                else indexed_ids.join(served, "id", "left_semi")
            )
            return True

        for key, value in payload_filter.items():
            if key in range_filters:
                # fresh range index: the predicate prunes into band
                # partitions instead of scanning metadata maps
                bounds = range_filters[key]
                if _use_index(self._range_allowed_ids(scoped, key, bounds)):
                    continue
                c = self._range_scan_cond(
                    F.col("metadata").getItem(key).try_cast("double"), bounds
                )
            elif key in any_filters:
                # MatchAny: fresh equality index opens one hex-value
                # partition per listed value
                vals = any_filters[key]
                if _use_index(self._equality_allowed_ids(scoped, key, vals)):
                    continue
                c = F.col("metadata").getItem(key).isin(vals)
            else:
                # plain equality (qdrant MatchValue): same index, one value
                if _use_index(self._equality_allowed_ids(scoped, key, [str(value)])):
                    continue
                c = F.col("metadata").getItem(key) == F.lit(str(value))
            cond = c if cond is None else (cond & c)
        allowed = df.where(cond).select("id") if cond is not None else None
        if indexed_ids is not None:
            allowed = (
                indexed_ids if allowed is None
                else allowed.join(indexed_ids, "id", "left_semi")
            )
        edges = self.spark.read.parquet(str(self._index_root(scoped) / "graph"))
        corpus = df.where(F.col("embedding").isNotNull()).select("id", "embedding")
        query = self.spark.createDataFrame(
            [("__q__", question_vec)], "id string, embedding array<float>"
        )
        metric = manifest.get("distance") or "cosine"
        hits, _regime = ann_filtered_topk_routed(
            query, corpus, edges, entry, allowed, k, ef=ef, id_col="id",
            exclude_self=False,  # the query is synthetic, not a corpus row
            selectivity_threshold=selectivity_threshold,
            # the manifest recorded the corpus cardinality at build time
            # (repair keeps it current) — a served query must not pay a
            # corpus-wide count for the selectivity estimate
            n_total=int(manifest["n_vectors"]),
            metric=metric,
        )
        return self._ranked(df, hits.select(F.col("neighbor_id").alias("id"), "score"), metric)

    def profile_collection(self, name: str) -> DataFrame:
        """Data-quality profile of a collection: per-signal row/null counts,
        range, and totals over derived numeric signals (content length,
        embedding norm, metadata key count) — the pre-training dashboard a
        corpus owner checks before feeding a 100 TB collection downstream.
        One unpivoted pass over the table (operators/profile.py)."""
        from vector_mcp_spark.functions.vector import l2_norm
        from vector_mcp_spark.operators.profile import profile_columns

        df = self.read(name).select(
            F.length("content").cast("double").alias("content_len"),
            l2_norm(F.col("embedding")).alias("embedding_norm"),
            F.size(F.map_keys(F.coalesce(F.col("metadata"), F.expr("map()"))))
            .cast("double")
            .alias("n_metadata_keys"),
        )
        return profile_columns(df, ["content_len", "embedding_norm", "n_metadata_keys"])

    @_serialized_mutation
    def compact_collection(self, name: str, target_files: int | None = None) -> int:
        """Pack each id-prefix partition bucket into a single parquet file.
        Incremental upserts accrete one file per batch per touched bucket; at
        scale the small-files problem dominates scan planning, so compaction
        is a first-class maintenance op (the Parquet stand-in for Delta
        OPTIMIZE). ``target_files`` is retained for API compatibility; the
        unit of compaction is the partition bucket. Returns the total parquet
        file count after the rewrite."""
        scoped = self._require(name)
        df = self.read(name)
        # hash-repartition by bucket: each bucket lands wholly in one task,
        # so the partitioned write emits exactly one file per bucket dir
        packed = (
            df.withColumn(_PART_COL, _prefix_of(F.col("id")))
            .repartition(F.col(_PART_COL))
            .drop(_PART_COL)
        )
        self._overwrite_table(scoped, packed)
        out = Path(self._table_path(scoped))
        return sum(1 for _ in out.rglob("*.parquet"))

    @_serialized_mutation
    def update_documents(self, name: str, df: DataFrame) -> None:
        """T7 upsert from a prepared Document-schema DataFrame (may be large —
        prefixes are aggregated distributed-side, ≤256 distinct values)."""
        scoped = self._require(name)
        # Materialize the input ONCE (ADVICE r7): a df derived from reading
        # this same collection (a re-embed pipeline) would otherwise be
        # re-evaluated for the changelog append AFTER the rewrite deleted
        # the parquet files it reads — and even a safe df would recompute
        # its plan 3-4× (prefixes, merge, changelog, null probe).
        df = df.select(*DOCUMENT_SCHEMA.fieldNames()).localCheckpoint(eager=True)
        self._check_dimension(scoped, df)
        self._seed_changelog_if_legacy(scoped)
        if self._table_format is not None:
            from vector_mcp_spark.operators.transactional import merge_upsert

            merge_upsert(self.spark, self._table_format, self._table_path(scoped), df)
            self._log_mutation_df(scoped, "upsert", df)
            if df.where(F.col("embedding").isNull()).limit(1).count() > 0:
                self._mark_needs_embed(scoped)
            return
        prefixes = [
            r.p for r in df.select(_prefix_of(F.col("id")).alias("p")).distinct().collect()
        ]
        touched = self._read_partitions(scoped, prefixes)
        merged = touched.join(df.select("id"), "id", "left_anti").unionByName(df)
        self._rewrite_partitions(scoped, prefixes, merged)
        self._log_mutation_df(scoped, "upsert", df)
        # bounded probe on the (batch-sized) upsert input — mutation path,
        # not the search hot path; keeps the catalog flag exact
        if df.where(F.col("embedding").isNull()).limit(1).count() > 0:
            self._mark_needs_embed(scoped)

    @_serialized_mutation
    def delete_documents(self, name: str, ids: Sequence[str]) -> None:
        # T9 (base.py:174-187) — anti-join rewrite of ONLY the partitions the
        # ids hash into (prefixes known driver-side, no job needed)
        scoped = self._require(name)
        self._seed_changelog_if_legacy(scoped)
        ids = [str(i) for i in ids]
        prefixes = sorted({i[:_PART_LEN] for i in ids})
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        if self._table_format is not None:
            from vector_mcp_spark.operators.transactional import merge_delete

            merge_delete(self.spark, self._table_format, self._table_path(scoped), ids_df)
            self._log_mutation_rows(scoped, "delete", [(i, None, None, None) for i in ids])
            return
        touched = self._read_partitions(scoped, prefixes)
        self._rewrite_partitions(
            scoped, prefixes, touched.join(F.broadcast(ids_df), "id", "left_anti")
        )
        self._log_mutation_rows(scoped, "delete", [(i, None, None, None) for i in ids])

    def get_documents_by_ids(
        self, name: str, ids: Sequence[str] | None = None, include: Sequence[str] | None = None
    ) -> DataFrame:
        # T10 (base.py:233-253); ids=None → full scan (chromadb.py:186-237).
        # With ids, only the partitions they hash into are opened.
        if ids is not None:
            ids = [str(i) for i in ids]
            df = self._read_partitions(self._require(name), sorted({i[:_PART_LEN] for i in ids}))
            ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
            df = df.join(F.broadcast(ids_df), "id", "left_semi")
        else:
            df = self.read(name)
        cols = ["id", *include] if include else df.columns
        return df.select(*dict.fromkeys(cols))

    def count_documents(self, name: str, where: "F.Column | None" = None) -> int:
        """Point count, optionally under a filter Column (the vector-DB
        ``count`` API — qdrant exposes it as ``client.count(collection,
        count_filter=...)``; the reference's backends answer it with
        ``SELECT count(*)``). Column-pruned scan: only the filter's columns
        are read, never content/embedding bytes."""
        df = self.read(name)
        if where is not None:
            df = df.where(where)
        return df.count()

    # -- payload field index (qdrant create_payload_index analogue) ---------
    #
    # A per-metadata-key value → id table the equality paths prune into —
    # counting one payload value reads a few kilobytes of index partitions
    # instead of the collection's metadata maps. Unlike the text/vector
    # families this one is a pure ACCELERATOR: a stale index is never
    # served (the caller transparently falls back to the table scan, which
    # is always correct), so mutations can't make it lie — only slow.

    @staticmethod
    def _validate_payload_key(key: str) -> None:
        """Every payload-index surface builds filesystem paths from the key
        — the READ paths validate too, or a key like "team/../payload_team"
        traverses into another key's manifest and serves its counts."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9_.-]{1,64}", key or "") or ".." in key:
            raise EngineError("payload_key_invalid", detail=repr(key))

    #: hex-encoded values longer than this go to a sha-named partition (the
    #: raw hex would exceed the ~255-byte filename limit); exactness is kept
    #: by a post-filter on the stored raw value
    _PAYLOAD_VKEY_MAX_HEX = 180

    @classmethod
    def _payload_vkey_col(cls) -> "F.Column":
        hexed = F.hex(F.encode(F.col("value"), "UTF-8"))
        return F.when(
            F.length(hexed) <= cls._PAYLOAD_VKEY_MAX_HEX,
            F.concat(F.lit("v"), hexed),
        ).otherwise(F.concat(F.lit("s"), F.sha2(F.col("value"), 256)))

    @classmethod
    def _payload_vkey_py(cls, value: str) -> str:
        import hashlib

        hexed = value.encode("utf-8").hex().upper()
        if len(hexed) <= cls._PAYLOAD_VKEY_MAX_HEX:
            return "v" + hexed
        return "s" + hashlib.sha256(value.encode("utf-8")).hexdigest()

    def create_payload_index(self, name: str, key: str) -> dict:
        """Materialize the (value, id) index for one metadata key,
        hive-partitioned by the HEX-ENCODED value so an equality lookup
        opens only its own partition. Encoding sidesteps hive partition
        semantics that would make the index lie: an empty string (or a
        value spelled __HIVE_DEFAULT_PARTITION__) round-trips as NULL in
        raw form; values too long to hex into a filename partition under
        their sha256 and the lookup post-filters on the stored raw value.
        Layout is payload_<key>/data + payload_<key>/manifest.json (a
        dotted key like "x.json" can never collide with another key's
        manifest). Returns {"key", "n_values", "n_rows", "fingerprint"}."""
        scoped = self._require(name)
        self._validate_payload_key(key)
        # fingerprint BEFORE reading: a mutation landing mid-build then
        # makes the manifest's fp mismatch the table -> 'stale' -> scan
        # fallback. Capturing after the write would stamp a post-mutation
        # fp over pre-mutation index data — a fresh-but-wrong index.
        fp = _dir_fingerprint(self._table_path(scoped))
        root = self._index_root(scoped) / f"payload_{key}"
        # clear the pre-hardening layout (flat manifest file + raw value=*
        # dirs directly under the key dir) so a rebuild never leaves a
        # mixed-layout orphan behind
        legacy_manifest = self._index_root(scoped) / f"payload_{key}.json"
        if legacy_manifest.is_file():
            legacy_manifest.unlink()
        if root.exists():
            for entry in root.iterdir():
                if entry.name.startswith("value="):
                    shutil.rmtree(entry, ignore_errors=True)
        idx = (
            self.read(name)
            .select("id", F.col("metadata")[key].alias("value"))
            .where(F.col("value").isNotNull())
            # 'v' prefix: hex('') is '' and an EMPTY partition value is the
            # same hive-default trap the encoding exists to avoid. The raw
            # value is STORED so sha-bucketed lookups stay exact.
            .select("id", "value", self._payload_vkey_col().alias("vkey"))
        )
        # pin static overwrite: under partitionOverwriteMode=dynamic a
        # rebuild would keep partitions for values that no longer exist —
        # a fresh-but-lying index for every deleted value
        idx.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("vkey").parquet(str(root / "data"))
        # counts come from the files just written (one job, and they can
        # never disagree with the index under a concurrent mutation)
        written = self.spark.read.schema("id string, value string, vkey string").parquet(
            str(root / "data")
        )
        counts = written.agg(
            F.count("*").alias("n"), F.countDistinct("value").alias("d")
        ).first()
        root.mkdir(parents=True, exist_ok=True)
        (root / "manifest.json").write_text(
            json.dumps({"key": key, "fingerprint": fp, "n_values": int(counts.d)})
        )
        return {
            "key": key,
            "n_values": int(counts.d),
            "n_rows": int(counts.n),
            "fingerprint": fp,
        }

    def _payload_state(self, scoped: str, family: str, key: str) -> tuple[str, dict | None]:
        """State of one key's payload index (``family`` is ``payload`` or
        ``payload_range``): the same reader as every index family, against
        the table fingerprint the build stamped."""
        self._validate_payload_key(key)
        return self._manifest_state(
            self._index_root(scoped) / f"{family}_{key}" / "manifest.json",
            self._table_path(scoped),
        )

    def payload_index_status(self, name: str, key: str) -> str:
        """'absent' | 'fresh' | 'stale' for one key's payload index."""
        return self._payload_state(self._require(name), "payload", key)[0]

    def count_by_payload(self, name: str, key: str, value: str) -> int:
        """Equality-filtered count served from the payload index when it is
        fresh (partition-pruned: only the one value's files open), else
        from the table scan — the accelerator contract: never wrong, at
        worst unaccelerated."""
        scoped = self._require(name)
        allowed = self._equality_allowed_ids(scoped, key, [str(value)])
        if allowed is not None:
            return allowed.count()
        return self.count_documents(
            name, where=F.col("metadata")[key] == str(value)
        )

    # -- range payload index (qdrant Range filter accelerator) --------------
    #
    # The equality family above prunes one hex partition per value; range
    # predicates (qdrant ``Range(gte=, lte=)`` — the reference's backends
    # push these server-side, tests/test_secure_backends.py:98-116) need a
    # different layout: (id, value) band-partitioned by VALUE BUCKET, so a
    # [lo, hi] probe opens only the overlapping bands — at 100 TB a 10%
    # range reads ~10% of the index files and none of the collection's
    # metadata maps. Same accelerator contract as the equality family: a
    # stale index is never served, callers fall back to the (always
    # correct) table scan.

    _PAYLOAD_RANGE_BANDS = 32

    def create_payload_range_index(
        self, name: str, key: str, n_bands: int | None = None
    ) -> dict:
        """Materialize the numeric (value, id) index for one metadata key,
        hive-partitioned by equi-width value band over the [min, max] seen
        at build. Non-numeric and NULL values are excluded (a range
        predicate can never match them). Layout mirrors the equality
        family: payload_range_<key>/data + manifest.json recording the
        band geometry. Returns {"key", "n_rows", "vmin", "vmax",
        "n_bands", "fingerprint"}."""
        scoped = self._require(name)
        self._validate_payload_key(key)
        n_bands = self._PAYLOAD_RANGE_BANDS if n_bands is None else int(n_bands)
        if n_bands < 1:
            raise EngineError("payload_bands_invalid", detail=repr(n_bands))
        # fingerprint BEFORE reading (same mid-build-mutation reasoning as
        # the equality family): a mutation landing after this read makes
        # the manifest mismatch -> stale -> scan fallback, never a lie
        fp = _dir_fingerprint(self._table_path(scoped))
        vals = (
            self.read(name)
            .select("id", F.col("metadata")[key].try_cast("double").alias("value"))
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
        )
        bounds = vals.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).first()
        root = self._index_root(scoped) / f"payload_range_{key}"
        if bounds.lo is None:  # no numeric values: empty index, still fresh
            shutil.rmtree(root / "data", ignore_errors=True)
            root.mkdir(parents=True, exist_ok=True)
            (root / "manifest.json").write_text(json.dumps(
                {"key": key, "fingerprint": fp, "n_rows": 0,
                 "vmin": None, "vmax": None, "n_bands": n_bands}
            ))
            return {"key": key, "n_rows": 0, "vmin": None, "vmax": None,
                    "n_bands": n_bands, "fingerprint": fp}
        vmin, vmax = float(bounds.lo), float(bounds.hi)
        banded = vals.withColumn("band", self._range_band_col(F.col("value"), vmin, vmax, n_bands))
        banded.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"  # same deleted-value hygiene
        ).partitionBy("band").parquet(str(root / "data"))
        n_rows = self.spark.read.schema("id string, value double, band int").parquet(
            str(root / "data")
        ).count()
        root.mkdir(parents=True, exist_ok=True)
        (root / "manifest.json").write_text(json.dumps(
            {"key": key, "fingerprint": fp, "n_rows": int(n_rows),
             "vmin": vmin, "vmax": vmax, "n_bands": n_bands}
        ))
        return {"key": key, "n_rows": int(n_rows), "vmin": vmin, "vmax": vmax,
                "n_bands": n_bands, "fingerprint": fp}

    @staticmethod
    def _range_band_col(value: "F.Column", vmin: float, vmax: float, n_bands: int) -> "F.Column":
        """Equi-width band id in [0, n_bands) — the Column twin of
        :meth:`_range_band_py` (identical arithmetic so probe pruning can
        never disagree with the written partitions)."""
        if vmax <= vmin:  # single-value corpus: everything in band 0
            return F.lit(0)
        width = (vmax - vmin) / n_bands
        raw = F.floor((value - F.lit(vmin)) / F.lit(width)).cast("int")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bands - 1))

    @staticmethod
    def _range_band_py(value: float, vmin: float, vmax: float, n_bands: int) -> int:
        import math

        if vmax <= vmin:
            return 0
        width = (vmax - vmin) / n_bands
        return min(max(int(math.floor((value - vmin) / width)), 0), n_bands - 1)

    def payload_range_index_status(self, name: str, key: str) -> str:
        """'absent' | 'fresh' | 'stale' for one key's range index."""
        return self._payload_state(self._require(name), "payload_range", key)[0]

    def _equality_allowed_ids(
        self, scoped: str, key: str, values: list[str]
    ) -> "DataFrame | None":
        """The id set whose ``key`` payload equals ANY of ``values``,
        served from a FRESH equality payload index (one hex-value
        partition per value opens — the qdrant ``MatchValue``/``MatchAny``
        acceleration), or None when the index is absent/stale — the
        caller falls back to the metadata scan."""
        if self._payload_state(scoped, "payload", key)[0] != "fresh":
            return None
        # explicit schema: partition-column type inference would read
        # all-numeric hex keys back as ints, and a value-less index
        # directory (every row had a NULL for the key) has nothing to
        # infer from
        idx = self.spark.read.schema("id string, value string, vkey string").parquet(
            str(self._index_root(scoped) / f"payload_{key}" / "data")
        )
        vkeys = sorted({self._payload_vkey_py(v) for v in values})
        # vkey is the partition column — only the values' partitions open;
        # the raw-value post-filter keeps sha-bucketed (long) values exact
        return idx.where(
            F.col("vkey").isin(vkeys) & F.col("value").isin(list(values))
        ).select("id")

    def _range_allowed_ids(
        self, scoped: str, key: str, bounds: dict[str, float]
    ) -> "DataFrame | None":
        """The id set matching the validated Range ``bounds`` served from a
        FRESH range index (band partition pruning + exact post-filter), or
        None when the index is absent/stale/empty-geometry — the caller
        falls back to the table scan."""
        status, meta = self._payload_state(scoped, "payload_range", key)
        if status != "fresh":
            return None
        if meta.get("vmin") is None:  # built over zero numeric values
            return self.spark.createDataFrame([], "id string")
        vmin, vmax, nb = float(meta["vmin"]), float(meta["vmax"]), int(meta["n_bands"])
        idx = self.spark.read.schema("id string, value double, band int").parquet(
            str(self._index_root(scoped) / f"payload_range_{key}" / "data")
        )
        # band bounds from the same arithmetic the build wrote — these are
        # PARTITION filters, so only overlapping band dirs are ever opened.
        # Strict bounds (gt/lt) share their band with the inclusive twin:
        # strictness is exactness work for the post-filter, not pruning.
        lo = max((bounds[k] for k in ("gt", "gte") if k in bounds), default=None)
        hi = min((bounds[k] for k in ("lt", "lte") if k in bounds), default=None)
        lo_band = 0 if lo is None else self._range_band_py(lo, vmin, vmax, nb)
        hi_band = nb - 1 if hi is None else self._range_band_py(hi, vmin, vmax, nb)
        cond = (F.col("band") >= lo_band) & (F.col("band") <= hi_band)
        cond = cond & self._range_scan_cond(F.col("value"), bounds)
        return idx.where(cond).select("id")

    def count_by_payload_range(
        self,
        name: str,
        key: str,
        gte: float | None = None,
        lte: float | None = None,
        gt: float | None = None,
        lt: float | None = None,
    ) -> int:
        """Range-filtered count under the full qdrant ``Range`` bound set
        (gt/gte/lt/lte, at least one) served from the range index when
        fresh, else from the table scan — never wrong, at worst
        unaccelerated."""
        scoped = self._require(name)
        self._validate_payload_key(key)
        bounds = self._validate_range_bounds(gte=gte, lte=lte, gt=gt, lt=lt)
        allowed = self._range_allowed_ids(scoped, key, bounds)
        if allowed is not None:
            return allowed.count()
        # try_cast: ANSI mode would otherwise throw on non-numeric values
        val = F.col("metadata")[key].try_cast("double")
        return self.count_documents(name, where=self._range_scan_cond(val, bounds))

    #: the full qdrant ``Range`` bound set (qdrant.py filter grammar)
    _RANGE_BOUND_KEYS = ("gt", "gte", "lt", "lte")

    @classmethod
    def _validate_range_bounds(
        cls, gte=None, lte=None, gt=None, lt=None
    ) -> dict[str, float]:
        """Validate the qdrant Range bounds into a {bound: float} dict —
        at least one bound, every value numeric (bool excluded), and a
        non-empty interval (lower bound above upper is a caller mistake,
        not an empty result)."""
        raw = {"gt": gt, "gte": gte, "lt": lt, "lte": lte}
        out: dict[str, float] = {}
        for k in cls._RANGE_BOUND_KEYS:
            v = raw[k]
            if v is None:
                continue
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise EngineError("payload_range_invalid", detail=f"{k}={v!r}")
            out[k] = float(v)
        if not out:
            raise EngineError(
                "payload_range_invalid", detail="need at least one of gt/gte/lt/lte"
            )
        lo = max((out[k] for k in ("gt", "gte") if k in out), default=None)
        hi = min((out[k] for k in ("lt", "lte") if k in out), default=None)
        if lo is not None and hi is not None and lo > hi:
            raise EngineError(
                "payload_range_invalid", detail=f"lower bound {lo} > upper {hi}"
            )
        return out

    @staticmethod
    def _range_scan_cond(val: "F.Column", bounds: dict[str, float]) -> "F.Column":
        """The exact predicate a Range dict means, over a (try_cast double)
        value column — shared by the index post-filter and the scan
        fallback so the two paths can never disagree."""
        cond = val.isNotNull() & ~F.isnan(val)
        if "gt" in bounds:
            cond = cond & (val > bounds["gt"])
        if "gte" in bounds:
            cond = cond & (val >= bounds["gte"])
        if "lt" in bounds:
            cond = cond & (val < bounds["lt"])
        if "lte" in bounds:
            cond = cond & (val <= bounds["lte"])
        return cond

    @staticmethod
    def _metadata_entries_without(keys_arr: "F.Column") -> "F.Column":
        """Entries of the (NULL-coalesced) metadata map minus the given keys
        — the shared core of both payload mutations."""
        return F.filter(
            F.map_entries(F.coalesce(F.col("metadata"), F.expr("map()"))),
            lambda e: ~F.array_contains(keys_arr, e["key"]),
        )

    @_serialized_mutation
    def _patch_metadata(
        self, name: str, ids: Sequence[str], merged_col: "F.Column",
        only_where: "F.Column | None" = None,
    ) -> int:
        """Shared partition-pruned metadata rewrite for set/delete_payload:
        apply ``merged_col`` as the new metadata of the matching ids
        (further narrowed by ``only_where`` so no-op patches don't rewrite,
        changelog, or count), leave content/embedding untouched, keep the
        time-travel changelog consistent by logging the patched rows as an
        upsert batch.

        The patched rows are localCheckpoint-ed BEFORE the partition rewrite
        so the changelog append re-reads materialized rows, not the parquet
        files the rewrite just replaced."""
        scoped = self._require(name)
        ids = [str(i) for i in ids]
        if not ids:
            return 0
        self._seed_changelog_if_legacy(scoped)
        prefixes = sorted({i[:_PART_LEN] for i in ids})
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        touched = self._read_partitions(scoped, prefixes)
        matched = touched.join(F.broadcast(ids_df), "id", "left_semi")
        if only_where is not None:
            matched = matched.where(only_where)
        patched = (
            matched.withColumn("metadata", merged_col)
            .select(*DOCUMENT_SCHEMA.fieldNames())
            .localCheckpoint(eager=True)
        )
        n = patched.count()
        if n == 0:
            return 0
        if self._table_format is not None:
            from vector_mcp_spark.operators.transactional import merge_upsert

            merge_upsert(self.spark, self._table_format, self._table_path(scoped), patched)
        else:
            # anti-join on the PATCHED ids (not the requested ids): rows the
            # only_where filter skipped must survive the rewrite untouched
            kept = touched.join(F.broadcast(patched.select("id")), "id", "left_anti")
            self._rewrite_partitions(scoped, prefixes, kept.unionByName(patched))
        self._log_mutation_df(scoped, "upsert", patched)
        return n

    def set_payload(self, name: str, ids: Sequence[str], payload: Mapping[str, object]) -> int:
        """Merge ``payload`` into the metadata of the given ids without
        touching content or embedding (qdrant ``set_payload`` parity; the
        private-key filter and value sanitizer run exactly as on ingest).
        Returns the number of documents patched. Last-write-wins per key is
        explicit — existing entries under patched keys are filtered out
        before the concat, so the result never depends on
        spark.sql.mapKeyDedupPolicy. Values arrive as arbitrary JSON over
        MCP: non-strings are stored in their JSON lexical form ("5",
        "true") since metadata is a string map; None values are dropped
        (use delete_payload to remove a key)."""
        import json as _json

        coerced = {
            str(k): v if isinstance(v, str) else _json.dumps(v)
            for k, v in dict(payload).items()
            if v is not None
        }
        clean = sanitize_metadata_py(coerced) or {}
        if not clean:
            return 0
        keys_arr = F.array(*[F.lit(k) for k in sorted(clean)])
        patch = F.map_entries(
            F.create_map(*[F.lit(x) for k in sorted(clean) for x in (k, clean[k])])
        )
        merged = F.map_from_entries(
            F.concat(self._metadata_entries_without(keys_arr), patch)
        )
        return self._patch_metadata(name, ids, merged)

    def delete_payload(self, name: str, ids: Sequence[str], keys: Sequence[str]) -> int:
        """Remove the given metadata keys from the given ids (qdrant
        ``delete_payload`` parity). Returns the number of documents
        actually patched: documents carrying none of the keys (or a NULL
        map) are left byte-identical — no rewrite, no changelog batch, no
        NULL→{} coercion."""
        keys = [str(k) for k in keys]
        if not keys:
            return 0
        keys_arr = F.array(*[F.lit(k) for k in sorted(set(keys))])
        merged = F.map_from_entries(self._metadata_entries_without(keys_arr))
        has_any_key = F.col("metadata").isNotNull() & (
            F.size(F.map_filter(F.col("metadata"), lambda k, v: F.array_contains(keys_arr, k))) > 0
        )
        return self._patch_metadata(name, ids, merged, only_where=has_any_key)

    # -- time-travel changelog (Delta/Iceberg VERSION AS OF on parquet) ------
    #
    # Every mutation appends an (op, document, ts, seq) batch to an
    # append-only sidecar; read_asof reconstructs the table state at any
    # past instant with operators/cdc.py snapshot_asof (ts-prunable filter
    # + one groupBy(id).max_by). Driver-bounded batches (add/delete) append
    # via pyarrow — no Spark job joins the ingest path; arbitrary-size
    # upserts (update_documents) append distributed. Metadata rides as a
    # JSON string in the log (one schema for both writers) and rehydrates
    # to the document map on read.

    def _changelog_root(self, scoped: str) -> Path:
        return Path(self._table_path(scoped) + "_changelog")

    def _seed_changelog_if_legacy(self, scoped: str) -> None:
        """A table populated before the changelog existed would otherwise
        get a log covering only post-upgrade mutations — read_asof would
        silently reconstruct a PARTIAL snapshot (ADVICE r7, medium). On the
        first logged mutation of such a table, seed the log with a snapshot
        batch of the current (pre-mutation) rows so every later as-of read
        is complete. Fresh collections never hit this (their table dir and
        changelog are born together on the first ingest); the seed costs one
        extra table scan exactly once per legacy collection."""
        root = self._changelog_root(scoped)
        if self._changelog_has_batches(root):
            return
        table = Path(self._table_path(scoped))
        if not table.exists():
            return
        current = (
            self.spark.read.schema(DOCUMENT_SCHEMA)
            .parquet(str(table))
            .select(*DOCUMENT_SCHEMA.fieldNames())
        )
        self._log_mutation_df(scoped, "upsert", current)

    _CHANGELOG_DDL = (
        "op string, id string, content string, metadata_json string, "
        "embedding array<float>, ts timestamp, seq long"
    )

    @staticmethod
    def _is_batch_file(name: str) -> bool:
        """The single definition of 'a readable changelog batch file' —
        shared by the has-batches gate and compact_changelog's covered-set
        listing so the two can never diverge on what Spark's input format
        reads (dot-prefixed claims and _-prefixed markers are skipped)."""
        return name.endswith(".parquet") and not name.startswith((".", "_"))

    @classmethod
    def _changelog_has_batches(cls, root: Path) -> bool:
        """True when the log holds at least one data batch."""
        if not root.exists():
            return False
        return any(cls._is_batch_file(p.name) for p in root.iterdir())

    @staticmethod
    def _swap_lock_path(root: Path) -> Path:
        return root.with_name(root.name + ".swaplock")

    def _next_seq(self, root: Path) -> int:
        """Allocate the next changelog batch seq ATOMICALLY (ADVICE r7): an
        O_EXCL-created dot-claim file per seq, so two writers (threads or
        processes) can never stamp the same seq — a collision would break
        read_asof's (ts, seq) tiebreak determinism. Legacy logs without
        claims start from the batch-file count (each batch wrote ≥1 file, so
        count ≥ max_seq+1 — monotonicity preserved).

        Honors compact_changelog's swap lock (ADVICE r9): during the
        millisecond window where the compactor renames root→old and
        stage→root, this mkdir would RECREATE the log root and make the
        stage rename fail, stranding the whole log in the .old dir — so
        wait out a live FOREIGN lock before touching the directory. A
        same-pid lock is skipped: in-process writers are already excluded
        by the per-collection mutation lock the compactor holds, so the
        only same-pid arrivals here are test harnesses emulating foreign
        writers — blocking them would deadlock the very swap they race.
        A stale lock (holder provably dead / past TTL) is also skipped."""
        lock = self._swap_lock_path(root)
        while lock.exists() and not self._lock_is_stale(lock):
            try:
                if int(lock.read_text().split()[0]) == os.getpid():
                    break
            except (OSError, ValueError, IndexError):
                pass  # unreadable holder — treat as foreign, keep waiting
            time.sleep(0.005)
        root.mkdir(parents=True, exist_ok=True)
        claims = [
            int(p.name[5:13])
            for p in root.iterdir()
            if p.name.startswith(".seq-") and p.name.endswith(".claim")
        ]
        n = (
            max(claims) + 1
            if claims
            else sum(1 for p in root.iterdir() if p.name.endswith(".parquet"))
        )
        while True:
            try:
                fd = os.open(root / f".seq-{n:08d}.claim", os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
            except FileExistsError:  # another writer claimed n concurrently
                n += 1
                continue
            # prune dead claims BELOW ours (ours stays, so any concurrent
            # lister still sees max ≥ n and can never reuse an old seq) —
            # without this, one claim file per mutation accumulates forever
            # and every mutation re-lists all of them
            for c in sorted(claims):
                if c < n:
                    (root / f".seq-{c:08d}.claim").unlink(missing_ok=True)
            return n

    def _log_mutation_rows(self, scoped: str, op: str, rows: list[tuple]) -> None:
        """Driver-side append: rows = [(id, content, metadata|None, emb|None)]."""
        import json
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        root = self._changelog_root(scoped)
        seq = self._next_seq(root)
        now = datetime.now(timezone.utc)
        tbl = pa.Table.from_pylist(
            [
                {
                    "op": op,
                    "id": i,
                    "content": c,
                    # same shape as the distributed writer's
                    # to_json(map_entries(metadata)): an entries array
                    "metadata_json": json.dumps(
                        [{"key": k, "value": v} for k, v in sorted(m.items())]
                    ) if m is not None else None,
                    "embedding": e,
                    "ts": now,
                    "seq": seq,
                }
                for i, c, m, e in rows
            ],
            schema=pa.schema(
                [
                    ("op", pa.string()),
                    ("id", pa.string()),
                    ("content", pa.string()),
                    ("metadata_json", pa.string()),
                    ("embedding", pa.list_(pa.float32())),
                    ("ts", pa.timestamp("us", tz="UTC")),
                    ("seq", pa.int64()),
                ]
            ),
        )
        pq.write_table(tbl, root / f"batch-{seq:08d}-{uuid.uuid4().hex[:8]}.parquet")

    def _log_mutation_df(self, scoped: str, op: str, df: DataFrame) -> None:
        """Distributed append for arbitrary-size Document-schema batches.

        Coalesced to ≤8 writers: upsert batches are usually tiny and the
        default parallelism would scatter each append into 32 near-empty
        files (slow to write, slower for read_asof to open later); 8 keeps
        genuinely large bulk upserts parallel without the file spray."""
        root = self._changelog_root(scoped)
        seq = self._next_seq(root)
        (
            df.coalesce(8)
            .select(
                F.lit(op).alias("op"),
                "id",
                "content",
                F.to_json(F.map_entries("metadata")).alias("metadata_json"),
                F.col("embedding").cast("array<float>").alias("embedding"),
                F.lit(datetime.now(timezone.utc)).alias("ts"),
                F.lit(seq).cast("long").alias("seq"),
            )
            .write.mode("append")
            .parquet(str(root))
        )

    def read_asof(self, name: str, asof: datetime) -> DataFrame:
        """The collection's document table as it stood at ``asof``.

        Raises ``time_travel_unavailable`` when the collection predates its
        changelog (a non-empty table with no log can't be reconstructed)."""
        scoped = self._require(name)
        asof = self._as_utc(asof)
        root = self._changelog_root(scoped)
        if not self._changelog_has_batches(root):
            if Path(self._table_path(scoped)).exists():
                raise EngineError("time_travel_unavailable")
            return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
        epoch = self._changelog_epoch(root)
        if epoch is not None and asof < epoch:
            # history below the compaction epoch was collapsed into one
            # snapshot batch — reconstructing an earlier instant would
            # silently return the epoch state, so fail loudly instead
            raise EngineError(
                "time_travel_unavailable", detail=f"compacted before {epoch.isoformat()}"
            )
        from vector_mcp_spark.operators.cdc import snapshot_asof

        log = self.spark.read.schema(self._CHANGELOG_DDL).parquet(str(root))
        snap = snapshot_asof(
            log,
            asof=asof,
            key_col="id",
            ts_col="ts",
            op_col="op",
            tiebreak_col="seq",
            payload_cols=["content", "metadata_json", "embedding", "op"],
        )
        meta_type = "array<struct<key:string,value:string>>"
        return snap.select(
            "id",
            "content",
            F.map_from_entries(F.from_json("metadata_json", meta_type)).alias("metadata"),
            "embedding",
        )

    def collection_history(self, name: str) -> DataFrame:
        """One row per changelog batch: (seq, op, n_rows, ts) — the audit
        trail a Delta DESCRIBE HISTORY would give."""
        scoped = self._require(name)
        root = self._changelog_root(scoped)
        if not self._changelog_has_batches(root):
            return self.spark.createDataFrame([], "seq long, op string, n_rows long, ts timestamp")
        log = self.spark.read.schema(self._CHANGELOG_DDL).parquet(str(root))
        return (
            log.groupBy("seq", "op")
            .agg(F.count("*").alias("n_rows"), F.max("ts").alias("ts"))
            .select("seq", "op", "n_rows", "ts")
            .orderBy("seq")
        )

    @staticmethod
    def _as_utc(dt: datetime) -> datetime:
        """Normalize naive datetimes to UTC-aware: the engine runs UTC
        sessions, and mixing naive/aware values in `<` raises TypeError —
        a raw INTERNAL_ERROR on the wire instead of a stable code."""
        return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt

    @classmethod
    def _changelog_epoch(cls, root: Path) -> datetime | None:
        """The compaction epoch: no as-of read below it is reconstructable.
        A corrupt sidecar fails CLOSED (stable error) — returning None here
        would silently answer pre-epoch queries with the epoch state, the
        exact wrong answer the sidecar exists to prevent."""
        import json

        marker = root / "_epoch.json"
        if not marker.exists():
            return None
        try:
            raw = json.loads(marker.read_text())["epoch_ts"]
            return cls._as_utc(datetime.fromisoformat(raw))
        except (OSError, ValueError, KeyError, TypeError):
            raise EngineError("changelog_epoch_corrupt", detail=str(marker)) from None

    @_serialized_mutation
    def compact_changelog(self, name: str, before: datetime) -> int:
        """Collapse every changelog batch older than ``before`` into one
        snapshot epoch batch (Delta/Iceberg log-retention semantics: VACUUM
        + checkpoint). Returns the number of batches collapsed.

        After months of mutations the per-collection log is unbounded and
        ``read_asof`` replays all of it; compaction bounds the file count
        while keeping every asof ≥ ``before`` BIT-IDENTICAL: the epoch
        batch is the reconstructed state at the cut (op=upsert rows carrying
        the max collapsed (ts, seq), so the kept batches' (ts, seq) order —
        strictly greater — is preserved), and asof < ``before`` raises
        ``time_travel_unavailable`` via the ``_epoch.json`` sidecar instead
        of silently answering with the epoch state. Runs under the
        collection mutation lock; the swap is two directory renames."""
        import json

        scoped = self._require(name)
        before = self._as_utc(before)
        if before > datetime.now(timezone.utc):
            # a future cut would collapse EVERY row into the epoch and stamp
            # the sidecar with the future instant, so every read_asof —
            # including asof=now — refuses until wall clock passes the cut:
            # one bad MCP before_ts would disable time travel (ADVICE r9)
            raise EngineError("compaction_cut_in_future", detail=before.isoformat())
        root = self._changelog_root(scoped)
        if not self._changelog_has_batches(root):
            return 0
        prev_epoch = self._changelog_epoch(root)
        if prev_epoch is not None and before <= prev_epoch:
            # the epoch may never move backward: history below prev_epoch is
            # already gone, and rewriting the sidecar earlier would claim
            # reconstructability this log no longer has
            return 0
        # list once, read exactly that list: 'covered by the rewrite' and
        # 'read by Spark' must be the SAME set, or a batch landing between
        # the listing and the scan would be both compacted AND carried over
        # (duplicated) by the swap logic below
        seen = {p.name for p in root.iterdir()}
        batch_files = [
            str(root / n) for n in sorted(seen) if self._is_batch_file(n)
        ]
        log = self.spark.read.schema(self._CHANGELOG_DDL).parquet(*batch_files)
        cut = F.lit(before)
        stats = log.where(F.col("ts") < cut).agg(
            F.countDistinct("seq").alias("n"),
            F.max("ts").alias("max_ts"),
            F.max("seq").alias("max_seq"),
        ).first()
        if not stats.n:
            return 0
        from vector_mcp_spark.operators.cdc import snapshot_asof

        epoch_rows = snapshot_asof(
            log.where(F.col("ts") < cut),
            asof=before,
            key_col="id",
            ts_col="ts",
            op_col="op",
            tiebreak_col="seq",
            payload_cols=["content", "metadata_json", "embedding", "op"],
        ).select(
            F.lit("upsert").alias("op"),
            "id",
            "content",
            "metadata_json",
            F.col("embedding").cast("array<float>").alias("embedding"),
            F.lit(stats.max_ts).alias("ts"),
            F.lit(stats.max_seq).cast("long").alias("seq"),
        )
        kept = log.where(F.col("ts") >= cut)
        stage = root.with_name(root.name + f".compact-{uuid.uuid4().hex[:8]}")
        epoch_rows.union(kept).coalesce(8).write.mode("overwrite").parquet(str(stage))
        # carry the seq high-water mark: claims live in the log dir, and
        # dropping them would let _next_seq re-issue an old seq
        claims = [
            int(p.name[5:13])
            for p in root.iterdir()
            if p.name.startswith(".seq-") and p.name.endswith(".claim")
        ]
        high = max([*claims, int(stats.max_seq)])
        (stage / f".seq-{high:08d}.claim").touch()
        (stage / "_epoch.json").write_text(
            json.dumps({"epoch_ts": before.isoformat()}, sort_keys=True)
        )
        old = root.with_name(root.name + f".old-{uuid.uuid4().hex[:8]}")
        # Serialize the swap against cross-process writers (ADVICE r9):
        # _next_seq's mkdir can recreate the root between the two renames,
        # making stage.rename(root) fail and stranding the log in .old-*.
        # Writers honor this lock before touching the directory; the lock
        # covers only the renames + carry-over (milliseconds), never the
        # Spark rewrite above.
        swap_lock = self._swap_lock_path(root)
        fd = self._acquire_file_lock(swap_lock)
        try:
            root.rename(old)
            try:
                stage.rename(root)
            except OSError:
                # a non-honoring writer (legacy binary, crashed-lock skip)
                # recreated the root mid-swap — merge the rewrite into it
                # rather than stranding the log; the writer's fresh files
                # are not in `stage` so they survive untouched
                root.mkdir(parents=True, exist_ok=True)
                for p in stage.iterdir():
                    target = root / p.name
                    if not target.exists():
                        p.rename(target)
                shutil.rmtree(stage, ignore_errors=True)
            # a cross-process writer (supported via O_EXCL seq claims) may
            # have appended a batch between our log read and the rename; its
            # files sit in `old` and are NOT in the rewritten log — carry
            # every file this rewrite did not cover into the new root before
            # deleting, so no concurrent mutation is ever silently dropped.
            # Loop until a pass moves nothing: a writer mid-write when the
            # swap started can still materialize a file in `old` through an
            # already-open handle after the first pass.
            while True:
                moved = 0
                for p in old.iterdir():
                    if p.name in seen:
                        continue
                    if p.name.endswith(".parquet") or p.name.endswith(".claim"):
                        p.rename(root / p.name)
                        moved += 1
                if not moved:
                    break
            shutil.rmtree(old)
        finally:
            os.close(fd)
            swap_lock.unlink(missing_ok=True)
        return int(stats.n)

    # -- snapshots (qdrant create_snapshot / recover_snapshot parity) --------
    #
    # A snapshot is a self-contained portable directory: manifest (catalog
    # row) + the table's parquet partitions + the time-travel changelog.
    # Restore registers it as a (new) collection. The driver-side copy is
    # right for this engine's parquet-dir layout; on a real lake the same
    # manifest+dirs contract is executed by the storage layer (s3 server-
    # side copy / distcp) — the engine's unit of work is per-partition-dir
    # either way, never per row.

    def _snapshots_root(self) -> Path:
        return self.root / "_snapshots"

    def _mutation_fingerprint(self, scoped: str) -> tuple:
        """Cheap change detector over the table + changelog trees (relative
        path, size, mtime_ns per entry). Two equal fingerprints bracketing a
        copy prove no cross-process writer rewrote either tree mid-copy —
        the stage-dir/claim protocol means every mutation creates, renames,
        or prunes at least one file under these roots."""
        out = []
        for base in (Path(self._table_path(scoped)), self._changelog_root(scoped)):
            if not base.exists():
                out.append(None)
                continue
            entries = []
            for p in sorted(base.rglob("*")):
                try:
                    st = p.stat()
                except OSError:  # vanished mid-walk — itself a change marker
                    entries.append((str(p.relative_to(base)), -1, -1))
                    continue
                entries.append((str(p.relative_to(base)), st.st_size, st.st_mtime_ns))
            out.append(tuple(entries))
        return tuple(out)

    def create_snapshot(self, name: str) -> str:
        """Freeze the collection's current state into a portable snapshot
        dir; returns its path. Runs under the collection's mutation lock so
        a concurrent upsert can't tear the copy."""
        import json

        scoped = self._require(name)
        with self._mutation_lock(scoped):
            snap_id = f"{_physical_name(scoped)}-{uuid.uuid4().hex[:12]}"
            dest = self._snapshots_root() / snap_id
            dest.mkdir(parents=True, exist_ok=False)
            manifest = {
                "scoped_name": scoped,
                "dimension": self._locked_dimension(scoped),
                "needs_embed": any(
                    r[0] == scoped and bool(r[4]) for r in self._catalog_rows()
                ),
                "distance": self._locked_distance(scoped),
            }
            table = Path(self._table_path(scoped))
            log = self._changelog_root(scoped)
            named = self._named_root(scoped)
            # the in-process mutation lock excludes this process's writers;
            # a mutator in ANOTHER process (cross-process writes are
            # supported via O_EXCL seq claims + stage dirs) can still
            # rewrite partition dirs mid-copy. Fingerprint before/after and
            # retry on any change or on a file vanishing mid-walk — and
            # write the manifest only AFTER a quiet copy, so a torn or
            # crashed attempt is never listable/restorable (list_snapshots
            # and restore require manifest.json). copytree aggregates
            # per-file failures into shutil.Error, so catch that too.
            try:
                for _ in range(5):
                    before = self._mutation_fingerprint(scoped)
                    try:
                        for sub in ("table", "changelog", "named"):
                            shutil.rmtree(dest / sub, ignore_errors=True)
                        if table.exists():
                            shutil.copytree(table, dest / "table")
                        if log.exists():
                            shutil.copytree(log, dest / "changelog")
                        if named.exists():
                            # named-vector config + per-name sidecars are
                            # PRIMARY data (user-supplied, not derivable) —
                            # a snapshot without them restores a crippled
                            # collection
                            shutil.copytree(named, dest / "named")
                    except FileNotFoundError:
                        continue  # source file vanished mid-copy — recopy
                    except shutil.Error as e:
                        # copytree aggregates per-file failures; only
                        # vanished-source entries are the transient churn
                        # this loop retries — a PermissionError-class entry
                        # will fail all 5 attempts identically, so surface
                        # it as its own code instead of a misleading
                        # conflict. Classify per entry: the errno prefix
                        # ("[Errno 2]" / "[WinError 2/3]" — locale-
                        # independent, unlike the strerror text) OR,
                        # because copytree stringifies the underlying
                        # exception (an OSError built without an errno, or
                        # a wrapped one, has no prefix — ADVICE r9), a
                        # re-stat of the failing source path: a source that
                        # no longer exists IS the vanished-file churn the
                        # retry exists for. EVERY entry must be transient
                        # for the attempt to retry.
                        transient = ("[Errno 2]", "[WinError 2]", "[WinError 3]")

                        def _is_transient(entry) -> bool:
                            reason = str(entry[2])
                            if any(m in reason for m in transient):
                                return True
                            if "[Errno" in reason or "[WinError" in reason:
                                return False  # parseable, and not errno-2
                            # no errno prefix to classify on — re-stat the
                            # failing source: gone means vanished-file churn
                            try:
                                os.stat(str(entry[0]))
                            except OSError:
                                return True
                            return False

                        entries = list(e.args[0] or [])
                        persistent = [
                            str(t[2]) for t in entries if not _is_transient(t)
                        ]
                        if persistent:
                            raise EngineError(
                                "snapshot_copy_failed",
                                detail=" | ".join(persistent)[:200],
                            ) from None
                        continue
                    if self._mutation_fingerprint(scoped) == before:
                        break
                else:
                    raise EngineError("snapshot_conflict", detail=name)
            except BaseException:
                shutil.rmtree(dest, ignore_errors=True)
                raise
            (dest / "manifest.json").write_text(json.dumps(manifest, sort_keys=True))
        return str(dest)

    def restore_snapshot(self, snapshot_path: str, new_name: str) -> str:
        """Register a snapshot as collection ``new_name`` (which must not
        exist — restores never clobber silently). Returns the scoped name."""
        import json

        src = Path(snapshot_path)
        try:
            manifest = json.loads((src / "manifest.json").read_text())
        except (OSError, ValueError):
            raise EngineError("snapshot_invalid", detail=snapshot_path) from None
        # a tenant-scoped engine may only restore snapshots taken inside its
        # own scope (ADVICE r8) — otherwise restore is a cross-tenant read
        if not self._snapshot_in_scope(src):
            raise EngineError("snapshot_not_found", detail=src.name)
        scoped = self._scoped(new_name)
        if any(a == scoped for a, _ in self._alias_rows()):
            raise EngineError("collection_conflicts_with_alias", detail=new_name)
        with self._mutation_lock(scoped):
            # existence check INSIDE the lock (two concurrent restores of
            # the same name must not both pass it)
            if self.collection_exists(new_name):
                raise EngineError("collection_exists")
            table = Path(self._table_path(scoped))
            log = self._changelog_root(scoped)
            named = self._named_root(scoped)
            # a crashed earlier restore (copied dirs, no catalog row) left
            # orphans under a name the catalog says is free — clear them so
            # the retry succeeds instead of FileExistsError forever
            for orphan in (table, log, named):
                if orphan.exists():
                    shutil.rmtree(orphan)
            try:
                if (src / "table").exists():
                    shutil.copytree(src / "table", table)
                if (src / "changelog").exists():
                    shutil.copytree(src / "changelog", log)
                if (src / "named").exists():
                    shutil.copytree(src / "named", named)
                with self._mutation_lock("__catalog__"):  # serialized RMW
                    # alias conflict re-checked inside the lock, same as
                    # create_collection (the pre-lock check above is only a
                    # fast path) — raising here routes through the cleanup
                    # below, so no half-restored dirs are left behind
                    if any(a == scoped for a, _ in self._alias_rows()):
                        raise EngineError(
                            "collection_conflicts_with_alias", detail=new_name
                        )
                    self._write_catalog(
                        [
                            *self._catalog_rows(),
                            (
                                scoped,
                                _physical_name(scoped),
                                manifest.get("dimension"),
                                datetime.now(timezone.utc),
                                bool(manifest.get("needs_embed", True)),
                                manifest.get("distance") or "cosine",
                            ),
                        ]
                    )
            except BaseException:
                # failed restore leaves no half-registered state behind
                shutil.rmtree(table, ignore_errors=True)
                shutil.rmtree(log, ignore_errors=True)
                shutil.rmtree(named, ignore_errors=True)
                raise
        return scoped

    def restore_snapshot_id(self, snapshot_id: str, new_name: str) -> str:
        """Restore by id from this engine's own snapshot root — the
        path-confinement twin of delete_snapshot (the id contract callers
        like the MCP veneer use; arbitrary paths go through
        restore_snapshot directly)."""
        if "/" in snapshot_id or snapshot_id.startswith("."):
            raise EngineError("snapshot_invalid", detail=snapshot_id)
        return self.restore_snapshot(str(self._snapshots_root() / snapshot_id), new_name)

    def _snapshot_in_scope(self, snap_dir: Path) -> bool:
        """Tenant confinement for the shared snapshot root (ADVICE r8):
        a tenant-scoped engine sees only snapshots whose manifest
        scoped_name carries its tenant prefix — the same rule
        get_collections (vector_api.py:455-476) and list_aliases apply.
        An untenanted engine is the admin view and sees everything."""
        if not self.tenant:
            return True
        import json

        try:
            manifest = json.loads((snap_dir / "manifest.json").read_text())
        except (OSError, ValueError):
            return False
        scoped = manifest.get("scoped_name", "")
        return isinstance(scoped, str) and scoped.startswith(_tenant_prefix(self.tenant))

    def list_snapshots(self) -> list[str]:
        root = self._snapshots_root()
        if not root.exists():
            return []
        return sorted(
            p.name
            for p in root.iterdir()
            if (p / "manifest.json").exists() and self._snapshot_in_scope(p)
        )

    def delete_snapshot(self, snapshot_id: str) -> None:
        # id, not path: confine deletion to the engine's own snapshot root
        if "/" in snapshot_id or snapshot_id.startswith("."):
            raise EngineError("snapshot_invalid", detail=snapshot_id)
        dest = self._snapshots_root() / snapshot_id
        # out-of-scope reads as absent — a tenant can't probe (or delete)
        # another tenant's snapshots
        if not (dest / "manifest.json").exists() or not self._snapshot_in_scope(dest):
            raise EngineError("snapshot_not_found", detail=snapshot_id)
        shutil.rmtree(dest)

    # -- file ingestion (reference document_paths / configured-root inputs) --
    #
    # The reference's vector_collection_management accepts relative
    # ``document_paths`` beneath an administrator-configured document root
    # plus ``include_configured_directory`` to ingest the whole root
    # (mcp_server.py:94-101, vector_api.py:319-366). The Spark path stays
    # DISTRIBUTED end-to-end: binaryFile scan → Arrow-batched format decode
    # → Column-twin sanitize → content-hash ids → the same partition-pruned
    # upsert every other mutation uses. No file byte ever rides through the
    # driver, so the batch is bounded by cluster capacity, not driver RAM.

    DOCUMENT_ROOT_ENV = "VECTOR_MCP_SPARK_DOCUMENT_ROOT"

    def ingest_paths(
        self,
        name: str,
        rel_paths: Sequence[str] | None = None,
        include_configured_directory: bool = False,
        document_root: str | None = None,
    ) -> int:
        """Ingest files into the collection; returns documents upserted.

        ``rel_paths`` are confined beneath the document root (no absolute
        paths, URLs, traversal, or symlinks — sources/readers.py S6 rules);
        ``include_configured_directory`` ingests the whole root. The root
        comes from the argument or $VECTOR_MCP_SPARK_DOCUMENT_ROOT."""
        from vector_mcp_spark.sanitize import sanitize_text_col
        from vector_mcp_spark.sources.readers import (
            RICH_EXTENSIONS,
            TEXT_EXTENSIONS,
            enumerate_document_root,
            read_documents,
            resolve_document_paths,
        )

        root = document_root or os.environ.get(self.DOCUMENT_ROOT_ENV)
        if not root or not Path(root).is_dir():
            raise EngineError("document_root_unconfigured")
        if not rel_paths and not include_configured_directory:
            raise EngineError("document_input_required")
        scoped = self._require(name)
        # every target handed to the scan is an individually-checked leaf
        # file (symlink walk, size caps) — the binaryFile reader never
        # recurses into an unchecked subtree (ADVICE r8; document_inputs.py
        # whole-root rules for include_configured_directory)
        targets = resolve_document_paths(root, rel_paths) if rel_paths else []
        if include_configured_directory:
            targets = sorted({*targets, *enumerate_document_root(root)})
        if not targets:
            return 0
        # in the steady state the union adds nothing past the per-channel
        # caps (rel_paths ⊆ the enumerated root); the re-checks below only
        # matter when the root churns BETWEEN the two walks (TOCTOU) — keep
        # BOTH documented bounds airtight on the final list. A file
        # vanishing before its stat counts zero bytes (it won't be read).
        from vector_mcp_spark.sources.readers import MAX_DOCUMENT_FILES, MAX_TOTAL_BYTES

        if len(targets) > MAX_DOCUMENT_FILES:
            raise EngineError("document_paths_too_many")

        def _size(t: str) -> int:
            try:
                return Path(t).stat().st_size
            except OSError:
                return 0

        if sum(_size(t) for t in targets) > MAX_TOTAL_BYTES:
            raise EngineError("document_paths_too_large")
        docs = read_documents(self.spark, targets)
        known = TEXT_EXTENSIONS | RICH_EXTENSIONS
        ext = F.lower(F.regexp_extract(F.col("path"), r"(\.[A-Za-z0-9]+)$", 1))
        clean = (
            docs.where(ext.isin(*known))
            .select(sanitize_text_col(F.col("content")).alias("content"))
            .where(F.length(F.trim(F.col("content"))) > 0)
            .select(
                F.sha2(F.col("content"), 256).alias("id"),
                "content",
                F.lit(None).cast("map<string,string>").alias("metadata"),
                F.lit(None).cast("array<float>").alias("embedding"),
            )
            .dropDuplicates(["id"])
        )
        n = clean.count()
        if n:
            self.update_documents(name, clean)
        # scoped is resolved above purely for the not-found error; the
        # upsert re-resolves under its own lock
        del scoped
        return n

    def describe_collection(self, name: str) -> dict:
        """qdrant ``GET /collections/{name}`` info shape: config (locked
        dimension, embed flag), points_count, the aliases routing here, and
        the persistent-index status. Resolves aliases, so describing "prod"
        reports the live target. One bounded Spark job (the count); the
        rest is driver-side catalog metadata."""
        scoped = self._require(name)
        return {
            "collection_name": name,
            "dimension": self._locked_dimension(scoped),
            "distance": self._locked_distance(scoped),
            "needs_embed": self.needs_embed(name),
            "points_count": self.count_documents(name),
            "aliases": [a for a, _ in self.list_aliases(name)],
            "index_status": self.index_status(name),
        }
