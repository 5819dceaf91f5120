"""Transactional parquet tables: an optimistic-concurrency commit log
with snapshot reads, time travel, stats-pruned MERGE/DELETE,
checkpoints, compaction, and vacuum.

The reference's incrementality model is a daily full re-materialization
cron (`/root/reference/data_pipelines/jobs.py:24-29`); at 100 TB the
scalable shape is a transactional MERGE that rewrites only the files an
update batch touches. `sources/materialize.py` gives the plain-parquet
dataflow (with documented non-transactional caveats) and gates
`format='delta'` behind an import; this module is the live
transactional seam — the same capability class as the public Delta
Lake / Apache Iceberg protocols (versioned commit log, optimistic
concurrency, snapshot isolation, data skipping from per-file column
stats), implemented natively so it is exercised and tested in this
environment rather than stubbed.

Layout under the table root::

    <path>/_txlog/00000000000000000000.json      one JSON-lines commit
    <path>/_txlog/00000000000000000010.checkpoint.json
    <path>/_txlog_ckpt/<version>-<hex>.parquet   big-table checkpoint
                                                 sidecar (file list as
                                                 parquet; the JSON
                                                 checkpoint references
                                                 it by relative path)
    <path>/data/<commit-uuid>/part-*.parquet     immutable data files

A commit file holds one action per line: ``{"meta": ...}`` (schema,
key/stat columns), ``{"add": {"path", "rows", "bytes", "stats"}}``,
``{"remove": {"path"}}``. File paths are table-root-relative, so a
table directory is relocatable as a unit.

Why this scales (the 100 TB story):

- **Snapshot isolation for free**: readers resolve a version's file
  list from the log and read exactly those immutable files — a reader
  racing a writer sees the old snapshot, never a half-rewritten
  directory (the exact caveat `materialize.py` documents for raw
  parquet).
- **Log replay is bounded**: every ``CHECKPOINT_EVERY`` commits a full
  file-list checkpoint is written; readers start from the newest
  checkpoint at-or-before their target version and replay only the
  tail. A table with a million commits costs one checkpoint read plus
  <= CHECKPOINT_EVERY small JSON files, not a million.
- **MERGE touches only matching files**: each add records min/max/null
  stats per key/cluster column (harvested from the parquet footers the
  write already produced). A merge computes the update batch's key
  bounds (one tiny agg) and rewrites only files whose stats overlap —
  on a key-clustered table an update batch touching 1% of the key
  space reads and rewrites ~1% of the files. The same stats serve
  ``read_table(bounds=...)`` as a file-level zonemap (data skipping on
  non-partition columns — what Hive-style dir partitioning cannot do).
- **Writer concurrency is safe, not serialized by luck**: a commit is
  an atomic create-exclusive of the next version file (``os.link`` of
  a fully-written temp — atomic on POSIX/HDFS-semantics filesystems).
  Blind appends retry the version bump; read-modify-write ops (merge,
  delete, compact, overwrite) re-run from a fresh snapshot when any
  commit landed since theirs — coarse-grained OCC, the conservative
  end of Delta's conflict matrix, chosen because it is simple to
  verify and never wrong.

Honest limits, stated loudly: the default :class:`FileLogStore`
requires atomic create-exclusive semantics, i.e. a local/POSIX or
HDFS-like filesystem (`file:` paths accepted); non-local schemes raise
rather than corrupting silently. Object stores without conditional PUT
need a commit coordinator — the :class:`LogStore` seam is that
interface (the public Delta LogStore pattern): implement
``put_if_absent`` over your coordinator, ``register_log_store`` it,
and every protocol path (commits, checkpoints, replay, OCC) routes
through it untouched — :class:`InMemoryLogStore` is the contract's
executable spec and the whole test surface runs against it. Vacuum
trades old-version time travel for space — reading a vacuumed version
fails loudly on the missing file, never silently returns partial data.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from data_pipelines_spark.session import persisted

CHECKPOINT_EVERY = 10
_LOG_DIR = "_txlog"
_DATA_DIR = "data"
# Checkpoints for tables with at least this many live files move the
# file list OUT of the JSON payload into a parquet sidecar under
# _txlog_ckpt/ (referenced from the JSON by relative path). Measured
# motivation (examples/scale_probe_r13_metadata.py): an all-JSON
# checkpoint costs ~187 MB / 7.6 s to parse at 1M files — the parquet
# sidecar holds the same rows columnar, loads in well under a second,
# and keeps per-file stats as raw JSON strings decoded only when a
# pruning pass actually reads them.
_CKPT_PARQUET_MIN = 20_000
_CKPT_DIR = "_txlog_ckpt"
# A data DIRECTORY whose on-disk parquet listing exactly matches the
# snapshot's live entries collapses to one path in the scan plan (see
# _entry_scan_paths) — but only when nothing touched the directory for
# this many seconds, so a still-running write job's straggler task
# files can never slip into a directory-granular read.
_DIR_GROUP_MIN_AGE = 300.0


class ConcurrentWriteError(RuntimeError):
    """A read-modify-write transaction kept losing the commit race."""


class _Conflict(Exception):
    """Internal: another commit landed since this txn's snapshot."""


# ---------------------------------------------------------------------------
# LogStore: the commit-coordination seam
#
# Everything the commit protocol needs from storage is four operations
# on the table's log directory; the ATOMICITY of the whole format
# reduces to `put_if_absent`. The default FileLogStore implements it
# with create-exclusive hard links (local/POSIX/HDFS semantics); an
# object-store deployment plugs a coordinator here (conditional PUT /
# DynamoDB-style mutex — the public Delta LogStore pattern) WITHOUT
# touching any protocol code, because every log read/write below goes
# through the registered store. `InMemoryLogStore` is the contract's
# executable spec (and proves the seam: the whole test surface,
# including the Hypothesis state machine and real-thread races, runs
# against it).


class LogStore:
    """Commit-coordination interface for one table's ``_txlog`` dir.

    Contract:

    - :meth:`put_if_absent` is the ONLY atomicity primitive the format
      needs: publish ``payload`` under ``name`` iff ``name`` does not
      exist, else raise ``FileExistsError`` — and never expose a torn
      payload to a concurrent reader. Everything else (snapshot
      isolation, OCC, idempotent txns) is derived from it.
    - :meth:`put_replace` is last-write-wins, used ONLY for
      checkpoints, whose content for a given version is deterministic.
    - :meth:`list_names` / :meth:`read_lines` are plain reads; a name
      returned by ``list_names`` must be fully readable (no torn
      reads — implied by the put contract).
    - ``persistent_log``: True (default) when the store's log outlives
      this process — such tables record the store-requirement marker
      (see ``_enforce_store_requirement``). An EPHEMERAL store (the
      in-memory spec) sets False: its table dies with the process, so
      a lingering marker would only block a future unrelated table at
      the same path (and the default store already fails loudly on the
      invisible log)."""

    persistent_log = True

    def list_names(self, log_dir: str) -> list[str]:
        raise NotImplementedError

    def read_lines(self, log_dir: str, name: str):
        """Iterator over the entry's text lines. Raises
        FileNotFoundError for a missing name."""
        raise NotImplementedError

    def put_if_absent(self, log_dir: str, name: str, payload: str) -> None:
        raise NotImplementedError

    def put_replace(self, log_dir: str, name: str, payload: str) -> None:
        raise NotImplementedError


class FileLogStore(LogStore):
    """Default store: the filesystem itself coordinates commits via
    create-exclusive hard links — atomic on local/POSIX and
    HDFS-semantics filesystems (NOT on bare object stores; see
    :func:`_local`)."""

    def list_names(self, log_dir: str) -> list[str]:
        if not os.path.isdir(log_dir):
            return []
        return os.listdir(log_dir)

    def read_lines(self, log_dir: str, name: str):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            yield from fh

    @staticmethod
    def _stage_tmp(log_dir: str, payload: str) -> str:
        """ONE durability bar for commits and checkpoints: payload
        fully written + fsynced to a temp file before any publish —
        without the fsync a crash can expose the published name with
        truncated content (metadata journaled before data)."""
        os.makedirs(log_dir, exist_ok=True)
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        return tmp

    def put_if_absent(self, log_dir: str, name: str, payload: str) -> None:
        tmp = self._stage_tmp(log_dir, payload)
        try:
            # link is atomic and fails with EEXIST when another writer
            # won the race — a torn half-written entry can never
            # become visible
            os.link(tmp, os.path.join(log_dir, name))
        finally:
            os.unlink(tmp)

    def put_replace(self, log_dir: str, name: str, payload: str) -> None:
        tmp = self._stage_tmp(log_dir, payload)
        os.replace(tmp, os.path.join(log_dir, name))


class InMemoryLogStore(LogStore):
    """Thread-safe in-memory coordinator — the put-if-absent contract
    as an executable spec (what an object-store coordinator must
    provide). Data files stay wherever the table root points; only
    log-directory operations route here."""

    persistent_log = False  # dies with the process: no marker

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._entries: dict[tuple[str, str], str] = {}

    def list_names(self, log_dir: str) -> list[str]:
        with self._lock:
            return [n for d, n in self._entries if d == log_dir]

    def read_lines(self, log_dir: str, name: str):
        with self._lock:
            payload = self._entries.get((log_dir, name))
        if payload is None:
            raise FileNotFoundError(f"{name} not in memory log {log_dir}")
        yield from payload.splitlines(keepends=True)

    def put_if_absent(self, log_dir: str, name: str, payload: str) -> None:
        with self._lock:
            if (log_dir, name) in self._entries:
                raise FileExistsError(name)
            self._entries[(log_dir, name)] = payload

    def put_replace(self, log_dir: str, name: str, payload: str) -> None:
        with self._lock:
            self._entries[(log_dir, name)] = payload


class ObjectStoreApi:
    """The THREE object-store operations :class:`ConditionalPutLogStore`
    needs — each maps 1:1 onto a public object-store API. A deployment
    binds a real client by implementing these against its SDK:

    - ``put_object(key, body, if_none_match=True)`` → S3
      ``PutObject`` + ``If-None-Match: *`` (conditional writes,
      GA 2024), GCS ``ifGenerationMatch=0``, Azure Blob
      ``If-None-Match: *``. The store's server answers the
      compare-and-set: create iff absent, atomically, never torn.
    - ``get_object`` → plain GET.
    - ``list_keys`` → LIST by prefix.

    No rename, no lock service, no mutex table — the conditional PUT
    is the whole coordination story."""

    def put_object(self, key: str, body: str, *, if_none_match: bool = False) -> None:
        """Store ``body`` under ``key``. With ``if_none_match`` the put
        MUST be the store's atomic conditional create: raise
        :class:`FileExistsError` iff ``key`` already exists."""
        raise NotImplementedError

    def get_object(self, key: str) -> str:
        """Full object text; :class:`FileNotFoundError` if absent."""
        raise NotImplementedError

    def list_keys(self, prefix: str) -> list[str]:
        raise NotImplementedError


class LocalObjectStoreEmulator(ObjectStoreApi):
    """Directory-backed emulation of the conditional-put API for tests
    and local runs: a FLAT key→file namespace (keys are quoted into
    single filenames, as an object store's flat keyspace behaves), with
    ``O_CREAT|O_EXCL`` standing in for the server-side atomic
    conditional create. The point is the seam: every LogStore operation
    below reaches this class only through :class:`ObjectStoreApi`, so
    swapping a boto3/gcs client in touches zero protocol code."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _fname(self, key: str) -> str:
        from urllib.parse import quote

        return os.path.join(self.root, quote(key, safe=""))

    def put_object(self, key: str, body: str, *, if_none_match: bool = False) -> None:
        data = body.encode("utf-8")
        if if_none_match:
            # the emulator's stand-in for the store's atomic
            # create-if-absent; a real client sends the header and
            # maps HTTP 412 to FileExistsError
            fd = os.open(
                self._fname(key), os.O_WRONLY | os.O_CREAT | os.O_EXCL
            )
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            return
        tmp = self._fname(key) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._fname(key))

    def get_object(self, key: str) -> str:
        try:
            with open(self._fname(key), encoding="utf-8") as fh:
                return fh.read()
        except FileNotFoundError:
            raise FileNotFoundError(key) from None

    def list_keys(self, prefix: str) -> list[str]:
        from urllib.parse import quote, unquote

        q = quote(prefix, safe="")
        return [
            unquote(n)
            for n in os.listdir(self.root)
            if n.startswith(q) and ".tmp-" not in n
        ]


class ConditionalPutLogStore(LogStore):
    """LogStore over a conditional-put object store — the deployable
    pattern for S3 (conditional writes) / GCS (generation match) /
    Azure Blob (ETag match), where :class:`FileLogStore`'s
    create-exclusive ``os.link`` does not exist. The mapping is
    direct because the LogStore contract was DESIGNED to reduce to one
    compare-and-set:

    - :meth:`put_if_absent` → one conditional PUT of the commit object
      (compare-and-set on "the version object is absent"); the store's
      server arbitrates concurrent writers, and object PUTs are atomic
      (a GET sees the whole body or no object — no torn payloads).
    - :meth:`put_replace` → plain PUT (checkpoint content per version
      is deterministic, last-write-wins is safe).
    - :meth:`list_names` / :meth:`read_lines` → LIST / GET.

    Keys are ``<log_dir>/<name>`` verbatim, so a table's log occupies
    one key prefix. docs/TXLOG.md shows the boto3 binding. The full
    protocol suite (lifecycle, OCC races, Hypothesis state machine)
    runs against this class over :class:`LocalObjectStoreEmulator` —
    see tests/test_txlog_logstore.py."""

    def __init__(self, client: ObjectStoreApi):
        self.client = client

    @staticmethod
    def _key(log_dir: str, name: str = "") -> str:
        return log_dir.rstrip("/") + "/" + name

    def list_names(self, log_dir: str) -> list[str]:
        pre = self._key(log_dir)
        return [k[len(pre):] for k in self.client.list_keys(pre)]

    def read_lines(self, log_dir: str, name: str):
        yield from self.client.get_object(
            self._key(log_dir, name)
        ).splitlines(keepends=True)

    def put_if_absent(self, log_dir: str, name: str, payload: str) -> None:
        self.client.put_object(
            self._key(log_dir, name), payload, if_none_match=True
        )

    def put_replace(self, log_dir: str, name: str, payload: str) -> None:
        self.client.put_object(self._key(log_dir, name), payload)


_DEFAULT_STORE = FileLogStore()
_LOG_STORES: list[tuple[str, LogStore]] = []  # (path prefix, store)


def register_log_store(path_prefix: str, store: LogStore) -> None:
    """Route the LOG of every table at or under ``path_prefix`` through
    ``store`` (longest matching prefix wins; matching is path-segment
    aware, so ``/data/t`` never captures ``/data/t2``; data files are
    unaffected). Passing exactly the default :class:`FileLogStore`
    (subclasses register normally — a deployment may subclass it to
    override only ``put_if_absent``) removes a previous registration
    for the same prefix.

    SCOPE, stated loudly: the registry is PROCESS-LOCAL state in this
    Python process — it governs the ``txlog.*`` API surface (which
    runs where you call it). The ``format("txlog")`` datasource plans
    and executes in Spark-spawned Python worker processes where this
    registry is empty — and ENFORCED (round 13): the first commit
    through a custom coordinator records a store-requirement marker at
    the table root, and any process that later tries to commit through
    the default FileLogStore refuses with a RuntimeError instead of
    silently bypassing the coordinator's ``put_if_absent`` (so
    datasource writes to such tables fail loudly — keep them on the
    Python API, registered). Datasource READS are either correct (a
    file-backed coordinator's log is plainly readable — only writes
    need the coordination primitive) or fail loudly ("no txlog table",
    e.g. the in-memory store, whose log is invisible to other
    processes)."""
    # normalize BOTH sides through _local so a `file:` URI spelling of
    # a registered prefix routes to the same store as the bare path —
    # two spellings resolving to one log dir must never split between
    # coordinators (that would let both claim the same version)
    prefix_norm = _local(path_prefix)
    _LOG_STORES[:] = [
        (p, s) for p, s in _LOG_STORES if p != prefix_norm
    ]
    if type(store) is not FileLogStore:
        _LOG_STORES.append((prefix_norm, store))
        _LOG_STORES.sort(key=lambda ps: -len(ps[0]))


def _store_for(path: str) -> LogStore:
    norm = _local(path).rstrip(os.sep)
    for prefix, store in _LOG_STORES:
        base = prefix.rstrip(os.sep)
        if norm == base or norm.startswith(base + os.sep):
            return store
    return _DEFAULT_STORE


# ---------------------------------------------------------------------------
# paths + log primitives


def _local(path: str) -> str:
    """Resolve the table root to a local filesystem path.

    The commit protocol's atomicity primitive is create-exclusive
    (``os.link``); that contract holds on local/POSIX and HDFS-like
    filesystems but not on bare object stores — see the module
    docstring. ``file:`` URIs are accepted; other schemes raise."""
    if path.startswith("file:"):
        stripped = path[5:]
        while stripped.startswith("//"):
            stripped = stripped[1:]
        return stripped
    if "://" in path:
        raise NotImplementedError(
            f"txlog tables need atomic create-exclusive on the log dir; "
            f"scheme of {path!r} is an object store — deploy behind a "
            f"commit coordinator (the public Delta-on-S3 pattern) or on "
            f"an HDFS-semantics mount"
        )
    return path


def _log_dir(path: str) -> str:
    return os.path.join(_local(path), _LOG_DIR)


def _fmt_version(v: int) -> str:
    return f"{v:020d}"


def _list_versions(path: str) -> tuple[list[int], list[int]]:
    """(commit versions, checkpoint versions), each sorted ascending."""
    d = _log_dir(path)
    commits, checkpoints = [], []
    for name in _store_for(path).list_names(d):
        if name.endswith(".checkpoint.json"):
            checkpoints.append(int(name[: -len(".checkpoint.json")]))
        elif name.endswith(".json"):
            stem = name[: -len(".json")]
            if stem.isdigit():
                commits.append(int(stem))
    return sorted(commits), sorted(checkpoints)


def table_exists(path: str) -> bool:
    commits, checkpoints = _list_versions(path)
    return bool(commits or checkpoints)


def table_version(path: str) -> int:
    commits, checkpoints = _list_versions(path)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"no txlog table at {path}")
    return max(commits + checkpoints)


# Store-requirement marker (Delta protocol-version style): a table
# whose commits have EVER gone through a custom coordinator records
# that fact in a tiny sentinel at the TABLE ROOT (not in the log — the
# default store must be able to see the requirement precisely when it
# cannot see the coordinator's log). _write_commit_exclusive refuses a
# default-FileLogStore commit against a marked table, closing the
# silent-bypass hole: register_log_store is process-local, so a
# format("txlog") write planned in a Spark-spawned worker process (or
# any process that forgot the registration) would otherwise commit
# straight past the coordinator's put_if_absent — file-backed
# coordinators would not even fail loudly.
_STORE_MARKER = "_txlog_requires_store.json"


def _store_marker_name(path: str) -> str | None:
    try:
        with open(
            os.path.join(_local(path), _STORE_MARKER), encoding="utf-8"
        ) as fh:
            return json.load(fh).get("coordinator") or None
    except (OSError, ValueError):
        return None


def _enforce_store_requirement(path: str, store: LogStore) -> None:
    if type(store) is not FileLogStore:
        if not store.persistent_log:
            return  # ephemeral log: no durable table to protect
        # self-healing: the first commit through a custom coordinator
        # records the requirement, so tables created before the
        # registration (or created by older code) become protected too
        marker = os.path.join(_local(path), _STORE_MARKER)
        if not os.path.exists(marker):
            try:
                os.makedirs(_local(path), exist_ok=True)
                tmp = marker + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(tmp, "w", encoding="utf-8") as fh:
                    json.dump(
                        {"coordinator": type(store).__name__}, fh
                    )
                os.replace(tmp, marker)
            except OSError:
                pass  # marker is best-effort defense, never a gate
        return
    required = _store_marker_name(path)
    if required is not None:
        raise RuntimeError(
            f"table {path} requires commit coordination through "
            f"{required!r} (recorded in {_STORE_MARKER}), but no log "
            f"store is registered in this process — committing through "
            f"the default FileLogStore would bypass the coordinator's "
            f"put_if_absent and break OCC. Call register_log_store() "
            f"in this process first (note: the registry is "
            f"process-local; format('txlog') writes plan in Spark "
            f"worker processes)."
        )


def _write_commit_exclusive(path: str, version: int, lines: list[dict]) -> None:
    """Atomically publish commit ``version`` or raise FileExistsError —
    delegated to the table's :class:`LogStore` put-if-absent primitive
    (create-exclusive hard link on the default file store). Refuses to
    commit through the DEFAULT store against a table marked as
    requiring a custom coordinator (see ``_STORE_MARKER``)."""
    store = _store_for(path)
    _enforce_store_requirement(path, store)
    payload = "".join(
        json.dumps(line, separators=(",", ":")) + "\n" for line in lines
    )
    store.put_if_absent(
        _log_dir(path), _fmt_version(version) + ".json", payload
    )


# ---------------------------------------------------------------------------
# snapshot state


@dataclass
class Snapshot:
    version: int
    meta: dict
    files: dict[str, dict] = field(default_factory=dict)  # relpath -> add entry
    txns: dict[str, int] = field(default_factory=dict)  # app id -> max batch


def _read_actions(path: str, version: int) -> list[dict]:
    lines = _store_for(path).read_lines(
        _log_dir(path), _fmt_version(version) + ".json"
    )
    return [json.loads(line) for line in lines if line.strip()]


# Version-keyed snapshot cache for LARGE tables: the log is immutable,
# so (table, version) fully determines the state — a repeated plan
# against a million-file snapshot costs a dict lookup instead of a
# multi-second sidecar reload. Only snapshots that came through a
# parquet sidecar are cached (small tables load in microseconds), and
# every hit is VALIDATED by an os.stat of the uuid-named sidecar file:
# a table directory that was dropped and recreated at the same path
# gets a different sidecar name, so stale state can never be served.
# Entries in a cached snapshot are shared across callers — the engine
# treats them as read-only (the only in-place mutation anywhere is
# _ensure_stats_decoded's idempotent decode).
_SNAPSHOT_CACHE_MAX = 4
_snapshot_cache: dict[
    tuple[str, int], tuple[Snapshot, str, int, int, str]
] = {}


def _read_ckpt_payload(path: str, version: int) -> dict:
    """The checkpoint JSON for ``version``, read through the table's
    LogStore — the ONE definition of where a checkpoint lives and how
    it parses (cache validation, state load, and vacuum's sidecar
    collection all route here). Raises like the underlying read/parse;
    callers treat any failure as "checkpoint unusable"."""
    return json.loads(
        "".join(
            _store_for(path).read_lines(
                _log_dir(path), _fmt_version(version) + ".checkpoint.json"
            )
        )
    )


def _snapshot_cache_get(key: tuple[str, int]) -> "Snapshot | None":
    hit = _snapshot_cache.get(key)
    if hit is None:
        return None
    state, sidecar_abs, sidecar_size, ckpt, sidecar_rel = hit
    try:
        # two-sided validation: the sidecar file is unchanged AND the
        # checkpoint that referenced it STILL references it (re-read
        # through the LogStore — a small meta/txns/ref JSON). The size
        # check alone misses a wipe-and-rebuild that left _txlog_ckpt
        # behind: the rebuilt table's checkpoint names a NEW uuid
        # sidecar while the old file lingers on disk.
        if os.path.getsize(sidecar_abs) != sidecar_size:
            raise OSError("sidecar changed")
        if _read_ckpt_payload(key[0], ckpt).get("files_parquet") != (
            sidecar_rel
        ):
            raise OSError("checkpoint re-pointed")
        return state
    except (OSError, ValueError, KeyError):
        _snapshot_cache.pop(key, None)
        return None


def _snapshot_cache_put(
    key: tuple[str, int], state: Snapshot, sidecar_rel: str, ckpt: int
) -> None:
    sidecar_abs = os.path.join(key[0], sidecar_rel)
    try:
        size = os.path.getsize(sidecar_abs)
    except OSError:
        return  # sidecar vanished mid-load (vacuum race): don't cache
    _snapshot_cache[key] = (state, sidecar_abs, size, ckpt, sidecar_rel)
    while len(_snapshot_cache) > _SNAPSHOT_CACHE_MAX:
        _snapshot_cache.pop(next(iter(_snapshot_cache)))


def _load_state(path: str, version: int | None = None) -> Snapshot:
    commits, checkpoints = _list_versions(path)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"no txlog table at {path}")
    latest = max(commits + checkpoints)
    target = latest if version is None else version
    if target > latest or target < 0:
        raise ValueError(f"version {target} not in [0, {latest}] at {path}")
    cache_key = (_local(path).rstrip(os.sep), target)
    cached = _snapshot_cache_get(cache_key)
    if cached is not None:
        return cached
    state = Snapshot(version=target, meta={}, files={})
    start = 0
    sidecar_rel = None
    sidecar_ckpt = -1
    # newest usable checkpoint first; a checkpoint is a pure CACHE of
    # replayable log state, so one that fails to parse (crash between
    # rename and content reaching disk) degrades to the next older
    # checkpoint — or a full replay — instead of bricking every read
    for cp in sorted((v for v in checkpoints if v <= target), reverse=True):
        try:
            payload = _read_ckpt_payload(path, cp)
            state.meta = payload["meta"]
            if "files_parquet" in payload:
                state.files = _read_ckpt_sidecar(
                    path, payload["files_parquet"], payload["files_count"]
                )
                sidecar_rel = payload["files_parquet"]
                sidecar_ckpt = cp
            else:
                state.files = {e["path"]: e for e in payload["files"]}
            state.txns = dict(payload.get("txns", {}))
        except (
            json.JSONDecodeError, KeyError, TypeError, ValueError, OSError,
        ):
            # a checkpoint is a pure CACHE: any unusable one (torn
            # JSON, vacuumed/truncated sidecar, arrow parse error —
            # pyarrow's ArrowInvalid/ArrowIOError are ValueError/
            # OSError subclasses) degrades to the next older
            # checkpoint or a full replay. Deliberately NOT a bare
            # Exception: an environment bug (broken pyarrow import, a
            # reader regression) must surface, not silently replay the
            # full log on every load.
            state.meta, state.files, state.txns = {}, {}, {}
            sidecar_rel = None
            continue
        start = cp + 1
        break
    for v in range(start, target + 1):
        if v not in commits:
            # the replay tail starts after the newest usable checkpoint,
            # so any gap here means a corrupt (not vacuumed) log
            raise FileNotFoundError(
                f"commit {v} missing from txlog at {path}"
            )
        for action in _read_actions(path, v):
            if "meta" in action:
                state.meta = action["meta"]
            elif "add" in action:
                state.files[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                state.files.pop(action["remove"]["path"], None)
            elif "txn" in action:
                app, batch = action["txn"]["app"], action["txn"]["batch"]
                state.txns[app] = max(state.txns.get(app, batch), batch)
    if sidecar_rel is not None and len(state.files) >= _CKPT_PARQUET_MIN:
        _snapshot_cache_put(cache_key, state, sidecar_rel, sidecar_ckpt)
    return state


def _read_ckpt_sidecar(path: str, rel: str, count: int) -> dict[str, dict]:
    """Load a parquet checkpoint sidecar back into the snapshot file
    map. Stats stay RAW JSON strings (decoded lazily by the first
    pruning pass — :func:`_entry_stats`); dv entries are decoded
    eagerly (they are rare and tiny, and entry identity compares on
    them). A sidecar whose row count disagrees with the manifest is
    unusable (truncated write) and fails the load — the caller
    degrades to an older checkpoint or a full replay."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(_local(path), rel))
    if t.num_rows != count:
        raise OSError(
            f"checkpoint sidecar {rel} holds {t.num_rows} rows, "
            f"manifest says {count}"
        )
    files: dict[str, dict] = {}
    for p, r, b, s, d in zip(
        t.column("path").to_pylist(),
        t.column("rows").to_pylist(),
        t.column("bytes").to_pylist(),
        t.column("stats").to_pylist(),
        t.column("dv").to_pylist(),
    ):
        e: dict = {"path": p, "rows": r, "bytes": b}
        if s:
            e["stats"] = s  # raw JSON string — decoded on demand
        if d:
            e["dv"] = json.loads(d)
        files[p] = e
    return files


def _ensure_stats_decoded(files: dict[str, dict]) -> None:
    """Batch-decode every raw-string stats blob in a snapshot's file
    map with ONE ``json.loads`` over the joined array — ~4x cheaper
    than a million per-entry parses (measured in
    examples/scale_probe_r13_metadata.py). Pruning passes (merge
    candidates, bounds reads, datasource pushFilters) call this before
    their per-entry loops; plain snapshot reads never pay it."""
    raw = [
        e for e in files.values() if isinstance(e.get("stats"), str)
    ]
    if not raw:
        return
    decoded = json.loads("[" + ",".join(e["stats"] for e in raw) + "]")
    for e, d in zip(raw, decoded):
        e["stats"] = d


def _write_ckpt_sidecar(path: str, version: int, entries: list[dict]) -> str:
    """Write the file list as a parquet sidecar under ``_txlog_ckpt/``
    and return its table-root-relative path. The sidecar lives on the
    table-root filesystem like data files do (only LOG entries route
    through the LogStore); the JSON checkpoint references it by
    relative path, so the table stays relocatable as a unit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _local(path)
    rel = f"{_CKPT_DIR}/{_fmt_version(version)}-{uuid.uuid4().hex[:12]}.parquet"
    out = os.path.join(root, rel)
    os.makedirs(os.path.dirname(out), exist_ok=True)

    def _stats_str(e: dict):
        s = e.get("stats")
        if not s:
            return None
        return s if isinstance(s, str) else json.dumps(s, separators=(",", ":"))

    t = pa.table(
        {
            "path": pa.array([e["path"] for e in entries], pa.string()),
            "rows": pa.array([e["rows"] for e in entries], pa.int64()),
            "bytes": pa.array([e["bytes"] for e in entries], pa.int64()),
            "stats": pa.array([_stats_str(e) for e in entries], pa.string()),
            "dv": pa.array(
                [
                    json.dumps(e["dv"], separators=(",", ":"))
                    if e.get("dv")
                    else None
                    for e in entries
                ],
                pa.string(),
            ),
        }
    )
    tmp = out + f".tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(t, tmp)
    os.replace(tmp, out)
    return rel


def _maybe_checkpoint(path: str, version: int) -> None:
    if version % CHECKPOINT_EVERY != 0 or version == 0:
        return
    state = _load_state(path, version)
    entries = sorted(state.files.values(), key=lambda e: e["path"])
    if len(entries) >= _CKPT_PARQUET_MIN:
        rel = _write_ckpt_sidecar(path, version, entries)
        payload = {
            "version": version,
            "meta": state.meta,
            "files_parquet": rel,
            "files_count": len(entries),
            "txns": state.txns,
        }
    else:
        payload = {
            "version": version,
            "meta": state.meta,
            "files": [_entry_jsonable(e) for e in entries],
            "txns": state.txns,
        }
    # checkpoint content for a version is deterministic, so last-write
    # -wins replace is safe even if two writers checkpoint concurrently
    # (two sidecar writers leave one orphan parquet file — vacuum
    # collects unreferenced sidecars past the age floor)
    _store_for(path).put_replace(
        _log_dir(path),
        _fmt_version(version) + ".checkpoint.json",
        json.dumps(payload),
    )


# ---------------------------------------------------------------------------
# stats: harvested from parquet footers, serialized with type tags


def _encode_val(v):
    if isinstance(v, bool):
        return {"t": "b", "v": v}
    if isinstance(v, int):
        return {"t": "i", "v": v}
    if isinstance(v, float):
        return {"t": "f", "v": v}
    if isinstance(v, str):
        return {"t": "s", "v": v}
    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "d", "v": v.isoformat()}
    return None


def _decode_val(e):
    if e is None:
        return None
    t, v = e["t"], e["v"]
    if t == "ts":
        return datetime.datetime.fromisoformat(v)
    if t == "d":
        return datetime.date.fromisoformat(v)
    return v


def _entry_stats(e: dict) -> dict:
    """An add entry's decoded stats dict. Entries loaded from a parquet
    sidecar checkpoint carry stats as a RAW JSON STRING (decoding a
    million stats dicts nobody reads is what made cold loads slow);
    the first pruning pass that touches an entry decodes and caches
    in place. Every stats consumer goes through here."""
    s = e.get("stats")
    if isinstance(s, str):
        s = json.loads(s) if s else {}
        e["stats"] = s
    return s or {}


def _entry_jsonable(e: dict) -> dict:
    """The entry as commit-line JSON expects it (stats decoded): an
    entry re-referenced from a sidecar-loaded snapshot (restore, dv
    re-add, carry-forward remove) must not double-encode its raw
    stats string into the log."""
    if isinstance(e.get("stats"), str):
        _entry_stats(e)
    return e


def _entry_same(a: dict | None, b: dict | None) -> bool:
    """Entry identity: (path, deletion vector). Sufficient because a
    data file is immutable once written — rows/bytes/stats are pure
    functions of the path's content, so two entries for one path can
    differ only in their dv. Used instead of full-dict equality so a
    sidecar-loaded entry (stats still a raw JSON string) compares
    equal to its replayed twin (stats decoded)."""
    if a is None or b is None:
        return a is b
    return a["path"] == b["path"] and a.get("dv") == b.get("dv")


def _file_stats(local_file: str, stat_cols: Sequence[str]) -> tuple[int, dict]:
    """(num_rows, {col: {"min","max","nulls"}}) from the parquet footer.

    Only exact stats are recorded: a column chunk whose min/max pyarrow
    flags as truncated/inexact (long strings) contributes no bound, so
    pruning can never skip a file that might match."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local_file).metadata
    schema_names = [md.schema.column(i).path for i in range(md.num_columns)]
    wanted = {c: schema_names.index(c) for c in stat_cols if c in schema_names}
    stats: dict[str, dict] = {}
    for col, idx in wanted.items():
        lo = hi = None
        nulls = 0
        nulls_known = True
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            exact_min = getattr(st, "is_min_value_exact", True)
            exact_max = getattr(st, "is_max_value_exact", True)
            if exact_min is False or exact_max is False:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                ok = False  # binary stats carry no usable ordering here
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
            if st.has_null_count:
                nulls += st.null_count
            else:
                # a row group without a null count makes the FILE's
                # null count unknown — recording 0 would let the
                # `col IS NULL` pruner treat "no information" as
                # "provably no nulls" and wrongly skip the file
                nulls_known = False
        if ok and lo is not None:
            emin, emax = _encode_val(lo), _encode_val(hi)
            if emin is not None and emax is not None:
                stats[col] = {"min": emin, "max": emax}
                if nulls_known:
                    stats[col]["nulls"] = nulls
    return md.num_rows, stats


def _bounds_of(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple]:
    """One tiny agg: min/max of each column over the update batch."""
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return {}
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {
        c: (row[f"__mn_{c}"], row[f"__mx_{c}"])
        for c in cols
        if row[f"__mn_{c}"] is not None
    }


def _key_pruners(
    updates: DataFrame, keys: Sequence[str], distinct_cap: int = 100_000
) -> dict[str, tuple[str, object]] | None:
    """Per key column, the strongest driver-affordable pruning structure:

    - ``("set", sorted distinct non-null values)`` when the batch has
      <= ``distinct_cap`` of them — a file survives pruning only if
      some batch value lands inside its [min, max]. This is what makes
      the common sparse-MERGE shape cheap: a batch of yesterday's keys
      plus a handful of old backfills has a huge min-max span but stabs
      very few files.
    - ``("range", (lo, hi))`` above the cap — the min-max relaxation,
      never collected to the driver beyond one agg row.

    Returns None when some key column has NO non-null batch value —
    then no row can match and the merge is a pure insert."""
    out: dict[str, tuple[str, object]] = {}
    bounds = _bounds_of(updates, keys)
    for c in keys:
        if c not in bounds:
            return None
    for c in keys:
        vals = [
            r[0]
            for r in updates.select(c).where(F.col(c).isNotNull())
            .distinct().limit(distinct_cap + 1).collect()
        ]
        if len(vals) <= distinct_cap:
            out[c] = ("set", sorted(vals))
        else:
            out[c] = ("range", bounds[c])
    return out


def _file_survives_constraints(entry: dict, constraints: list[tuple]) -> bool:
    """One home for the file-level zonemap contract over pushed-down
    filter conjuncts — ``(kind, col, payload)`` with kind ∈ set / gt /
    ge / lt / le / isnull. True unless footer stats PROVE no row of the
    file can satisfy some conjunct; absent stats and cross-type
    comparisons never prune (the same conservative contract
    :func:`_file_matches_keys` / :func:`_file_disjoint` hold). Used by
    the ``format("txlog")`` datasource's ``pushFilters`` path."""
    import bisect

    stats = _entry_stats(entry)
    for kind, col, payload in constraints:
        st = stats.get(col)
        if st is None:
            continue
        if kind == "isnull":
            # nulls counts are recorded alongside min/max: a file with
            # zero nulls in the column provably has no `col IS NULL` row
            if st.get("nulls") == 0:
                return False
            continue
        fmin = _decode_val(st["min"])
        fmax = _decode_val(st["max"])
        try:
            if kind == "set":
                idx = bisect.bisect_left(payload, fmin)
                if idx >= len(payload) or payload[idx] > fmax:
                    return False
            elif kind == "gt":
                if fmax <= payload:
                    return False
            elif kind == "ge":
                if fmax < payload:
                    return False
            elif kind == "lt":
                if fmin >= payload:
                    return False
            elif kind == "le":
                if fmin > payload:
                    return False
        except TypeError:
            continue
    return True


def _file_matches_keys(entry: dict, pruners: dict) -> bool:
    """True unless footer stats PROVE no batch key can live in the file
    on some key column — absent stats never prune."""
    import bisect

    for col, (kind, payload) in pruners.items():
        st = _entry_stats(entry).get(col)
        if st is None:
            continue
        fmin, fmax = _decode_val(st["min"]), _decode_val(st["max"])
        try:
            if kind == "range":
                lo, hi = payload
                if fmax < lo or fmin > hi:
                    return False
            else:
                idx = bisect.bisect_left(payload, fmin)
                if idx >= len(payload) or payload[idx] > fmax:
                    return False
        except TypeError:
            continue  # cross-type comparison: never prune on it
    return True


def _file_disjoint(entry: dict, bounds: dict[str, tuple]) -> bool:
    """True only when the footer stats PROVE the file cannot contain a
    row inside ``bounds`` on some column — absent stats never prune."""
    for col, (lo, hi) in bounds.items():
        st = _entry_stats(entry).get(col)
        if st is None:
            continue
        fmin, fmax = _decode_val(st["min"]), _decode_val(st["max"])
        try:
            if fmax < lo or fmin > hi:
                return True
        except TypeError:
            continue  # cross-type comparison: never prune on it
    return False


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read)
#
# A data file's add entry may carry ``"dv": {"path": <dv dataset
# relpath>, "rows": <deleted-row count>}`` — the merge-on-read answer
# to copy-on-write's write amplification (the public Delta/Iceberg
# deletion-vector capability). The dv dataset is a directory of
# parquet files under ``data/dv<hex>/`` with columns ``file`` (data
# file relpath) and ``pos`` (row index within the PHYSICAL file,
# 0-based); one dataset is written per committing operation and may be
# shared by several entries of that commit. An entry's dv always holds
# the file's FULL deletion set (a later delete unions the old
# positions into a fresh dataset), so a single (entry, dv) pair fully
# describes the file's live rows. Every read path applies dvs at scan
# (position anti-join); compaction/optimize materialize them away.
#
# Commits that change a file's dv emit ``remove`` (old identity,
# carrying the old dv so the change feed can read the pre-image) then
# ``add`` (same path, new dv) — replay order in a commit is removes
# before adds, so the log replays to the new identity.

# data files land at data/<dir>/<name>: the last three path components
# of a scan's _metadata.file_path ARE the table-relative path
_REL_RE = r"(data/[^/]+/[^/]+)$"
_DVDIR_RE = r"(data/[^/]+)/[^/]+$"


def _dv_rows(entry: dict) -> int:
    return (entry.get("dv") or {}).get("rows", 0)


def _live_rows(entry: dict) -> int:
    return entry["rows"] - _dv_rows(entry)


def _dv_parquet_files(root: str, dv_rel: str) -> list[str]:
    d = os.path.join(root, dv_rel)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
    )


def _dv_files_checked(root: str, dv: dict) -> list[str]:
    """The dv dataset's parquet files, VERIFIED against the part count
    the entry recorded at commit time. A vacuumed (or half-vacuumed)
    dataset must fail the read loudly — silently applying a partial
    deletion set would resurrect deleted rows, strictly worse than the
    missing-data-file error a vacuumed snapshot already raises."""
    files = _dv_parquet_files(root, dv["path"])
    want = dv.get("files")
    if not files or (want is not None and len(files) != want):
        raise FileNotFoundError(
            f"deletion-vector dataset {dv['path']} is missing or "
            f"partially vacuumed ({len(files)} of {want} part files) — "
            f"this snapshot is no longer readable"
        )
    return files


def _dv_positions_df(spark: SparkSession, root: str, entries) -> DataFrame:
    """(file, pos) rows of the given entries' deletion vectors. A dv
    DATASET may hold positions for files whose CURRENT dv lives in a
    newer dataset (or for files outside ``entries``), so each dataset's
    rows are scoped to the files the given entries actually assign to
    it — a broadcast semi-join on (dataset dir, file)."""
    pairs = sorted(
        {(e["dv"]["path"], e["path"]) for e in entries if e.get("dv")}
    )
    by_dir = {}
    for e in entries:
        if e.get("dv"):
            by_dir.setdefault(e["dv"]["path"], e["dv"])
    files = [
        f
        for d in sorted(by_dir)
        for f in _dv_files_checked(root, by_dir[d])
    ]
    dv = spark.read.parquet(*files).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), _DVDIR_RE, 1
        ).alias("__dvdir"),
        "file",
        "pos",
    )
    assign = spark.createDataFrame(pairs, "__dvdir string, file string")
    return dv.join(
        F.broadcast(assign), ["__dvdir", "file"], "left_semi"
    ).select("file", "pos")


def _write_dv_dataset(
    spark: SparkSession,
    path: str,
    pos_df: DataFrame,
    total_rows: int,
    rows_per_file: int = 8_000_000,
) -> tuple[str, str, int]:
    """Write (file, pos) rows as a dv dataset directory, range-
    clustered by (file, pos) so a per-file read prunes on the parquet
    footer stats. Returns (relpath, staging dir, part-file count — the
    entry records it so readers can detect a half-vacuumed dataset);
    the caller commits or deletes the staging dir on conflict."""
    root = _local(path)
    rel = os.path.join(_DATA_DIR, f"dv{uuid.uuid4().hex[:12]}")
    out_dir = os.path.join(root, rel)
    n = max(1, math.ceil(total_rows / rows_per_file))
    (
        pos_df.repartitionByRange(n, "file", "pos")
        .sortWithinPartitions("file", "pos")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return rel, out_dir, len(_dv_parquet_files(root, rel))


def _plan_dv_commit(
    spark: SparkSession,
    path: str,
    candidates: dict[str, dict],
    pos_df: DataFrame,
    new_counts: dict[str, int],
) -> tuple[list[dict], list[dict], str]:
    """The one place dv-commit bookkeeping lives (merge and delete both
    route here so the invariants cannot drift): union the touched
    files' OLD dv positions into ``pos_df`` (an entry's dv is always
    the file's FULL deletion set), write the dataset, and plan the
    commit — every touched file's old identity is removed; files with
    live rows left are re-added with the new dv (part count recorded
    for half-vacuum detection); files whose every physical row is now
    deleted are dropped outright. Returns (removes, adds, staging dir
    for conflict cleanup); only call with nonempty ``new_counts``."""
    root = _local(path)
    touched = {rel: candidates[rel] for rel in new_counts}
    totals = {
        rel: new_counts[rel] + _dv_rows(e) for rel, e in touched.items()
    }
    # an already-deleted position can never re-match (every scan
    # applied the old dv), so old + new counts add exactly
    old_dv = [e for e in touched.values() if e.get("dv")]
    ds = pos_df
    if old_dv:
        ds = ds.unionByName(_dv_positions_df(spark, root, old_dv))
    dv_rel, staging, dv_nparts = _write_dv_dataset(
        spark, path, ds, sum(totals.values())
    )
    removes: list[dict] = []
    adds: list[dict] = []
    for rel, e in touched.items():
        removes.append(e)
        if totals[rel] < e["rows"]:
            adds.append(
                dict(
                    e,
                    dv={
                        "path": dv_rel,
                        "rows": totals[rel],
                        "files": dv_nparts,
                    },
                )
            )
    return removes, adds, staging


def _entry_scan_paths(root: str, entries) -> list[str]:
    """The path list handed to ``spark.read.parquet`` for a snapshot
    scan: per-file by default, but a data directory whose on-disk
    ``*.parquet`` listing EXACTLY matches the snapshot's live entries
    collapses to ONE directory path. At 1M files the per-file list is
    the planning bottleneck (measured 36.7 s at 100k paths — py4j
    marshalling plus per-path driver listing;
    examples/scale_probe_r13_metadata.py); a compacted table's dirs
    are fully live, so the grouped plan passes ~#commits directory
    paths instead.

    Soundness: a directory may hold parquet files the log never
    admitted (failed/speculative task attempts of the datasource
    writer stage files into the job's dir before the commit decides) —
    a directory-granular read would silently include them. Grouping
    therefore requires (a) the listing to match the entries exactly
    and (b) the directory mtime to be older than
    ``_DIR_GROUP_MIN_AGE`` (a straggler task landing a file bumps the
    mtime, so a recently-touched dir always falls back to per-file
    paths). Any listing error falls back too — grouping is an
    optimization, never a semantics change."""
    by_dir: dict[str, list[str]] = {}
    for e in entries:
        d, _slash, name = e["path"].rpartition("/")
        by_dir.setdefault(d, []).append(name)
    out: list[str] = []
    cutoff = time.time() - _DIR_GROUP_MIN_AGE
    for d, names in sorted(by_dir.items()):
        absdir = os.path.join(root, d)
        use_dir = False
        if len(names) > 1 and d:
            try:
                if os.path.getmtime(absdir) < cutoff:
                    on_disk = sorted(
                        n
                        for n in os.listdir(absdir)
                        if n.endswith(".parquet")
                    )
                    use_dir = on_disk == sorted(names)
            except OSError:
                use_dir = False
        if use_dir:
            out.append(absdir)
        else:
            out.extend(os.path.join(absdir, n) for n in sorted(names))
    return out


def _scan_files(
    spark: SparkSession,
    path: str,
    entries,
    meta: dict,
    with_location: bool = False,
) -> DataFrame:
    """THE one snapshot-scan primitive: a DataFrame over the given add
    entries with deletion vectors APPLIED and the schema aligned to
    ``meta`` (columns a later evolution added are NULL-filled for old
    files). Every reader of table data — read_table, merge, delete,
    compact, optimize, the change feed — goes through here so
    merge-on-read semantics cannot drift between them.

    ``with_location=True`` appends ``__file`` (table-relative data file
    path) and ``__pos`` (row index within the physical file) — what the
    dv write paths join on. Entries without dvs and no location request
    take the plain multi-path parquet read (zero overhead vs the
    pre-dv engine); dv application is a position ANTI-JOIN against the
    dv rows, broadcast when the snapshot's total deleted-row count is
    driver-known small."""
    root = _local(path)
    entries = sorted(entries, key=lambda e: e["path"])
    want = StructType.fromJson(json.loads(meta["schema"]))
    if not entries:
        out = _empty_frame(spark, meta)
        if with_location:
            out = out.withColumn(
                "__file", F.lit(None).cast("string")
            ).withColumn("__pos", F.lit(None).cast("long"))
        return out
    dv_entries = [e for e in entries if e.get("dv")]
    paths = _entry_scan_paths(root, entries)
    out = spark.read.option("mergeSchema", "true").parquet(*paths)
    if with_location or dv_entries:
        out = out.select(
            "*",
            F.regexp_extract(
                F.col("_metadata.file_path"), _REL_RE, 1
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )
    if dv_entries:
        dv = _dv_positions_df(spark, root, dv_entries).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )
        total_dv = sum(_dv_rows(e) for e in dv_entries)
        if total_dv <= 2_000_000:
            dv = F.broadcast(dv)
        out = out.join(
            dv,
            (F.col("__file") == F.col("__dv_file"))
            & (F.col("__pos") == F.col("__dv_pos")),
            "left_anti",
        )
    for fld in want.fields:
        if fld.name not in out.columns:
            out = out.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    cols = [f.name for f in want.fields]
    if with_location:
        cols += ["__file", "__pos"]
    return out.select(*cols)


# ---------------------------------------------------------------------------
# data-file writes


def _write_data_files(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stat_cols: Sequence[str],
    cluster_by: Sequence[str] = (),
    num_files: int | None = None,
) -> tuple[list[dict], str]:
    """Write ``df`` as immutable parquet files under ``data/<uuid>/``
    and return (add entries, staging dir) — the caller commits or
    deletes the staging dir on conflict. ``cluster_by`` range-partitions
    the write so footer min/max stay tight (tight stats are what make
    merge pruning effective); ``num_files`` caps the file count."""
    root = _local(path)
    rel_dir = os.path.join(_DATA_DIR, f"c{uuid.uuid4().hex[:12]}")
    out_dir = os.path.join(root, rel_dir)
    shaped = df
    cluster = [c for c in cluster_by if c in df.columns]
    if cluster:
        shaped = (
            df.repartitionByRange(num_files, *cluster)
            if num_files
            else df.repartitionByRange(*cluster)
        )
        shaped = shaped.sortWithinPartitions(*cluster)
    elif num_files:
        shaped = df.repartition(num_files)
    shaped.write.mode("overwrite").parquet(out_dir)
    entries = []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".parquet"):
            continue
        fpath = os.path.join(out_dir, name)
        rows, stats = _file_stats(fpath, stat_cols)
        if rows == 0:
            os.unlink(fpath)  # empty range partitions add no information
            continue
        entries.append(
            {
                "path": f"{rel_dir}/{name}",
                "rows": rows,
                "bytes": os.path.getsize(fpath),
                "stats": stats,
            }
        )
    return entries, out_dir


def _abs_files(path: str, state: Snapshot) -> list[str]:
    root = _local(path)
    return [os.path.join(root, rel) for rel in sorted(state.files)]


def _empty_frame(spark: SparkSession, meta: dict) -> DataFrame:
    schema = StructType.fromJson(json.loads(meta["schema"]))
    return spark.createDataFrame([], schema=schema)


def _norm_nullability(dt):
    """The same dataType up to NESTED nullability flags (array
    containsNull, map valueContainsNull, struct field nullable) — those
    don't change the physical parquet type, so schema-contract checks
    must not reject a batch over them (``F.array(lit(..))`` infers
    containsNull=false where createDataFrame infers true)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_norm_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _norm_nullability(dt.keyType), _norm_nullability(dt.valueType),
            True,
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _norm_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


# ---------------------------------------------------------------------------
# public API


def create_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_cols: Sequence[str] = (),
    cluster_by: Sequence[str] | None = None,
    num_files: int | None = None,
) -> int:
    """Create a txlog table at ``path`` as commit 0. ``key_cols`` set
    the default MERGE key and (with ``cluster_by``, defaulting to the
    keys) the columns whose footer stats every commit records for file
    pruning. Fails if a table already exists."""
    if table_exists(path):
        raise FileExistsError(f"txlog table already exists at {path}")
    keys = list(key_cols)
    cluster = list(cluster_by) if cluster_by is not None else list(keys)
    stat_cols = list(dict.fromkeys(keys + cluster))
    meta = {
        "schema": df.schema.json(),
        "key_cols": keys,
        "cluster_by": cluster,
        "stat_cols": stat_cols,
    }
    adds, staging = _write_data_files(
        spark, df, path, stat_cols, cluster, num_files
    )
    lines = [{"meta": meta}, _commit_line("create")]
    lines += [{"add": e} for e in adds]
    try:
        _write_commit_exclusive(path, 0, lines)
    except FileExistsError:
        shutil.rmtree(staging, ignore_errors=True)
        raise FileExistsError(
            f"txlog table concurrently created at {path}"
        ) from None
    return 0


def _commit_ts(path: str, version: int) -> float | None:
    """Commit timestamp without parsing the add actions: the commit
    line is written first (or right after meta), so the scan stops
    after <= 2 parsed lines — a timestamp resolution over a long log
    stays O(commits), not O(total log bytes)."""
    try:
        for line in _store_for(path).read_lines(
            _log_dir(path), _fmt_version(version) + ".json"
        ):
            if not line.strip():
                continue
            action = json.loads(line)
            if "commit" in action:
                return action["commit"].get("ts")
    except FileNotFoundError:
        return None  # checkpoint-only version after log truncation
    return None


def version_at_timestamp(path: str, timestamp: float) -> int:
    """Newest version whose commit timestamp is <= ``timestamp`` (epoch
    seconds) — the `timestampAsOf` resolution rule of the public Delta
    protocol, with the same caveat: commit timestamps come from writer
    wall clocks, so the VERSION number remains the source of truth for
    order. Raises if the table's first commit is newer than the asked
    time. Commits predating the ts field resolve as candidates (their
    ts reads as -inf), so pre-upgrade history stays addressable.

    Clock skew between CONCURRENT writers can publish non-monotone
    timestamps (each writer stamps from its own wall clock), so the
    scan covers EVERY commit — no monotonicity early-stop — and
    returns the newest qualifying version, the resolution the public
    Delta protocol reaches by adjusting timestamps to monotone. The
    scan is O(commits) with a <=2-line parse per commit
    (:func:`_commit_ts`), so the full walk costs nothing real."""
    commits, _ = _list_versions(path)
    if not commits and not table_exists(path):
        raise FileNotFoundError(f"no txlog table at {path}")
    best = None
    for v in commits:
        ts = _commit_ts(path, v)
        if ts is None or ts <= timestamp:
            best = v
    if best is None:
        raise ValueError(
            f"no commit at-or-before timestamp {timestamp} at {path} "
            f"(first commit is newer)"
        )
    return best


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    bounds: dict[str, tuple] | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read at ``version`` (default: latest). ``timestamp``
    (epoch seconds) is timestampAsOf time travel — resolved to a
    version via :func:`version_at_timestamp`; passing both is an
    error. ``bounds`` ({col: (lo, hi)}, inclusive) prunes files by
    footer stats BEFORE Spark sees them — the file-level zonemap — and
    re-applies the range as a filter so within-file rows outside it
    are dropped too."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    state = _load_state(path, version)
    files = list(state.files.values())
    if bounds:
        _ensure_stats_decoded(state.files)
        files = [e for e in files if not _file_disjoint(e, bounds)]
    out = _scan_files(spark, path, files, state.meta)
    if bounds:
        for col, (lo, hi) in bounds.items():
            out = out.where(F.col(col).between(F.lit(lo), F.lit(hi)))
    return out


def table_history(path: str) -> list[dict]:
    """One dict per commit (ascending): version, op, files added and
    removed, rows added. Checkpoint-vacuumed tail versions are absent."""
    commits, _ = _list_versions(path)
    out = []
    for v in commits:
        op = None
        ts = None
        adds = removes = rows = 0
        for action in _read_actions(path, v):
            if "commit" in action:
                op = action["commit"].get("op")
                ts = action["commit"].get("ts")
            elif "add" in action:
                adds += 1
                rows += action["add"]["rows"]
            elif "remove" in action:
                removes += 1
        out.append(
            {
                "version": v,
                "op": op,
                "ts": ts,
                "files_added": adds,
                "files_removed": removes,
                "rows_added": rows,
            }
        )
    return out


def describe_table(path: str, version: int | None = None) -> dict:
    """One-call table summary from the log alone (no data read):
    version, commit timestamp, schema DDL, key/cluster/stat columns,
    constraints, live file count, total rows and bytes, and the txn
    watermarks — the DESCRIBE DETAIL surface of the table formats."""
    state = _load_state(path, version)
    schema = StructType.fromJson(json.loads(state.meta["schema"]))
    return {
        "version": state.version,
        "ts": _commit_ts(path, state.version),
        "schema": schema.simpleString(),
        "key_cols": list(state.meta.get("key_cols", [])),
        "cluster_by": list(state.meta.get("cluster_by", [])),
        "stat_cols": list(state.meta.get("stat_cols", [])),
        "constraints": dict(state.meta.get("constraints") or {}),
        "num_files": len(state.files),
        # LIVE rows: physical rows minus deletion-vector rows — what a
        # read of this snapshot returns
        "total_rows": sum(_live_rows(e) for e in state.files.values()),
        "total_bytes": sum(e["bytes"] for e in state.files.values()),
        "dv_files": sum(1 for e in state.files.values() if e.get("dv")),
        "dv_rows": sum(_dv_rows(e) for e in state.files.values()),
        "txns": dict(state.txns),
    }


def last_committed_batch(path: str, app: str) -> int | None:
    """Highest ``txn`` batch id committed for ``app`` (None if never).
    The idempotent-writes primitive: a restarted streaming query asks
    this before re-applying a replayed micro-batch."""
    state = _load_state(path)
    return state.txns.get(app)


def _commit_line(op: str) -> dict:
    """The commit action: op label + wall-clock timestamp (epoch
    seconds). The timestamp is INFORMATIONAL ordering metadata — the
    version number is the source of truth for commit order; the ts
    powers `timestampAsOf` time travel and history display, exactly
    the role commit timestamps play in the public Delta protocol
    (which documents the same clock-skew caveat)."""
    return {"commit": {"op": op, "ts": time.time()}}


def _commit_rmw(
    path: str,
    snapshot_version: int,
    op: str,
    adds: list[dict],
    removes: list[str],
    meta: dict | None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Commit a read-modify-write txn: only valid as version
    snapshot_version + 1 — anything newer means a concurrent commit
    changed state this txn read, so the caller re-runs.

    ``removes`` items are relpath strings or full add entries; an
    entry remove records the removed identity's dv so the change feed
    can reconstruct the pre-image (replay itself keys on path only)."""
    version = snapshot_version + 1
    lines: list[dict] = []
    if meta is not None:
        lines.append({"meta": meta})
    lines.append(_commit_line(op))
    if txn is not None:
        lines.append({"txn": {"app": txn[0], "batch": txn[1]}})

    def _remove_line(r) -> dict:
        if isinstance(r, str):
            return {"remove": {"path": r}}
        rm = {"path": r["path"]}
        if r.get("dv"):
            rm["dv"] = r["dv"]
        return {"remove": rm}

    lines += sorted(
        (_remove_line(r) for r in removes),
        key=lambda ln: ln["remove"]["path"],
    )
    # an entry re-referenced from a sidecar-loaded snapshot (restore,
    # dv re-add) may carry stats as a raw JSON string — decode before
    # the line is serialized
    lines += [{"add": _entry_jsonable(e)} for e in adds]
    try:
        _write_commit_exclusive(path, version, lines)
    except FileExistsError:
        raise _Conflict() from None
    _maybe_checkpoint(path, version)
    return version


def append_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    max_retries: int = 20,
    txn: tuple[str, int] | None = None,
) -> int:
    """Blind append: writes once, then retries only the version bump on
    commit races (an append conflicts with nothing).

    ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT per app: if
    the table already recorded a batch >= batch_id for app_id, the call
    is a no-op — the exactly-once-at-rest primitive a restarted
    Structured Streaming query needs when its checkpoint replays a
    micro-batch the previous run already committed (the public Delta
    `txnAppId`/`txnVersion` pattern). Contract: one live writer per
    app_id (the streaming driver), as in that pattern."""
    state = _load_state(path)
    if txn is not None and state.txns.get(txn[0], -1) >= txn[1]:
        return state.version
    want = StructType.fromJson(json.loads(state.meta["schema"]))
    got = df.schema
    if {(f.name, _norm_nullability(f.dataType)) for f in got.fields} != {
        (f.name, _norm_nullability(f.dataType)) for f in want.fields
    }:
        # silent drift would mix physical schemas under one column and
        # corrupt later reads — the strict-by-default append contract
        # (schema changes go through overwrite/merge evolve_schema)
        raise ValueError(
            f"append schema {got.simpleString()} does not match table "
            f"schema {want.simpleString()} at {path}"
        )
    df = df.select(*[f.name for f in want.fields])
    _enforce_constraints(df, state.meta, f"append to {path}")
    adds, staging = _write_data_files(
        spark, df, path, state.meta.get("stat_cols", []),
        state.meta.get("cluster_by", []), num_files,
    )
    tail: list[dict] = []
    if txn is not None:
        tail.append({"txn": {"app": txn[0], "batch": txn[1]}})
    tail += [{"add": e} for e in adds]
    version = state.version + 1
    seen_schema = {
        (f.name, _norm_nullability(f.dataType)) for f in want.fields
    }
    seen_constraints = dict(state.meta.get("constraints") or {})
    for _ in range(max_retries + 1):
        try:
            # re-stamp the commit line PER ATTEMPT: a retry that lands
            # at a bumped version with the original attempt's ts would
            # publish a timestamp OLDER than the commit that beat it,
            # and version_at_timestamp's monotone early-stop would then
            # resolve timestampAsOf past the newer-numbered commit
            # (_commit_rmw callers rebuild their line per retry too)
            _write_commit_exclusive(path, version, [_commit_line("append")] + tail)
            _maybe_checkpoint(path, version)
            return version
        except FileExistsError:
            fresh = _load_state(path)
            if txn is not None and fresh.txns.get(txn[0], -1) >= txn[1]:
                shutil.rmtree(staging, ignore_errors=True)
                return fresh.version  # a rival attempt already landed it
            # An append conflicts with no DATA commit, but a concurrent
            # METADATA change does conflict (Delta's append-vs-metadata
            # rule): re-validate the staged batch against the fresh
            # schema/constraints before blindly retrying the bump.
            fresh_schema = {
                (f.name, _norm_nullability(f.dataType))
                for f in StructType.fromJson(
                    json.loads(fresh.meta["schema"])
                ).fields
            }
            if fresh_schema != seen_schema:
                shutil.rmtree(staging, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"append to {path}: table schema changed concurrently"
                    f" — re-run the append against the new schema"
                ) from None
            fresh_cons = dict(fresh.meta.get("constraints") or {})
            added_cons = {
                n: sql
                for n, sql in fresh_cons.items()
                if seen_constraints.get(n) != sql
            }
            if added_cons and adds:
                root = _local(path)
                staged = spark.read.parquet(
                    *[os.path.join(root, e["path"]) for e in adds]
                )
                try:
                    _enforce_constraints(
                        staged, {"constraints": added_cons},
                        f"append to {path} (constraint added concurrently)",
                    )
                except ValueError:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise
            seen_constraints = fresh_cons
            version = fresh.version + 1
    shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"append to {path} lost the commit race {max_retries + 1} times"
    )


def overwrite_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    max_retries: int = 5,
) -> int:
    """Replace the table's full content atomically (readers see either
    the old snapshot or the new one, never a mix)."""
    for _ in range(max_retries + 1):
        state = _load_state(path)
        meta = dict(state.meta, schema=df.schema.json())
        _enforce_constraints(df, state.meta, f"overwrite of {path}")
        adds, staging = _write_data_files(
            spark, df, path, meta.get("stat_cols", []),
            meta.get("cluster_by", []), num_files,
        )
        try:
            return _commit_rmw(
                path, state.version, "overwrite", adds,
                list(state.files.values()), meta,
            )
        except _Conflict:
            shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"overwrite of {path} lost the commit race {max_retries + 1} times"
    )


def merge_frames(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str | None,
    evolve_schema: bool = False,
) -> DataFrame:
    """THE merge core — the one definition of MERGE semantics both
    backends share (``materialize.upsert_partitioned`` calls this too,
    so the semantics cannot drift between them): matched replace /
    unmatched insert; with ``version_col`` highest-version-wins, ties
    to the update; NULL keys never match, so NULL-key rows route
    around the window (SQL MERGE's ON-clause semantics — partitionBy
    would otherwise pool every NULL-key row and keep a single winner,
    silently deleting data)."""
    union_kw = {"allowMissingColumns": True} if evolve_schema else {}
    if version_col is None:
        return existing.join(
            updates.select(*keys).distinct(), keys, "left_anti"
        ).unionByName(updates, **union_kw)
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1)), **union_kw
    )
    has_null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    null_rows = tagged.where(has_null_key).drop("__src")
    w = Window.partitionBy(*keys).orderBy(F.desc(version_col), F.desc("__src"))
    return (
        tagged.where(~has_null_key)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
        .unionByName(null_rows)
    )


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: Sequence[str] | None = None,
    version_col: str | None = None,
    evolve_schema: bool = False,
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
    mode: str = "cow",
) -> dict:
    """Transactional MERGE: replace matched keys, insert the rest,
    touching ONLY files whose footer stats overlap the batch's key
    bounds. Returns {"version", "files_rewritten", "files_skipped"}
    (plus {"files_dv", "files_removed"} in dv mode).
    ``txn=(app_id, batch_id)`` makes the merge idempotent per app (see
    :func:`append_table`) — here the re-check runs inside the retry
    loop on a fresh snapshot, so it is race-free even across writers.

    ``mode`` picks the physical strategy; the logical result is the
    same either way:

    - ``"cow"`` (copy-on-write, the default): matched files are
      rewritten in full. Best when a batch REPLACES most of the files
      it touches (key-clustered daily partitions); worst on scattered
      keys, where a 0.1% update can rewrite the whole table.
    - ``"dv"`` (merge-on-read): replaced rows are recorded in a
      deletion vector (position list) per touched file and the batch's
      winning rows land as NEW files — bytes written ∝ batch size +
      deleted-row positions, never the touched files' size. Reads
      apply the dv at scan; ``compact_table`` materializes it away.
      This is the scattered-key answer (the public Delta/Iceberg
      deletion-vector strategy). One documented divergence, scoped to
      ``version_col=None``: that path dv-deletes only rows whose key
      is IN the batch, so pre-existing DUPLICATE key rows in a matched
      file whose key is absent from the batch are left as-is (cow's
      full rewrite incidentally deduplicates them). With a
      ``version_col`` the dv ranking window covers ALL candidate-file
      rows, so such duplicates are deduplicated exactly as cow does —
      no divergence there. Tables maintained through
      create/append/merge never hold duplicate keys, making the two
      modes equal everywhere in practice (unit-pinned).

    On a key-clustered table this is the incremental-maintenance shape
    the reference's daily full rewrite cannot reach: a batch touching
    1% of the key space costs ~1% of the table in read and write, with
    untouched files carried forward by reference (asserted down to
    identical relpaths in tests)."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"merge mode must be 'cow' or 'dv', got {mode!r}")
    # The batch feeds 3+ separate jobs (key bounds agg, a distinct
    # collect per key column, the merge write) and every conflict retry
    # re-runs them: materialize its lineage ONCE instead of recomputing
    # an arbitrarily expensive upstream per job.
    with persisted(updates):
        return _merge_upsert_inner(
            spark, updates, path, key_cols, version_col, evolve_schema,
            max_retries, txn, mode,
        )


def _merge_upsert_inner(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: Sequence[str] | None,
    version_col: str | None,
    evolve_schema: bool,
    max_retries: int,
    txn: tuple[str, int] | None,
    mode: str = "cow",
) -> dict:
    for _ in range(max_retries + 1):
        state = _load_state(path)
        if txn is not None and state.txns.get(txn[0], -1) >= txn[1]:
            return {
                "version": state.version,
                "files_rewritten": 0,
                "files_skipped": len(state.files),
                "already_committed": True,
            }
        keys = list(key_cols) if key_cols else list(state.meta.get("key_cols", []))
        if not keys:
            raise ValueError(
                f"merge into {path} needs key_cols (none stored in table meta)"
            )
        if evolve_schema:
            required = set(keys) | ({version_col} if version_col else set())
            missing = sorted(required - set(updates.columns))
            if missing:
                raise ValueError(
                    f"evolve_schema batch lacks key/version columns "
                    f"{missing} — these cannot be NULL-filled"
                )
        # Enforce the append-path (name, dataType) contract BEFORE any
        # data file is written: a batch with a widened type (v double vs
        # stored v bigint) would otherwise COMMIT — rewritten files get
        # the new physical type while stats-skipped files keep the old
        # one, and (without evolve_schema) the commit's meta still
        # records the old schema, so every later read of the snapshot
        # fails with CANNOT_MERGE_SCHEMAS: a committed transaction that
        # leaves the table unreadable. evolve_schema admits NEW columns
        # but never a type change to an existing one (Delta's rule —
        # type changes go through overwrite).
        want_fields = StructType.fromJson(
            json.loads(state.meta["schema"])
        ).fields
        want_types = {
            f.name: _norm_nullability(f.dataType) for f in want_fields
        }
        mismatched = [
            f"{f.name} (batch {f.dataType.simpleString()} vs table "
            f"{want_types[f.name].simpleString()})"
            for f in updates.schema.fields
            if f.name in want_types
            and _norm_nullability(f.dataType) != want_types[f.name]
        ]
        if mismatched:
            raise ValueError(
                f"merge into {path}: update batch changes column type(s) "
                f"{', '.join(mismatched)} — cast the batch to the table "
                f"schema (type changes require overwrite)"
            )
        if not evolve_schema and {f.name for f in updates.schema.fields} != set(
            want_types
        ):
            raise ValueError(
                f"merge into {path}: update batch columns "
                f"{sorted(f.name for f in updates.schema.fields)} do not "
                f"match table columns {sorted(want_types)} — pass "
                f"evolve_schema=True to add columns"
            )
        # NULL-key update rows match nothing (pure inserts), so pruning
        # runs over the non-null key values. A key column with NO
        # non-null batch value (empty batch, all-NULL column) makes
        # every match impossible — the merge degenerates to a pure
        # insert and no stored file is touched at all.
        pruners = _key_pruners(updates, keys)
        if pruners is None:
            candidates: dict[str, dict] = {}
        else:
            _ensure_stats_decoded(state.files)
            candidates = {
                rel: e
                for rel, e in state.files.items()
                if _file_matches_keys(e, pruners)
            }
        if mode == "dv":
            result = _merge_dv_attempt(
                spark, updates, path, state, candidates, keys,
                version_col, evolve_schema, txn,
            )
            if result is not None:
                return result
            continue  # lost the commit race: retry from a fresh snapshot
        existing = _scan_files(
            spark, path, list(candidates.values()), state.meta
        )
        if evolve_schema:
            for col in updates.columns:
                if col not in existing.columns:
                    # brand-new column: absent from every stored file
                    existing = existing.withColumn(
                        col, F.lit(None).cast(updates.schema[col].dataType)
                    )
        merged = merge_frames(existing, updates, keys, version_col, evolve_schema)
        # No lineage cut needed for the write itself: the rewrite lands
        # in a FRESH data/ subdir, never the files it read (they stay
        # on disk until vacuum), so the same-path read-write hazard
        # materialize.py checkpoints around cannot occur here. With
        # CHECK constraints the validation pass is a second action, so
        # cut lineage once to avoid recomputing the merge.
        if state.meta.get("constraints"):
            merged = merged.localCheckpoint(eager=True)
            _enforce_constraints(merged, state.meta, f"merge into {path}")
        meta = dict(state.meta, schema=merged.schema.json())
        adds, staging = _write_data_files(
            spark, merged, path, meta.get("stat_cols", []),
            meta.get("cluster_by", []),
        )
        try:
            version = _commit_rmw(
                path, state.version, "merge", adds,
                list(candidates.values()),
                meta if evolve_schema else None, txn=txn,
            )
            return {
                "version": version,
                "files_rewritten": len(candidates),
                "files_skipped": len(state.files) - len(candidates),
            }
        except _Conflict:
            shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"merge into {path} lost the commit race {max_retries + 1} times"
    )


def _merge_dv_attempt(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    state: Snapshot,
    candidates: dict[str, dict],
    keys: list[str],
    version_col: str | None,
    evolve_schema: bool,
    txn: tuple[str, int] | None,
) -> dict | None:
    """One merge-on-read attempt against ``state``'s snapshot; returns
    the result dict, or None when the commit race was lost (the caller
    retries from a fresh snapshot).

    The candidate scan is SLIM — key + version columns + row location
    only, never the data columns — because replaced existing rows
    contribute nothing but their (file, position) to the outcome: the
    inserted rows all come from the update batch. That keeps the
    merge's read cost ∝ key-column bytes of the touched files and its
    write cost ∝ batch size + deleted positions, the property that
    makes a 0.1% scattered-key update affordable at 100 TB."""
    # dict.fromkeys: version_col may BE a key column — a duplicated
    # name in the slim select would make the window ambiguous
    keysel = list(dict.fromkeys(
        list(keys) + ([version_col] if version_col else [])
    ))
    existing = _scan_files(
        spark, path, list(candidates.values()), state.meta,
        with_location=True,
    )
    for c in keysel:
        if c not in existing.columns:
            # an evolve_schema batch may introduce the version column
            # itself: stored rows read it as NULL (sorts last under
            # F.desc, so the batch's rows win — the cow path's NULL
            # fill reaches the same outcome)
            existing = existing.withColumn(
                c, F.lit(None).cast(updates.schema[c].dataType)
            )
    existing = existing.select(*keysel, "__file", "__pos")
    if version_col is None:
        # every matched existing row is replaced; every update row
        # lands (merge_frames' anti-join semantics, re-expressed as
        # positions): NULL batch keys match nothing (semi-join NULL
        # semantics), so NULL-key existing rows survive untouched
        dv_pos = existing.join(
            updates.select(*keys).distinct(), keys, "left_semi"
        ).select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
        inserts = updates
    else:
        # merge_frames' highest-version-wins window, run over slim
        # existing rows + full update rows: the single winner per key
        # stays (existing winner → file untouched; update winner →
        # inserted); every other existing row's position is deleted
        tagged = existing.withColumn("__src", F.lit(0)).unionByName(
            updates.withColumn("__src", F.lit(1)),
            allowMissingColumns=True,
        )
        has_null_key = reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in keys]
        )
        w = Window.partitionBy(*keys).orderBy(
            F.desc(version_col), F.desc("__src")
        )
        ranked = tagged.where(~has_null_key).withColumn(
            "__rn", F.row_number().over(w)
        )
        dv_pos = ranked.where(
            (F.col("__rn") > 1) & (F.col("__src") == 0)
        ).select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
        inserts = (
            ranked.where((F.col("__rn") == 1) & (F.col("__src") == 1))
            .select(*updates.columns)
            .unionByName(updates.where(has_null_key))
        )
    # one evaluation of the position set: its counts steer the commit
    # (full-file drops vs dv re-adds) and its rows feed the dv write —
    # both must see the same set even where window tie-breaks are
    # nondeterministic
    dv_pos = dv_pos.localCheckpoint(eager=True)
    new_counts = {
        r["file"]: r["cnt"]
        for r in dv_pos.groupBy("file").agg(F.count("*").alias("cnt"))
        .collect()
    }
    if state.meta.get("constraints"):
        inserts = inserts.localCheckpoint(eager=True)
        _enforce_constraints(inserts, state.meta, f"merge into {path}")
    meta = None
    if evolve_schema:
        want = StructType.fromJson(json.loads(state.meta["schema"]))
        have = {f.name for f in want.fields}
        new_fields = [
            StructField(f.name, f.dataType, True)
            for f in updates.schema.fields
            if f.name not in have
        ]
        if new_fields:
            meta = dict(
                state.meta,
                schema=StructType(list(want.fields) + new_fields).json(),
            )
    insert_adds, ins_staging = _write_data_files(
        spark, inserts, path, state.meta.get("stat_cols", []),
        state.meta.get("cluster_by", []),
    )
    stagings = [ins_staging]
    removes: list[dict] = []
    dv_adds: list[dict] = []
    if new_counts:
        removes, dv_adds, dv_staging = _plan_dv_commit(
            spark, path, candidates, dv_pos, new_counts
        )
        stagings.append(dv_staging)
    try:
        version = _commit_rmw(
            path, state.version, "merge", dv_adds + insert_adds, removes,
            meta, txn=txn,
        )
    except _Conflict:
        for st in stagings:
            shutil.rmtree(st, ignore_errors=True)
        return None
    return {
        "version": version,
        "files_rewritten": 0,
        "files_skipped": len(state.files) - len(new_counts),
        "files_dv": len(dv_adds),
        "files_removed": len(removes) - len(dv_adds),
    }


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    bounds: dict[str, tuple] | None = None,
    max_retries: int = 5,
    mode: str = "cow",
) -> dict:
    """Transactional DELETE of rows where ``predicate`` is true.

    ``bounds`` ({col: (lo, hi)}) is the caller's pruning promise: every
    row the predicate can match lies inside it, so stats-disjoint files
    are carried forward untouched (the GDPR-delete-at-100TB shape —
    touch the files that can contain the subject, not the table).
    Returns {"version", "rows_deleted", "files_rewritten",
    "files_skipped"} (plus {"files_dv", "files_removed"} in dv mode).

    ``mode="cow"`` (default) rewrites every candidate file without its
    matching rows — write cost ∝ candidate-file mass. ``mode="dv"``
    records the matched rows' positions as deletion vectors instead:
    NOTHING is rewritten — a file losing all its live rows is dropped
    from the log, a file losing some gets a dv — so write cost is the
    position list alone, the merge-on-read shape a scattered
    GDPR-delete needs (see :func:`merge_upsert`'s mode notes;
    ``compact_table`` materializes dvs away). A dv delete with zero
    matches commits nothing at all."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"delete mode must be 'cow' or 'dv', got {mode!r}")
    for _ in range(max_retries + 1):
        state = _load_state(path)
        if bounds:
            _ensure_stats_decoded(state.files)
        candidates = {
            rel: e
            for rel, e in state.files.items()
            if not (bounds and _file_disjoint(e, bounds))
        }
        if not candidates:
            out = {
                "version": state.version,
                "rows_deleted": 0,
                "files_rewritten": 0,
                "files_skipped": len(state.files),
            }
            if mode == "dv":
                out.update(files_dv=0, files_removed=0)
            return out
        if mode == "dv":
            result = _delete_dv_attempt(
                spark, path, predicate, state, candidates
            )
            if result is not None:
                return result
            continue  # lost the commit race: retry from a fresh snapshot
        existing = _scan_files(
            spark, path, list(candidates.values()), state.meta
        )
        # NULL predicate keeps the row — DELETE removes only proven
        # matches, SQL's WHERE-on-DELETE semantics
        kept = existing.where(~F.coalesce(predicate, F.lit(False)))
        before = sum(_live_rows(e) for e in candidates.values())
        adds, staging = _write_data_files(
            spark, kept, path, state.meta.get("stat_cols", []),
            state.meta.get("cluster_by", []),
        )
        after = sum(e["rows"] for e in adds)
        try:
            version = _commit_rmw(
                path, state.version, "delete", adds,
                list(candidates.values()), None,
            )
            return {
                "version": version,
                "rows_deleted": before - after,
                "files_rewritten": len(candidates),
                "files_skipped": len(state.files) - len(candidates),
            }
        except _Conflict:
            shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"delete from {path} lost the commit race {max_retries + 1} times"
    )


def _delete_dv_attempt(
    spark: SparkSession,
    path: str,
    predicate: Column,
    state: Snapshot,
    candidates: dict[str, dict],
) -> dict | None:
    """One merge-on-read DELETE attempt against ``state``'s snapshot;
    None = commit race lost, caller retries. Matched rows' (file,
    position) pairs — predicate NULL keeps the row, SQL semantics —
    become the touched files' new deletion vectors (old positions
    unioned in, since an entry's dv is always the file's FULL deletion
    set); a file whose every live row matched is dropped outright."""
    matched = (
        _scan_files(
            spark, path, list(candidates.values()), state.meta,
            with_location=True,
        )
        .where(F.coalesce(predicate, F.lit(False)))
        .select(F.col("__file").alias("file"), F.col("__pos").alias("pos"))
    )
    # one evaluation: the counts steer the commit and the rows feed
    # the dv write — both must see the same set
    matched = matched.localCheckpoint(eager=True)
    new_counts = {
        r["file"]: r["cnt"]
        for r in matched.groupBy("file").agg(F.count("*").alias("cnt"))
        .collect()
    }
    if not new_counts:
        return {
            "version": state.version,
            "rows_deleted": 0,
            "files_rewritten": 0,
            "files_skipped": len(state.files),
            "files_dv": 0,
            "files_removed": 0,
        }
    removes, adds, staging = _plan_dv_commit(
        spark, path, candidates, matched, new_counts
    )
    try:
        version = _commit_rmw(
            path, state.version, "delete", adds, removes, None
        )
    except _Conflict:
        shutil.rmtree(staging, ignore_errors=True)
        return None
    return {
        "version": version,
        "rows_deleted": sum(new_counts.values()),
        "files_rewritten": 0,
        "files_skipped": len(state.files) - len(new_counts),
        "files_dv": len(adds),
        "files_removed": len(removes) - len(adds),
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_rows: int = 1_000_000,
    min_file_rows: int | None = None,
    max_retries: int = 5,
    dv_min_ratio: float = 0.05,
) -> dict:
    """Bin-pack small files into ~``target_file_rows``-row files —
    logical content unchanged, old snapshots still readable (until
    vacuum). The 100 TB small-files answer: streaming/merge commits
    fragment a table; compaction restores scan efficiency without a
    logical rewrite. Rewrite cost is proportional to the SMALL-FILE
    MASS, never the table: files at or above the selection threshold
    are carried forward by reference (identical relpaths), and when
    packing cannot reduce the file count at all the call is a no-op
    with no commit — so running it after every ingest batch is cheap
    when there is nothing to do (see ``stream_txlog_sink``'s
    ``compact_every``).

    ``min_file_rows`` separates the SELECTION threshold from the
    packing target (Delta OPTIMIZE's minFileSize/maxFileSize split):
    only files below it are rewritten, into ~``target_file_rows``-row
    bins. The default (= ``target_file_rows``) keeps the classic
    "everything undersized" behavior; maintenance loops on
    streaming-ingested tables should pass a lower threshold (e.g.
    ``target // 2``) so near-target files stop being rewritten on
    every pass.

    Compaction is also where deletion vectors get MATERIALIZED (the
    Delta ``OPTIMIZE``-purges-DVs behavior): any file whose dv covers
    at least ``dv_min_ratio`` of its rows is selected for rewrite even
    when its live size is above the threshold — and such files are
    rewritten even when packing cannot reduce the file count, because
    purging the dv (dropping the position anti-join from every future
    scan) is the point. Rewritten output never carries a dv."""
    threshold = target_file_rows if min_file_rows is None else min_file_rows
    for _ in range(max_retries + 1):
        state = _load_state(path)
        small = {
            rel: e
            for rel, e in state.files.items()
            if _live_rows(e) < threshold
        }
        purge = {
            rel: e
            for rel, e in state.files.items()
            if e.get("dv") and _dv_rows(e) >= dv_min_ratio * e["rows"]
        }
        selected = {**small, **purge}
        unchanged = {
            "version": state.version,
            "files_before": len(state.files),
            "files_after": len(state.files),
        }
        rows = sum(_live_rows(e) for e in selected.values())
        n = max(1, math.ceil(rows / target_file_rows))
        if not purge and (len(small) <= 1 or n >= len(small)):
            # without a dv to purge, packing must REDUCE the file
            # count to be worth the churn; with one, the rewrite pays
            # for itself by dropping the scan-time anti-join
            return unchanged
        df = _scan_files(
            spark, path, list(selected.values()), state.meta
        )
        adds, staging = _write_data_files(
            spark, df, path, state.meta.get("stat_cols", []),
            state.meta.get("cluster_by", []), num_files=n,
        )
        try:
            version = _commit_rmw(
                path, state.version, "compact", adds,
                list(selected.values()), None,
            )
            return {
                "version": version,
                "files_before": len(state.files),
                "files_after": len(state.files) - len(selected) + len(adds),
            }
        except _Conflict:
            shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"compaction of {path} lost the commit race {max_retries + 1} times"
    )


def _enforce_constraints(df: DataFrame, meta: dict, where: str) -> None:
    """CHECK-constraint validation (SQL semantics: a row violates only
    when the expression is FALSE — NULL passes). One aggregate job over
    the rows about to be written, same as the public Delta writers'
    validation pass; raises naming every violated constraint."""
    constraints: dict[str, str] = meta.get("constraints") or {}
    if not constraints:
        return
    aggs = [
        F.min(F.coalesce(F.expr(sql), F.lit(True))).alias(name)
        for name, sql in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    violated = [n for n in constraints if row[n] is False]
    if violated:
        raise ValueError(
            f"CHECK constraint(s) violated on {where}: "
            + ", ".join(f"{n} ({constraints[n]})" for n in violated)
        )


def add_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    check_sql: str,
    max_retries: int = 5,
) -> int:
    """Add a named CHECK constraint (a SQL boolean expression over the
    table's columns). EXISTING rows are validated first — a constraint
    the current data violates is refused, so a table's constraints are
    always trustworthy. Every subsequent append/merge/overwrite batch
    is validated before its commit."""
    for _ in range(max_retries + 1):
        state = _load_state(path)
        meta = dict(state.meta)
        cons = dict(meta.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists at {path}")
        cons[name] = check_sql
        meta["constraints"] = cons
        _enforce_constraints(
            read_table(spark, path, version=state.version),
            {"constraints": {name: check_sql}},
            f"existing rows of {path}",
        )
        try:
            return _commit_rmw(
                path, state.version, "add_constraint", [], [], meta
            )
        except _Conflict:
            continue
    raise ConcurrentWriteError(
        f"add_constraint on {path} lost the commit race {max_retries + 1} times"
    )


def drop_constraint(
    spark: SparkSession, path: str, name: str, max_retries: int = 5
) -> int:
    for _ in range(max_retries + 1):
        state = _load_state(path)
        meta = dict(state.meta)
        cons = dict(meta.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint {name!r} at {path}")
        del cons[name]
        meta["constraints"] = cons
        try:
            return _commit_rmw(
                path, state.version, "drop_constraint", [], [], meta
            )
        except _Conflict:
            continue
    raise ConcurrentWriteError(
        f"drop_constraint on {path} lost the commit race {max_retries + 1} times"
    )


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshots (the capability the
    public Delta Change Data Feed exposes), derived from the log alone:
    only files that left or joined the live set between the versions
    are read — physical-only rewrites (compaction, z-order optimize)
    carry their rows in BOTH sides and cancel in the multiset
    difference, so they produce no phantom changes.

    Output: the snapshot columns plus ``_change_type`` ∈ ``insert`` /
    ``delete`` / ``update_pre`` / ``update_post``. Update
    classification needs ``key_cols`` (stored table keys by default);
    with no keys available every change reports as insert/delete.

    Scale shape: cost ∝ churned files, not table size — the same
    pruning economics as the merge that produced the changes. The
    downstream use is incremental view maintenance: feed the changes to
    a consumer instead of re-reading the table."""
    state_to = _load_state(path, to_version)
    state_from = _load_state(path, from_version)
    if state_from.version > state_to.version:
        raise ValueError(
            f"from_version {state_from.version} is newer than "
            f"to_version {state_to.version}"
        )
    # a file's IDENTITY is its entry (path + deletion vector): a dv
    # change on an unchanged path is a real row-level change, and both
    # identities enter the diff — old side reads the file minus its
    # OLD dv, new side minus the NEW one, so exactly the newly-deleted
    # rows survive the multiset difference. Entries identical on both
    # sides contribute nothing and are never read.
    removed = [
        e
        for rel, e in sorted(state_from.files.items())
        if not _entry_same(state_to.files.get(rel), e)
    ]
    added = [
        e
        for rel, e in sorted(state_to.files.items())
        if not _entry_same(state_from.files.get(rel), e)
    ]

    def read_side(entries: list[dict]) -> DataFrame:
        # align both sides on the TO snapshot's schema so exceptAll
        # compares like columns even across schema evolution
        return _scan_files(spark, path, entries, state_to.meta)

    old = read_side(removed)
    new = read_side(added)
    deletes = old.exceptAll(new)
    inserts = new.exceptAll(old)
    keys = list(key_cols) if key_cols is not None else list(
        state_to.meta.get("key_cols", [])
    )
    if not keys:
        return deletes.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(inserts.withColumn("_change_type", F.lit("insert")))
    # a key present on both sides is an update (pre/post images);
    # NULL keys never pair, matching the merge's own semantics
    upd_keys = (
        deletes.select(*keys).where(
            reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
        ).distinct()
        .join(inserts.select(*keys).distinct(), keys, "inner")
    )
    pre = deletes.join(upd_keys, keys, "left_semi").withColumn(
        "_change_type", F.lit("update_pre")
    )
    dele = deletes.join(upd_keys, keys, "left_anti").withColumn(
        "_change_type", F.lit("delete")
    )
    post = inserts.join(upd_keys, keys, "left_semi").withColumn(
        "_change_type", F.lit("update_post")
    )
    ins = inserts.join(upd_keys, keys, "left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    return pre.unionByName(post).unionByName(ins).unionByName(dele)


def _zorder_expr(df: DataFrame, cols: Sequence[str], bits: int) -> Column:
    """Morton key over N arbitrary NUMERIC/temporal columns: equi-width
    quantize each to ``bits`` bits over its [min, max] (one tiny agg),
    then interleave natively — the multi-dimensional generalization of
    `functions/grid.py::zorder_key` (which fixes the domain to lat/lon).
    Equi-width is the scale-safe choice (no global rank window); under
    heavy skew the buckets are uneven and clustering is weaker but
    never wrong — stats pruning stays sound either way. NULLs sort to
    bucket 0 (they cluster together, which is what you want)."""
    n_cols = len(cols)
    if bits * n_cols > 63:
        raise ValueError(f"{bits} bits x {n_cols} cols exceeds a long")
    aggs = []
    for c in cols:
        num = F.col(c).cast("double")
        aggs += [F.min(num).alias(f"lo_{c}"), F.max(num).alias(f"hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    nb = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None or hi is None or hi <= lo:
            continue  # constant / all-NULL column adds no information
        num = F.col(c).cast("double")
        q = F.least(
            F.lit(nb).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor((num - F.lit(lo)) / F.lit(hi - lo) * F.lit(nb + 1))
                .cast("long"),
            ),
        )
        q = F.coalesce(q, F.lit(0).cast("long"))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, i).bitwiseAND(F.lit(1).cast("long")),
                    i * n_cols + j,
                )
            )
    return z


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_by: Sequence[str],
    target_file_rows: int = 1_000_000,
    bits: int | None = None,
    max_retries: int = 5,
) -> dict:
    """Rewrite the table clustered on a multi-column Z-order key, so
    footer min/max stats prune on EVERY listed column — the layout
    answer to multi-dimensional predicates that single-column range
    clustering (and hive dir partitioning) cannot serve. Content is
    logically unchanged; old snapshots stay readable until vacuum.
    Future commits keep recording stats for the zorder columns (they
    join the table's stat_cols)."""
    cols = list(zorder_by)
    if not cols:
        raise ValueError("zorder_by must name at least one column")
    if bits is None:
        bits = min(16, 63 // len(cols))
    for _ in range(max_retries + 1):
        state = _load_state(path)
        missing = [
            c for c in cols
            if c not in {
                f["name"]
                for f in json.loads(state.meta["schema"])["fields"]
            }
        ]
        if missing:
            raise ValueError(f"zorder columns {missing} not in table schema")
        if not state.files:
            return {"version": state.version, "files_before": 0,
                    "files_after": 0}
        df = _scan_files(
            spark, path, list(state.files.values()), state.meta
        )
        rows = sum(_live_rows(e) for e in state.files.values())
        n = max(1, math.ceil(rows / target_file_rows))
        keyed = df.withColumn("__z", _zorder_expr(df, cols, bits))
        shaped = (
            keyed.repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        meta = dict(state.meta)
        meta["stat_cols"] = list(
            dict.fromkeys(list(meta.get("stat_cols", [])) + cols)
        )
        adds, staging = _write_data_files(
            spark, shaped, path, meta["stat_cols"]
        )
        try:
            version = _commit_rmw(
                path, state.version, "optimize", adds,
                list(state.files.values()),
                meta,
            )
            return {
                "version": version,
                "files_before": len(state.files),
                "files_after": len(adds),
            }
        except _Conflict:
            shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"optimize of {path} lost the commit race {max_retries + 1} times"
    )


def restore_table(
    spark: SparkSession, path: str, version: int, max_retries: int = 5
) -> dict:
    """Roll the table's LATEST state back to ``version`` as a NEW
    commit (the public Delta ``RESTORE TABLE`` shape): the target
    snapshot's file list AND meta (schema, constraints, stat columns)
    become current again, history is preserved — the undone commits
    stay time-travelable, and the restore itself is one more commit
    that a reader can inspect in ``table_history``. No data is
    rewritten: files are re-referenced from the log, so restore cost is
    O(log), not O(table).

    Fails loudly (before committing) if any target-version file was
    already vacuumed. Caveat shared with public Delta: restore
    re-references files that only OLD snapshots held, so do not run it
    concurrently with a vacuum whose retention would collect those
    files — the vacuum age floor protects in-flight WRITES, not
    historical files. Returns {"version", "files_added",
    "files_removed"}."""
    for _ in range(max_retries + 1):
        state = _load_state(path)
        target = _load_state(path, version)
        if target.version == state.version:
            return {
                "version": state.version,
                "files_added": 0,
                "files_removed": 0,
            }
        root = _local(path)
        # identity = the full entry (path + deletion vector): a file
        # whose dv changed since the target version must be re-added
        # with the OLD dv (and its current identity removed) or the
        # restore would silently keep the newer deletion set
        changed = [
            rel
            for rel in sorted(target.files)
            if not _entry_same(state.files.get(rel), target.files[rel])
        ]
        missing = []
        for rel in changed:
            e = target.files[rel]
            if rel not in state.files and not os.path.exists(
                os.path.join(root, rel)
            ):
                missing.append(rel)
            dv = e.get("dv")
            if dv:
                try:
                    _dv_files_checked(root, dv)
                except FileNotFoundError:
                    missing.append(dv["path"])
        if missing:
            raise FileNotFoundError(
                f"cannot restore {path} to version {version}: "
                f"{len(missing)} data/dv file(s) were vacuumed "
                f"(first: {missing[0]})"
            )
        adds = [target.files[rel] for rel in changed]
        removes = [
            state.files[rel]
            for rel in sorted(state.files)
            if not _entry_same(state.files[rel], target.files.get(rel))
        ]
        # meta is restored too (schema/constraints as of the target
        # version) — a restore across a schema evolution must put the
        # old schema back or the snapshot would misread its files
        meta = target.meta if target.meta != state.meta else None
        try:
            new_version = _commit_rmw(
                path, state.version, "restore", adds, removes, meta
            )
            return {
                "version": new_version,
                "files_added": len(adds),
                "files_removed": len(removes),
            }
        except _Conflict:
            continue
    raise ConcurrentWriteError(
        f"restore of {path} lost the commit race {max_retries + 1} times"
    )


def vacuum_table(
    path: str,
    retain_versions: int = 1,
    min_age_seconds: float = 3600.0,
    dry_run: bool = False,
) -> int:
    """Delete data files referenced by NO retained snapshot (the last
    ``retain_versions`` versions). Trades time travel beyond the
    retained window for space; a read of a vacuumed version fails
    loudly on its missing file (never silently partial). Writers are
    safe by construction — an RMW transaction that loses the commit
    race re-runs from a FRESH snapshot, and the latest version is
    always retained — but a long-running READER pinned to an old
    version can fail mid-query if vacuum removes its files: size
    ``retain_versions`` to cover the longest reader, the version-count
    analog of Delta's time-based retention window.

    ``min_age_seconds`` protects IN-FLIGHT writers: a concurrent
    append/merge has staged data files on disk before its commit lands,
    and those files are not referenced by any snapshot yet — deleting
    them would let the writer commit adds pointing at nothing
    (committed data loss with no log-level conflict). Files younger
    than the floor are therefore never vacuumed (Delta's
    modification-time guard); size it above the longest write. Returns
    files removed; ``dry_run=True`` only counts the files the same
    retention would delete, touching nothing (VACUUM ... DRY RUN)."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    cutoff = time.time() - min_age_seconds
    latest = table_version(path)
    live: set[str] = set()
    live_dv: set[str] = set()
    for v in range(max(0, latest - retain_versions + 1), latest + 1):
        try:
            st = _load_state(path, v)
        except FileNotFoundError:
            continue  # version below the oldest checkpoint after log vacuum
        live |= set(st.files)
        # deletion-vector datasets referenced by a retained snapshot
        # are part of its read path — collecting one would break the
        # snapshot exactly like collecting a data file
        live_dv |= {
            e["dv"]["path"] for e in st.files.values() if e.get("dv")
        }
    dv_prefixes = tuple(p + os.sep for p in sorted(live_dv))
    root = _local(path)
    data_root = os.path.join(root, _DATA_DIR)
    removed = 0
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for name in filenames:
            fpath = os.path.join(dirpath, name)
            rel = os.path.relpath(fpath, root)
            try:
                if (
                    rel not in live
                    and not rel.startswith(dv_prefixes)
                    and os.path.getmtime(fpath) < cutoff
                ):
                    if not dry_run:
                        os.unlink(fpath)
                    removed += 1
            except FileNotFoundError:
                continue  # a losing writer's own cleanup raced us — fine
    for dirpath, dirnames, filenames in list(os.walk(data_root, topdown=False)):
        if dry_run:
            break
        if not dirnames and not filenames and dirpath != data_root:
            try:
                # the age floor applies to DIRECTORIES too: a concurrent
                # writer makedirs its staging dir before its first file
                # lands, and rmdir-ing it would fail that write
                if os.path.getmtime(dirpath) < cutoff:
                    os.rmdir(dirpath)
            except (FileNotFoundError, OSError):
                continue
    # checkpoint SIDECARS: a sidecar is live iff the checkpoint JSON
    # for its version still references it (put_replace re-checkpoints
    # orphan the previous sidecar of the same version). Only versions
    # with sidecar files present need their checkpoint read.
    ckpt_root = os.path.join(root, _CKPT_DIR)
    if os.path.isdir(ckpt_root):
        refs: dict[int, str | None] = {}
        for name in sorted(os.listdir(ckpt_root)):
            stem = name.split("-", 1)[0]
            if not stem.isdigit():
                continue
            v = int(stem)
            if v not in refs:
                try:
                    refs[v] = _read_ckpt_payload(path, v).get(
                        "files_parquet"
                    )
                except (OSError, ValueError, KeyError, TypeError):
                    refs[v] = None  # no/unreadable checkpoint: orphan
            fpath = os.path.join(ckpt_root, name)
            rel = f"{_CKPT_DIR}/{name}"
            try:
                if rel != refs[v] and os.path.getmtime(fpath) < cutoff:
                    if not dry_run:
                        os.unlink(fpath)
                    removed += 1
            except FileNotFoundError:
                continue
    return removed
