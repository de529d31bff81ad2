"""The VectorDB engine: named collections of (id, vector, metadata) rows.

Spark-native counterpart of the reference's ``minDB`` class
(``mindb/mindb.py``). Same data model — one logical table of
``(id BIGINT, vector ARRAY<FLOAT>, metadata JSON-string)`` per database
(SURVEY §1.1) — but storage is snapshot-versioned Parquet instead of LMDB,
and every operation is a DataFrame job.

Semantics preserved from the reference (SURVEY §2.3):
- ids are engine-assigned, strictly sequential, never reused
  (``faiss_utils.py:9-13``; ``max_id`` only grows)
- vectors are L2-normalized on ingest, unconditionally
  (``input_validation.py:96-99``) — dot product == cosine downstream
- dimension pinned by the first add; batch-atomic validation before any
  write (``mindb.py:175-178``)
- ``final_top_k`` clamps to the collection size (``mindb.py:379``);
  result ids unique
- deletes take effect immediately for search even while an index snapshot
  still references them (``mindb.py:459-461``) — our two-stage query joins
  candidates against the live vectors table
- staleness counters + watermark (``max_trained_id``) with the reference's
  update rules (``mindb.py:529-546``) drive the auto-train policy

Storage layout (``{base}/{name}/``):
- ``manifest.json``                      — the config.json analog (§1.2)
- ``vectors/v{N}/``                      — Parquet snapshots; appends add
  files to the current snapshot, deletes materialize snapshot N+1 as hard
  links to N's files plus a deletion file ``_deleted/ids.parquet`` (plain
  Parquet has no DELETE; on a Delta/Iceberg-backed deployment this class
  maps 1:1 onto table versions)
- ``index/v{M}/``                        — centroids/codes/artifacts per
  index build; the manifest points at the live one (atomic swap =
  manifest update, replacing the reference's double-buffered index swap,
  ``mindb.py:339-342``)
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
from collections import Counter
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mindb_spark.core import heuristics as H
from mindb_spark.core import validation as V

DEFAULT_BASE = os.path.expanduser("~/.mindb_spark")

VECTOR_SCHEMA = "id long, vector array<float>, metadata string"

# a version's deletion file: the ids removed from its (hard-linked) data
# files. Spark's directory listing skips ``_``-prefixed names, and so does
# _data_files, so the sidecar is never read as data
_DELETED_FILE = os.path.join("_deleted", "ids.parquet")
# remove() folds the deletion file into a compact() rewrite once it holds
# more than this fraction of the live rows: past it, every scan pays the
# anti-join and reads dead rows for more than the rewrite would cost
_FOLD_DELETED_FRACTION = 0.10


def _data_files(data_dir: str) -> list[str]:
    """Sorted data files of one version directory — exactly the files
    Spark's listing of the directory reads (it skips ``_``/``.``-prefixed
    names: the deletion file, ``_SUCCESS``, in-flight temp files)."""
    if not os.path.isdir(data_dir):
        return []
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _deleted_ids(data_dir: str) -> np.ndarray:
    """Sorted unique int64 ids in the version's deletion file (empty
    when it has none)."""
    import pyarrow.parquet as pq

    path = os.path.join(data_dir, _DELETED_FILE)
    if not os.path.exists(path):
        return np.empty(0, dtype=np.int64)
    col = pq.read_table(path, columns=["id"]).column("id")
    return col.to_numpy().astype(np.int64, copy=False)


def _read_rows(files: list[str], schema, lo: int, hi: int, gone=()):
    """The rows of parquet ``files`` with ``lo <= id <= hi`` and ``id``
    not in ``gone``, as one pyarrow table of ``schema``. Row groups whose
    footer min/max ``id`` misses the range are skipped. Each file's table
    is cast to ``schema``: Spark marks some columns ``not null`` that
    files written from Arrow do not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = []
    for path in files:
        with pq.ParquetFile(path) as pf:
            md = pf.metadata
            col = next(
                j for j in range(md.num_columns) if md.schema.column(j).path == "id"
            )
            groups = []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col).statistics
                if st is not None and st.has_min_max and (st.max < lo or st.min > hi):
                    continue
                groups.append(g)
            if not groups:
                continue
            table = pf.read_row_groups(groups, columns=schema.names)
        ids = table.column("id").to_numpy()
        keep = (ids >= lo) & (ids <= hi) & ~np.isin(ids, gone)
        if not keep.all():
            table = table.filter(pa.array(keep))
        parts.append(table.cast(schema))
    return pa.concat_tables(parts) if parts else schema.empty_table()


def _read_live(data_dir: str, columns: list[str], lo: int, hi: int):
    """The live rows of one data version with ``lo <= id <= hi`` and
    the ``VECTOR_SCHEMA`` ``columns``: its data files minus the ids in
    its deletion file, read driver-side with no Spark job."""
    import pyarrow as pa

    vector = pa.list_(pa.field("element", pa.float32()))
    types = {"id": pa.int64(), "vector": vector, "metadata": pa.string()}
    schema = pa.schema([(c, types[c]) for c in columns])
    return _read_rows(_data_files(data_dir), schema, lo, hi, _deleted_ids(data_dir))


def _l2_normalize_ingest_arrow(df: DataFrame) -> DataFrame:
    """Arrow-vectorized ingest normalization: (id, _vec, metadata) ->
    VECTOR_SCHEMA with ``vector`` unit-normalized float32.

    Same math as ``functions.vector.l2_normalize`` (double-precision
    norm, zero vectors pass through, float32 result) but one einsum +
    one divide per Arrow batch instead of per-element interpreted
    expressions — measured 38+ min -> 57 s at 1M x 768 (the HOF pair
    is ~1.5B interpreted evals there). The norm's summation order
    differs (SIMD-blocked vs sequential fold), which can cross a
    float32 rounding boundary: results are within ONE float32 ULP of
    the declarative route (pinned by test_add_dataframe_arrow_route_
    bitexact), not bit-identical.
    """
    from mindb_spark.arrowkit import fixed_width_matrix as _fwm
    from mindb_spark.arrowkit import list_array as _list_array

    def _norm_batches(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            m = _fwm(b.column(1)).astype(np.float64, copy=False)
            nrm = np.sqrt(np.einsum("ij,ij->i", m, m))
            nrm[nrm == 0.0] = 1.0
            varr = _list_array((m / nrm[:, None]).astype(np.float32))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), varr, b.column(2)], ["id", "vector", "metadata"]
            )

    return df.mapInArrow(_norm_batches, VECTOR_SCHEMA)


class _PathState:
    """Process-wide concurrency state, one per database path.

    Several handles may exist for one database in one process (cold-get
    races in the registry, reopen after LRU eviction) — if each held a
    PRIVATE lock/pin-set, two handles could reserve overlapping id
    ranges or rmtree a snapshot another handle's build had pinned. All
    handles for a path therefore share this object; combined with
    re-reading the manifest from disk at mutation entry, any number of
    handles behave exactly like one.
    """

    def __init__(self):
        # serializes manifest read-modify-write sections (id reservation,
        # counter updates) against concurrent threads / handles
        self.lock = threading.RLock()
        # serializes index MAINTENANCE (train vs index_tail): train blocks
        # on it; index_tail acquires it non-blocking and no-ops when a
        # build already holds it
        self.index_mutex = threading.Lock()
        # dirs pinned (counted: readers overlap) by reads outside the
        # lock — builds, tail encodes, resident snapshots: their removal
        # is deferred until the last pin is released (the reference's
        # deferred-delete machinery, fastapi.py:219-241, as a dir pin)
        self.pins: Counter = Counter()
        self.deferred_rm: list[str] = []
        # deletion epoch, bumped by tombstone_and_remove. Every handle
        # records the epoch it was created under; a handle whose epoch
        # is stale belongs to a DELETED incarnation of this name, and
        # its mutations/manifest write-backs are rejected — a doomed
        # background build's finalizer must not resurrect the deleted
        # directory as a zombie, nor clobber a recreated same-name
        # database's fresh manifest with its stale one
        self.epoch = 0


_PATH_STATES: dict[str, _PathState] = {}
_PATH_STATES_GUARD = threading.Lock()


def _state_for(path: str) -> _PathState:
    key = os.path.abspath(path)
    with _PATH_STATES_GUARD:
        st = _PATH_STATES.get(key)
        if st is None:
            st = _PATH_STATES[key] = _PathState()
        return st


def tombstone_and_remove(path: str) -> None:
    """Delete a database path safely w.r.t. in-flight builds.

    Bumps the path's deletion epoch (so any surviving handle — notably
    a doomed background build — can no longer mutate or write its stale
    manifest back; see ``_check_live`` / ``_save_manifest``), then
    removes the file tree immediately EXCEPT snapshot dirs pinned by an
    in-flight build: those are deferred to the build's own finalizer
    drain (the reference's deferred-delete machinery, fastapi.py:
    219-241, already applied to ``remove()``'s version swaps). The
    manifest goes first, so ``exists``/``list_dbs`` reflect the
    deletion at once and the name is immediately recreatable — a
    recreated database starts at a fresh data_version, never colliding
    with a deferred pinned snapshot.

    The tree removal happens while still holding ``st.lock``: a
    same-name recreate serializes its manifest write on the same lock,
    so it can only land after the removal completes — an unlocked
    removal could race the recreate and delete the fresh manifest/data
    dir it just wrote.
    """
    root = os.path.abspath(path)
    st = _state_for(path)
    with st.lock:
        st.epoch += 1
        try:
            os.remove(os.path.join(path, "manifest.json"))
        except OSError:
            pass
        pinned = {os.path.abspath(p) for p in st.pins}
        for p in sorted(pinned):
            if p not in st.deferred_rm:
                st.deferred_rm.append(p)
        if not pinned:
            shutil.rmtree(root, ignore_errors=True)
            return
        _remove_tree_keeping(root, pinned)


def _remove_tree_keeping(p: str, keep: set[str]) -> bool:
    """rmtree ``p`` but leave every dir in ``keep`` (and its ancestors)
    in place; returns True when ``p`` was fully removed."""
    ap = os.path.abspath(p)
    if ap in keep:
        return False
    if os.path.isdir(ap) and not os.path.islink(ap):
        if any(k.startswith(ap + os.sep) for k in keep):
            removed_all = True
            for child in os.listdir(ap):
                removed_all &= _remove_tree_keeping(
                    os.path.join(ap, child), keep
                )
            if removed_all:
                try:
                    os.rmdir(ap)
                except OSError:
                    removed_all = False
            return removed_all
        shutil.rmtree(ap, ignore_errors=True)
        return not os.path.exists(ap)
    try:
        os.remove(ap)
    except OSError:
        pass
    return not os.path.exists(ap)


class VectorDB:
    def __init__(
        self,
        spark: SparkSession,
        name: str,
        base_path: str = DEFAULT_BASE,
        vector_dimension: int | None = None,
        max_memory_usage: int | None = None,
    ):
        """``vector_dimension`` / ``max_memory_usage`` mirror the reference
        create params (``mindb.py:42``): the dimension pre-pins validation
        before the first add (otherwise inferred from it); the per-DB
        memory cap feeds training-strategy selection
        (``training_utils.py:75-88``). Default None = no driver cap, the
        Spark-native stance (the build is distributed; see
        ``heuristics.use_two_level_clustering``). Both are create-time
        settings: ignored when opening an existing database."""
        V.validate_database_name(name)
        self.spark = spark
        self.name = name
        self.path = os.path.join(base_path, name)
        # concurrency state shared by EVERY handle for this path (see
        # _PathState): lock, index mutex, snapshot pins
        self._pstate = _state_for(self.path)
        self._lock = self._pstate.lock
        self._index_mutex = self._pstate.index_mutex
        # driver-memoized dense index artifacts, keyed by index version —
        # the per-handle footprint the LRU registry (core/cache.py) tracks
        # and releases on eviction
        self._artifacts_memo: tuple[int, Any] | None = None
        # (mtime_ns, size)-keyed memo of the parsed on-disk manifest,
        # serving manifest_counters_lockfree without a parse per call
        self._counters_memo: tuple[tuple[int, int], dict] | None = None
        self._manifest: dict[str, Any] = {}
        # epoch capture AND load-or-create run under the shared path lock:
        # tombstone_and_remove holds the same lock across its epoch bump +
        # tree removal, so a same-name recreate either sees the fully
        # removed tree (fresh epoch, safe to write) or runs entirely
        # before the bump (its epoch goes stale and _save_manifest /
        # _check_live reject it) — never interleaved with the removal
        with self._lock:
            self._epoch = self._pstate.epoch
            self._init_manifest(name, vector_dimension, max_memory_usage)

    def _init_manifest(
        self,
        name: str,
        vector_dimension: int | None,
        max_memory_usage: int | None,
    ) -> None:
        if os.path.exists(self._manifest_path):
            self._load_manifest()
        else:
            if vector_dimension is not None and (
                isinstance(vector_dimension, bool)
                or not isinstance(vector_dimension, int)
                or vector_dimension <= 0
            ):
                raise V.ValidationError(
                    "vector_dimension must be a positive int, got "
                    f"{vector_dimension!r}"
                )
            if max_memory_usage is not None and (
                isinstance(max_memory_usage, bool)
                or not isinstance(max_memory_usage, int)
                or max_memory_usage < 0
            ):
                raise V.ValidationError(
                    "max_memory_usage must be a non-negative int, got "
                    f"{max_memory_usage!r}"
                )
            # recreating a name whose previous incarnation was deleted
            # while a build was in flight: that build's pinned snapshot
            # dir still exists (its rmtree is deferred to the build's
            # finalizer) — start at a fresh data_version so this
            # database's data dir never collides with the doomed one's
            data_version = 0
            vecs_root = os.path.join(self.path, "vectors")
            if os.path.isdir(vecs_root):
                stale = [
                    int(d[1:])
                    for d in os.listdir(vecs_root)
                    if d.startswith("v") and d[1:].isdigit()
                ]
                if stale:
                    data_version = max(stale) + 1
            self._manifest = {
                "name": name,
                "vector_dimension": vector_dimension,
                "max_memory_usage": max_memory_usage,
                "max_id": -1,
                "data_version": data_version,
                "index_version": None,
                "max_trained_id": -1,
                "num_vectors_trained_on": 0,
                "num_new_vectors": 0,
                "num_trained_vectors_removed": 0,
                "index_params": None,
                "n_buckets": 64,
            }
            os.makedirs(self._data_dir, exist_ok=True)
            self._save_manifest()

    # shared pin state: plain delegation so existing call sites (including
    # the drain's reassignment of `self._deferred_rm`)
    # operate on the per-path object, not a per-handle copy
    @property
    def _pins(self) -> Counter:
        return self._pstate.pins

    @property
    def _deferred_rm(self) -> list:
        return self._pstate.deferred_rm

    @_deferred_rm.setter
    def _deferred_rm(self, value: list) -> None:
        self._pstate.deferred_rm = value

    # ------------------------------------------------------------- paths
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "vectors", f"v{self._manifest.get('data_version', 0)}")

    @property
    def _index_dir(self) -> str | None:
        v = self._manifest.get("index_version")
        return None if v is None else os.path.join(self.path, "index", f"v{v}")

    def _load_manifest(self) -> None:
        with open(self._manifest_path) as f:
            self._manifest = json.load(f)

    def _refresh_manifest(self) -> None:
        """Re-read the manifest from disk. Call at MUTATION entry, under
        the shared path lock: handles are cheap and write-through, so
        several may exist for one database (cold-get races, reopen after
        LRU eviction) — disk is the single authority for id allocation
        and counters, and a stale in-memory copy here would re-issue ids
        another handle already wrote."""
        if os.path.exists(self._manifest_path):
            self._load_manifest()

    def _save_manifest(self) -> None:
        # a deleted database must stay deleted: a background train/tail
        # finalizer racing delete_db would otherwise os.makedirs the
        # removed path and write its stale in-memory manifest back —
        # resurrecting a zombie that list_dbs reports but whose data and
        # index files are gone, or clobbering a recreated same-name
        # database's fresh manifest
        if self._pstate.epoch != self._epoch:
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic manifest swap

    def _sync_manifest_from_disk(self) -> None:
        """Adopt the on-disk manifest when another HANDLE of this path
        wrote it. Call under the shared path lock.

        Query-entry counterpart of ``_refresh_manifest`` (mutations):
        multiple handles per path are supported (registry cold-get race,
        reopen after LRU eviction), and a query gate that reads only
        ``self._manifest`` would never see another handle's remove or
        retrain — e.g. the fused covering gate would keep resurrecting
        rows the live join drops, and a resident snapshot would never
        notice it went stale. Uses the (mtime, size, ino)-memoized disk
        read, so the steady-state cost is one stat()."""
        counters = self.manifest_counters_lockfree()
        if counters.get("name") is not None:
            # copy: mutators update self._manifest in place, and writing
            # into the memoized dict would poison later memo hits
            self._manifest = dict(counters)

    def _check_live(self) -> None:
        """Mutation-entry guard: reject work against a deleted database.

        A handle that outlives ``Engine.delete_db`` (user kept a
        reference, or a background thread holds one) must not recreate
        the path by appending parquet files to it — nor write into a
        recreated same-name database it no longer owns.
        """
        if self._pstate.epoch != self._epoch:
            raise V.ValidationError(
                f"database {self.name!r} has been deleted"
            )

    def manifest_counters_lockfree(self) -> dict:
        """Manifest snapshot WITHOUT taking the shared path lock.

        ``_save_manifest`` writes tmp + ``os.replace``, so a plain read
        never sees a torn file — at worst it is one mutation stale,
        which is fine for advisory consumers (the LRU registry's memory
        estimate). Crucial property: the LRU cache weighs databases
        while holding the cache-wide lock, and the path lock can be
        held across a Spark job (``index_tail``'s counter rebase), so
        nesting cache lock → path lock would stall every cache
        operation on every database behind one database's job.

        The parsed counters are memoized keyed by the manifest file's
        (mtime_ns, size, ino): the LRU registry re-weighs EVERY cached
        database on every put/check while holding the cache-wide lock,
        and an unmemoized weigh would pay a JSON parse per database per
        cache operation. A stat is ~100x cheaper than open+parse. The
        inode is the freshness carrier: ``os.replace`` installs a NEW
        inode per save, so two same-length saves inside one mtime
        granule (coarse-timestamp filesystems store whole seconds)
        still miss the memo — (mtime, size) alone could collide there.
        """
        try:
            sig = os.stat(self._manifest_path)
            key = (sig.st_mtime_ns, sig.st_size, sig.st_ino)
            memo = self._counters_memo
            if memo is not None and memo[0] == key:
                return memo[1]
            with open(self._manifest_path) as f:
                counters = json.load(f)
            self._counters_memo = (key, counters)
            return counters
        except (OSError, ValueError):
            # deleted mid-read or not yet written: fall back to the
            # in-memory copy. The copy itself is lock-free, so a mutator
            # resizing the dict mid-copy can raise RuntimeError
            # ("dictionary changed size during iteration") — retry, then
            # fall back to per-key reads (single-key dict gets are atomic
            # and never raise), NEVER the path lock: it can be held
            # across a Spark job and the cache-wide lock is held here
            m = self._manifest
            for _ in range(3):
                try:
                    return dict(m)
                except RuntimeError:
                    continue
            return {
                k: m.get(k)
                for k in (
                    "vector_dimension", "index_version", "index_params",
                    "num_vectors_trained_on", "num_trained_vectors_removed",
                    "num_new_vectors", "max_id", "max_trained_id",
                )
            }

    # ------------------------------------------------------------- state
    @property
    def vector_dimension(self) -> int | None:
        return self._manifest["vector_dimension"]

    @property
    def max_id(self) -> int:
        return self._manifest["max_id"]

    @property
    def is_trained(self) -> bool:
        return self._manifest["index_version"] is not None

    @property
    def index_params(self) -> dict[str, Any] | None:
        """Resolved training params of the live index (None if untrained)."""
        return self._manifest["index_params"]

    @property
    def max_memory_usage(self) -> int | None:
        """Per-DB memory cap for training-strategy selection (ref
        ``mindb.py:42``); None = uncapped (Spark-native default)."""
        return self._manifest.get("max_memory_usage")

    def _load_artifacts(self):
        """Memoized load of the trained index's dense artifacts.

        The npz is small (centroids + codebooks + projection) but loading
        it per query is wasted I/O; the memo is keyed by index version so
        a retrain naturally invalidates it. ``release()`` — called by the
        LRU registry on eviction (core/cache.py) — drops the memo, which
        is the driver-side footprint an open handle actually pins.
        """
        from mindb_spark.index.build import IndexArtifacts

        with self._lock:
            v = self._manifest["index_version"]
            if self._artifacts_memo is not None and self._artifacts_memo[0] == v:
                return self._artifacts_memo[1]
            idx_dir = self._index_dir
        art = IndexArtifacts.load(os.path.join(idx_dir, "artifacts.npz"))
        with self._lock:
            if self._manifest["index_version"] == v:
                self._artifacts_memo = (v, art)
        return art

    def release(self) -> None:
        """Drop driver-held index state (LRU-eviction hook; reference
        eviction closes the Faiss index, cache.py:27-28)."""
        with self._lock:
            self._artifacts_memo = None

    @property
    def num_vectors(self) -> int:
        if not self._has_data():
            return 0
        return self.vectors().count()

    @property
    def num_vectors_fast(self) -> int:
        """Live row count from manifest counters alone — no Spark job.

        Exact under the counter invariants (add: new++; remove: removed++/
        new--; train/tail: counters rebased against the live table), so
        policy checks on hot paths (the post-add auto-train trigger) stay
        O(1) like the reference's in-memory bookkeeping. Re-reads the
        manifest first (a JSON read, still no Spark job): another handle
        or process may have mutated the database since this one loaded —
        disk is the counter authority just as it is for id allocation.
        """
        with self._lock:
            self._refresh_manifest()
            m = self._manifest
            return (
                m["num_vectors_trained_on"]
                - m["num_trained_vectors_removed"]
                + m["num_new_vectors"]
            )

    @property
    def num_data_files(self) -> int:
        """Parquet file count of the live snapshot — an O(listdir) health
        metric for the small-file problem (streaming ingest appends one
        file per micro-batch per partition); feeds the auto-compaction
        threshold in the streaming sink."""
        return len(_data_files(self._data_dir))

    def _has_data(self) -> bool:
        return bool(_data_files(self._data_dir))

    def vectors(self) -> DataFrame:
        """The live vectors table (unit-normalized, id-addressed)."""
        return self._read_version(self._data_dir)

    def _read_version(
        self, data_dir: str, files: list[str] | None = None
    ) -> DataFrame:
        """The live rows of one data version: its data files minus the ids
        in its deletion file (a broadcast ``left_anti`` join on ``id``;
        without a deletion file the plan is the plain scan).

        ``files`` is the file list a build captured under the path lock
        (appends landing after it stay invisible); None reads the whole
        directory. A version's deletion file never changes once the
        version is live, so a build pinned on version N reads exactly N
        even after a remove has made N+1."""
        if not (_data_files(data_dir) if files is None else files):
            return self.spark.createDataFrame([], VECTOR_SCHEMA)
        df = self.spark.read.schema(VECTOR_SCHEMA).parquet(*(files or [data_dir]))
        deleted = os.path.join(data_dir, _DELETED_FILE)
        if os.path.exists(deleted):
            # read by file name: a path that itself starts with "_" reads
            # the same but makes Spark warn that it ignores it
            gone = self.spark.read.schema("id long").parquet(deleted)
            df = df.join(F.broadcast(gone), "id", "left_anti")
        return df

    def coverage_ratio(self) -> float:
        with self._lock:
            self._refresh_manifest()  # see num_vectors_fast
            m = self._manifest
            return H.coverage_ratio(
                m["num_vectors_trained_on"], m["num_new_vectors"], m["num_trained_vectors_removed"]
            )

    def info(self) -> dict[str, Any]:
        # counter-derived count: info must stay O(1) like the reference's
        # in-memory bookkeeping (a REST /info poll loop must not schedule
        # a Spark job per call); the counters are exact under the add/
        # remove/train invariants — see num_vectors_fast. One refresh
        # under the lock keeps every reported field from the same
        # manifest snapshot.
        with self._lock:
            self._refresh_manifest()
            return self._info_locked()

    def _info_locked(self) -> dict[str, Any]:
        m = self._manifest
        return {
            "name": self.name,
            "num_vectors": (
                m["num_vectors_trained_on"]
                - m["num_trained_vectors_removed"]
                + m["num_new_vectors"]
            ),
            "vector_dimension": self.vector_dimension,
            "trained": self.is_trained,
            "max_id": self.max_id,
            "max_trained_id": self._manifest["max_trained_id"],
            "num_vectors_trained_on": self._manifest["num_vectors_trained_on"],
            "num_new_vectors": self._manifest["num_new_vectors"],
            "num_trained_vectors_removed": self._manifest["num_trained_vectors_removed"],
            "trained_index_coverage_ratio": self.coverage_ratio(),
            "max_memory_usage": self.max_memory_usage,
            "index_params": self._manifest["index_params"],
            # post-train recall gate results (round 8): what an
            # unparameterized query actually runs with, and the measured
            # recall backing it — None until a gated train has run
            "measured_recall": self._manifest.get("measured_recall"),
            # realized IVF cell-size skew from the last build (round 11,
            # VERDICT r10 #6): {nonempty_cells, num_clusters,
            # max_cell_size, median_cell_size, skew_ratio} — None until
            # an IVF train has run
            "cell_stats": self._manifest.get("cell_stats"),
            "query_defaults": {
                "preliminary_top_k": self._default_prelim(),
                "n_probe": (
                    self._manifest.get("n_probe_default")
                    or (self._manifest.get("index_params") or {}).get("n_probe")
                ),
            },
        }

    # ------------------------------------------------------------- ingest
    def add(self, data: list, add_to_index: bool = False) -> list[int]:
        """Add ``[(vector, metadata_dict), ...]``; returns assigned ids.

        Driver-side batch API for reference parity (``mindb.py:162-229``).
        Bulk ingest should use :meth:`add_dataframe`.

        ``add_to_index`` mirrors the reference's ``add_to_new_faiss_index``
        flag (``mindb.py:162``, dual-write at ``:220-221``): when the DB is
        trained, the new rows are immediately PQ-encoded into the live
        index (see :meth:`index_tail`) instead of waiting in the
        exactly-searched tail.

        A point write runs no Spark job: the batch is one typed Arrow
        table written as ONE parquet file (see :meth:`_write_part`), and
        a resident snapshot pinned on this handle absorbs the rows in
        place (see :meth:`_write_through`).
        """
        self._check_live()
        vectors, metadata = V.validate_and_normalize_add(data, self.vector_dimension)
        n = vectors.shape[0]
        meta_json = [json.dumps(m) for m in metadata]
        # the lock makes id reservation + append + manifest update atomic
        # w.r.t. concurrent adds and a background training thread
        with self._lock:
            self._refresh_manifest()  # disk is the id-allocation authority
            fp_before = self._fingerprint()
            start = self.max_id + 1
            ids = np.arange(start, start + n, dtype=np.int64)
            self._write_part(ids, vectors, meta_json)
            self._manifest["vector_dimension"] = self._manifest["vector_dimension"] or int(vectors.shape[1])
            self._manifest["max_id"] = int(ids[-1])
            self._manifest["num_new_vectors"] += n  # counter rule, ref mindb.py:529-546
            self._save_manifest()
            self._write_through(
                fp_before,
                lambda snap, budget: snap.with_added(
                    self._manifest, ids, vectors, meta_json, budget
                ),
            )
        if add_to_index and self.is_trained:
            self.index_tail()
        return ids.tolist()

    def _write_part(
        self, ids: np.ndarray, vectors: np.ndarray, meta_json: list[str]
    ) -> None:
        """Append rows to the live snapshot as ONE parquet file, written
        driver-side from a typed Arrow table. Call under the path lock.

        The Spark route (ship the batch to the JVM, then a parallel
        parquet append) cost ~190 ms of job scheduling per 5-vector add
        on a 4-core host and left a file per task plus ``_SUCCESS``/crc
        files; this writes only the data file. ``vector`` is cast to float32 with
        numpy round-to-nearest — the same bits Spark's double->float
        cast stores. The file is written under a dot-prefixed temp name
        (Spark's file listing skips hidden files, and it does not end in
        ``.parquet``, so pinned file lists skip it too) and then
        ``os.replace``d into place, so a reader never sees a partial
        file."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from mindb_spark.arrowkit import list_array

        table = pa.Table.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                list_array(np.asarray(vectors, dtype=np.float32)),
                pa.array(meta_json, type=pa.string()),
            ],
            names=["id", "vector", "metadata"],
        )
        data_dir = self._data_dir
        os.makedirs(data_dir, exist_ok=True)
        name = f"part-add-{int(ids[0])}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(data_dir, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(data_dir, name))
        finally:
            if os.path.exists(tmp):  # only when the write failed
                os.remove(tmp)

    def _fingerprint(self) -> tuple:
        """Resident-snapshot fingerprint of the in-memory manifest."""
        from mindb_spark.core.resident import ResidentSnapshot

        return ResidentSnapshot.manifest_fingerprint(self._manifest)

    def _write_through(self, fp_before: tuple, apply) -> None:
        """Apply this handle's own write to its pinned resident snapshot.
        Call under the path lock, after the manifest save, with the
        fingerprint of the manifest read at mutation entry.

        A snapshot whose fingerprint equals ``fp_before`` held exactly
        the pre-write state, and every mutation of this path serializes
        on the lock, so the snapshot plus this write IS the post-write
        state: ``apply(snap, budget)`` builds it (no Spark scan) and it
        is installed at the post-write fingerprint. Otherwise — no
        snapshot, another handle's write not yet absorbed, or ``apply``
        declining (over budget, past the dead fraction) — the snapshot
        stays stale and the next query repairs it through the refresh /
        rebuild path, exactly as for another handle's write."""
        snap = getattr(self, "_resident", None)
        if snap is None or snap.fingerprint != fp_before:
            return
        updated = apply(snap, getattr(self, "_resident_budget", None))
        if updated is not None:
            self._resident = updated

    def add_dataframe(
        self,
        df: DataFrame,
        vector_col: str = "vector",
        metadata_col: str | None = None,
        metadata_is_json: bool = False,
    ) -> int:
        """Distributed ingest: validate/normalize/assign-ids/append in one job.

        Gapless sequential ids (the reference's semantic,
        ``faiss_utils.py:9-13``) WITHOUT a global sort: the batch is pinned
        with ``persist()``, ``monotonically_increasing_id`` yields
        (partition_id << 33) | row-offset-within-partition, a tiny
        per-partition count job computes cumulative offsets on the driver
        (one row per partition), and ``id = offset[pid] + local_offset``
        via a broadcast join. No shuffle, no single-task stage — every
        partition writes its id range independently, so ingest parallelism
        is the file-split count even for a 100 TB batch. The persist also
        pins partitioning + row order so the count, the id assignment and
        the manifest update all see ONE evaluation of a possibly
        non-deterministic source. Returns the number of rows added.
        """
        from mindb_spark.functions.vector import l2_normalize

        self._check_live()
        dim = self.vector_dimension
        # metadata is stored as a JSON object string (query() decodes it):
        # map/struct columns encode directly; scalar columns wrap as
        # {"<colname>": value}, matching the file readers' convention;
        # metadata_is_json=True declares the column already holds encoded
        # JSON (the sources.ingest_file contract) and stores it verbatim —
        # explicit, so a free-text column can never silently poison the
        # table and crash every later query()'s decode
        if metadata_col is None:
            meta = F.lit("{}")
        elif metadata_is_json:
            meta = F.col(metadata_col).cast("string")
        elif dict(df.dtypes)[metadata_col].startswith(("map", "struct")):
            meta = F.to_json(F.col(metadata_col))
        else:
            meta = F.to_json(F.struct(F.col(metadata_col)))
        src = df.select(
            F.col(vector_col).alias("_vec"),
            meta.alias("metadata"),
            F.monotonically_increasing_id().alias("_mid"),
        ).persist()
        try:
            first = src.select("_vec").first()
            if first is None:
                return 0
            if first[0] is None:
                raise V.ValidationError("Vector is null")
            incoming_dim = len(first[0])
            if dim is not None and incoming_dim != dim:
                raise V.ValidationError(
                    f"Vector is not the correct size. Expected size: {dim} "
                    f"Actual size: {incoming_dim}"
                )
            # batch-atomic null/dimension check before any write (under
            # ANSI mode size(NULL) is NULL, so nulls need their own test)
            vec = F.col("_vec")
            bad = src.where(vec.isNull() | (F.size(vec) != incoming_dim)).limit(1).count()
            if bad:
                raise V.ValidationError(
                    f"Vector is null or not the correct size. Expected size: "
                    f"{incoming_dim}"
                )

            # cumulative per-partition offsets: rows-per-partition is ONE
            # tiny aggregate (one output row per partition) collected to the
            # driver; ids are gapless because mid's low 33 bits are the
            # consecutive 0-based row number within its partition
            pid = F.shiftrightunsigned(F.col("_mid"), 33)
            local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
            counts = (
                src.groupBy(pid.alias("_pid")).agg(F.count("*").alias("_n"))
                .orderBy("_pid")
                .collect()
            )
            with self._lock:  # id-range reservation + append + manifest, atomic
                self._refresh_manifest()  # disk is the id-allocation authority
                start = self.max_id + 1
                offsets, base = [], start
                for r in counts:
                    offsets.append((r._pid, base))
                    base += r._n
                n = base - start
                off_df = self.spark.createDataFrame(offsets, "_pid long, _off long")
                out = src.withColumn("_pid", pid).join(
                    F.broadcast(off_df), "_pid"
                )
                # normalization route (round 8): Spark's higher-order
                # functions execute INTERPRETED (outside whole-stage
                # codegen) and evaluate per element — at 1M x 768 the
                # transform/aggregate pair is ~1.5B interpreted evals and
                # dominated ingest wall time. Past ~1M scalar elements the
                # Arrow kernel (one einsum + one divide per batch, list
                # column flattened zero-copy) wins by an order of
                # magnitude; tiny batches keep the declarative projection
                # and skip the Python-worker round trip entirely.
                if n * incoming_dim >= 1_000_000:
                    ordered = out.select(
                        (F.col("_off") + local).cast("long").alias("id"),
                        F.col("_vec"),
                        "metadata",
                    )
                    out = _l2_normalize_ingest_arrow(ordered)
                else:
                    out = out.select(
                        (F.col("_off") + local).cast("long").alias("id"),
                        l2_normalize("_vec").alias("vector"),
                        "metadata",
                    )
                out.write.mode("append").parquet(self._data_dir)
                self._manifest["vector_dimension"] = dim or incoming_dim
                self._manifest["max_id"] = start + n - 1
                self._manifest["num_new_vectors"] += n
                self._save_manifest()
            return n
        finally:
            src.unpersist()

    # --------------------------------------------------- streaming progress
    def get_stream_progress(self, key: str) -> int:
        """Last successfully ingested streaming batch_id for ``key``
        (checkpoint location), -1 if none — the idempotence watermark for
        the at-least-once ``foreachBatch`` sink."""
        return int(self._manifest.get("stream_progress", {}).get(key, -1))

    def set_stream_progress(self, key: str, batch_id: int) -> None:
        with self._lock:
            self._refresh_manifest()
            self._manifest.setdefault("stream_progress", {})[key] = int(batch_id)
            self._save_manifest()

    # ------------------------------------------------------------- delete
    def remove(self, ids) -> list[int]:
        """Delete by id; returns one entry per live row matched (the ids
        that actually existed). Unknown or already-deleted ids match
        nothing, and a call that matches nothing makes no new version.

        Plain Parquet has no DELETE, so removal materializes the next
        snapshot version — as a driver-side metadata operation with no
        Spark job (Delta/Iceberg deployments would issue ``DELETE FROM``
        instead). The live version's data files are pruned by their
        footer min/max ``id``, only the ``id`` column of the rest is read,
        and version N+1 is every data file of N hard-linked plus a
        deletion file ``_deleted/ids.parquet`` holding N's deleted ids and
        the new ones; readers drop them with an anti-join (see
        ``_read_version``) — the deletion vectors of Delta Lake (Armbrust
        et al., VLDB 2020). No data file is decoded or re-encoded. Once
        the deletion file holds more than ``_FOLD_DELETED_FRACTION`` of
        the live rows, :meth:`compact` folds it into a rewrite.

        Counter rules follow the reference (``mindb.py:529-546``):
        removing an id at or below the training watermark bumps
        ``num_trained_vectors_removed``; removing a newer id decrements
        ``num_new_vectors``.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        self._check_live()
        wanted = np.unique(V.validate_remove_ids(ids))
        if not wanted.size:
            return []
        with self._lock:
            self._refresh_manifest()
            fp_before = self._fingerprint()
            old_dir = self._data_dir
            files = _data_files(old_dir)
            stored = _read_live(old_dir, ["id"], wanted[0], wanted[-1])["id"].to_numpy()
            existing = stored[np.isin(stored, wanted)]
            if not existing.size:
                return []
            watermark = self._manifest["max_trained_id"]
            removed_trained = int((existing <= watermark).sum())

            next_version = self._manifest["data_version"] + 1
            next_dir = os.path.join(self.path, "vectors", f"v{next_version}")
            # a remove that failed before its manifest save left this
            # never-live directory behind
            shutil.rmtree(next_dir, ignore_errors=True)
            sidecar = os.path.join(next_dir, _DELETED_FILE)
            os.makedirs(os.path.dirname(sidecar))
            for f in files:
                dst = os.path.join(next_dir, os.path.basename(f))
                try:
                    os.link(f, dst)
                except OSError:  # a filesystem without hard links
                    shutil.copyfile(f, dst)
            deleted = np.union1d(_deleted_ids(old_dir), existing)
            pq.write_table(pa.table({"id": pa.array(deleted, pa.int64())}), sidecar)
            before = self._manifest
            self._manifest = after = dict(before, data_version=next_version)
            after["num_trained_vectors_removed"] += removed_trained
            after["num_new_vectors"] -= existing.size - removed_trained
            try:
                self._save_manifest()
            except BaseException:
                self._manifest = before  # the old version stays live
                raise
            self._write_through(
                fp_before,
                lambda snap, budget: snap.with_removed(
                    self._manifest, existing, int(self.vector_dimension), budget
                ),
            )
            self._retire(old_dir)
            if deleted.size > _FOLD_DELETED_FRACTION * self.num_vectors_fast:
                self.compact()
        return existing.tolist()

    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """Rewrite the vectors table as few id-sorted files; returns the
        new file count.

        Streaming ingest (``foreachBatch``) appends one parquet file per
        micro-batch, so a long-running stream accumulates thousands of
        small files that tax every scan's planning and IO — the classic
        small-file problem (Delta's ``OPTIMIZE`` analog). Compaction
        materializes the next snapshot version (same versioned-swap
        protocol as ``remove``, so in-flight training snapshot pins are
        honored) with ``repartitionByRange(id)`` + in-partition sort: the
        id column's min/max row-group stats become disjoint ranges, so
        id-range scans (the unindexed-tail search ``id > max_trained_id``,
        candidate fetches) prune files and row groups instead of reading
        everything. It rewrites through ``vectors()``, so the new version
        drops the rows of the old one's deletion file and has none.
        """
        self._check_live()
        with self._lock:
            self._refresh_manifest()
            current = self.vectors()
            # manifest-counter count (exact under the counter invariants):
            # sizing output files must not cost an extra full-table scan
            n = self.num_vectors_fast
            if n <= 0:
                return 0
            n_files = max(1, -(-n // int(target_rows_per_file)))
            next_version = self._manifest["data_version"] + 1
            next_dir = os.path.join(self.path, "vectors", f"v{next_version}")
            (
                current.repartitionByRange(n_files, F.col("id"))
                .sortWithinPartitions("id")
                .write.mode("overwrite")
                .parquet(next_dir)
            )
            old_dir = self._data_dir
            self._manifest["data_version"] = next_version
            self._save_manifest()
            self._retire(old_dir)
        return n_files

    def _retire(self, old_dir: str) -> None:
        """Delete a directory the manifest no longer points at, or defer
        it until its last pin is released. Call under the path lock."""
        if old_dir in self._pins:
            self._deferred_rm.append(old_dir)
        else:
            shutil.rmtree(old_dir, ignore_errors=True)

    @contextlib.contextmanager
    def _pinned_version(self):
        """Yield ``(manifest, data_dir, index_dir)`` for a read outside the
        path lock: a copy of the on-disk manifest and its two directories,
        pinned until the block exits (see :meth:`_retire`)."""
        with self._lock:
            self._sync_manifest_from_disk()
            manifest = dict(self._manifest)
            dirs = (self._data_dir, self._index_dir)
            self._pins.update(p for p in dirs if p is not None)
        try:
            yield (manifest, *dirs)
        finally:
            self._drain_deferred_and_reap(*dirs)

    # ------------------------------------------------------------- train
    def train(
        self,
        pca_dimension: int | None = None,
        opq_dimension: int | None = None,
        compressed_vector_bytes: int | None = None,
        use_two_level_clustering: bool | None = None,
        omit_opq: bool = True,  # reference default (training_params.py:7)
        num_clusters: int | None = None,  # heuristic override (ref mindb.py:231)
        force_flat: bool = False,
        seed: int = 42,
        covering: bool | None = None,
        recall_target: float | None = 0.97,
        auto_budget: bool = False,
        _remediation_step: int = 0,
    ) -> None:
        """(Re)build the index from a PINNED snapshot of the live table.

        Mirrors ``minDB.train`` (``mindb.py:231-344``): <5000 vectors (or
        ``force_flat``) keeps the exact path; otherwise builds IVF-PQ with
        the chosen strategy. Add-while-train safety (SURVEY O21, replacing
        the reference's unassigned-vector replay, ``fastapi.py:219-311``):

        - the build reads an explicit FILE LIST captured at train start, so
          files appended by concurrent adds are invisible to the build, and
          its version's deletion file, which a concurrent remove never
          changes (it makes the next version);
        - the watermark is the max id IN the snapshot, so rows added during
          the build stay above it and are exactly-searched as the tail;
        - final counters are recomputed from the live table against that
          watermark (not reset to zero), so concurrent adds/removes during
          the build are accounted exactly — the reference's
          add-while-training invariant (n=32000 → coverage 30000/32000).

        ``covering=True`` stores (vector, metadata) beside each PQ code so
        small query batches exact-rerank inside the pruned codes scan
        (``ivf.search`` fused path) instead of re-scanning the data table
        — interactive-latency trade: one extra on-disk copy of the table.

        ``recall_target`` (round 8): post-train recall self-check. The
        reference trains blind — its fixed ``preliminary_top_k=500``
        default (``mindb.py:368-373``) silently caps recall at 0.457@50
        on flat-spectrum 1M x 768 data (measured,
        ``tools/scale_probe_768d.py``), failing its own CI contract
        (``tests/integration/test_full_eval.py:75-78``, > 0.97@50)
        without any signal. After a successful IVF build this engine
        measures recall@50 on a bounded self-sample at the default
        budget; if below ``recall_target`` it re-measures at 2x/4x
        (reusing the exact ground truth) and records the working budget
        in the manifest as the query-time default, which ``query`` /
        ``query_df`` / the REST layer pick up when the caller does not
        pass an explicit ``preliminary_top_k``. ``None`` disables the
        gate (reference-blind behavior).

        ``auto_budget`` (round 9): closes the remediation loop. When the
        gate's full (4x prelim, 4x n_probe) escalation still misses
        ``recall_target``, the binding constraint is the TRAIN-time
        PCA/PQ budget — an information ceiling no query-time knob can
        lift (measured: 1M x 768 flat spectrum caps at 0.90@50 under
        the PCA-256/PQ-32 defaults; PCA 512 / PQ 64 reaches 0.978,
        tools/recall_gate_scale_probe.py). With ``auto_budget=True``
        the engine applies exactly the escalation the gate's warning
        names, bounded to two retrains: first double ``pca_dimension``
        (capped at the data dimension, kept divisible by the PQ block),
        then — if still short — double ``compressed_vector_bytes`` too.
        Explicit ``pca_dimension`` / ``compressed_vector_bytes``
        arguments are respected as the STARTING point; each retrain
        re-gates and records the measured defaults. Off by default:
        remediation doubles train cost and index size per step, a trade
        the operator opts into.
        """
        self._check_live()
        dim = self.vector_dimension
        if pca_dimension is not None or opq_dimension is not None or compressed_vector_bytes is not None:
            V.validate_train_params(dim, pca_dimension, opq_dimension, compressed_vector_bytes)
        # validate the override up-front, before the flat early-return, so a
        # bad value fails identically regardless of corpus size
        if num_clusters is not None and (
            isinstance(num_clusters, bool)
            or not isinstance(num_clusters, int)
            or num_clusters <= 0
        ):
            raise V.ValidationError(
                f"num_clusters must be a positive int, got {num_clusters!r}"
            )
        if dim is None:
            raise V.ValidationError("No vectors have been added to the database")
        if covering is None:
            # covering is a DB property, not a call-site flag: an
            # auto-retrain (maybe_auto_train) must preserve the layout the
            # user chose, or fused/resident point queries silently regress
            # to the full two-stage fetch after the first auto-retrain
            covering = bool(self._manifest.get("covering", False))

        # serialize against index_tail appends (see _index_mutex): a tail
        # append racing the version swap would encode with stale artifacts
        self._index_mutex.acquire()
        # pin the snapshot: explicit file list + dir pin against delete-swap
        with self._lock:
            self._refresh_manifest()
            snap_dir = self._data_dir
            files = _data_files(snap_dir)
            self._pins[snap_dir] += 1
        committed_version: int | None = None
        try:
            snapshot = self._read_version(snap_dir, files)
            stats = snapshot.agg(
                F.count("*").alias("n"), F.max("id").alias("smax")
            ).first()
            n = int(stats["n"])
            snap_max_id = int(stats["smax"]) if stats["smax"] is not None else -1

            if force_flat or n < H.FLAT_INDEX_CUTOFF:  # ref mindb.py:276
                with self._lock:
                    self._refresh_manifest()
                    self._manifest["index_version"] = None
                    self._manifest["index_params"] = None
                    self._manifest["cell_stats"] = None
                    self._clear_gate_defaults()
                    self._finalize_watermark(n, snap_max_id)
                return

            params = H.resolve_index_params(
                n, dim, pca_dimension, opq_dimension, compressed_vector_bytes,
                omit_opq=omit_opq, num_clusters=num_clusters,
            )
            two_level = (
                use_two_level_clustering
                if use_two_level_clustering is not None
                else H.use_two_level_clustering(n, dim, self.max_memory_usage)
            )
            from mindb_spark.index.build import build_index

            next_version = (self._manifest["index_version"] or 0) + 1
            index_dir = os.path.join(self.path, "index", f"v{next_version}")
            from mindb_spark.index.build import default_n_buckets
            n_buckets = default_n_buckets(params.num_clusters)
            build_index(
                snapshot, params, index_dir,
                use_two_level=two_level, seed=seed, n_buckets=n_buckets,
                # COVERING index: stores (vector, metadata) beside each
                # code so small-Q queries exact-rerank straight out of
                # the pruned codes scan (ivf.search fused path) — one
                # extra on-disk copy of the table, the classic covering
                # trade. The reference holds full vectors in Faiss RAM
                # alongside the pickled store (mindb.py), the same 2x.
                carry_cols=("vector", "metadata") if covering else (),
                total_rows=n, dim=dim,
            )
            with self._lock:
                if self._pstate.epoch != self._epoch:
                    # database deleted mid-build: discard our output —
                    # never promote it or write the stale manifest back
                    shutil.rmtree(index_dir, ignore_errors=True)
                    return
                self._refresh_manifest()
                # measured defaults belong to the index they were measured
                # ON: a retrain must drop them (the gate, when enabled,
                # re-measures and re-records against the new index; a
                # gate-disabled retrain must not inherit a stale boost)
                self._clear_gate_defaults()
                self._manifest["index_version"] = next_version
                self._manifest["n_buckets"] = n_buckets
                # manifests WITHOUT this key predate range bucketing and
                # are read/tail-written as "mod" (see build.cell_bucket)
                self._manifest["bucket_scheme"] = "range"
                self._manifest["covering"] = bool(covering)
                self._manifest["index_params"] = {
                    "num_clusters": params.num_clusters,
                    "n_probe": params.n_probe,
                    "pca_dimension": params.pca_dimension,
                    "opq_dimension": params.opq_dimension if not omit_opq else None,
                    "omit_opq": omit_opq,
                    "compressed_vector_bytes": params.compressed_vector_bytes,
                    "use_two_level_clustering": two_level,
                }
                # realized cell-size telemetry measured by the build
                # (VERDICT r10 #6) — surfaced through info()
                try:
                    with open(
                        os.path.join(index_dir, "cell_stats.json")
                    ) as _f:
                        self._manifest["cell_stats"] = json.load(_f)
                except (OSError, ValueError):
                    self._manifest["cell_stats"] = None
                self._finalize_watermark(n, snap_max_id)
                committed_version = next_version
            # old index versions are garbage; keep only the live one
            index_root = os.path.join(self.path, "index")
            with self._lock:
                for entry in os.listdir(index_root):
                    if entry != f"v{next_version}":
                        self._retire(os.path.join(index_root, entry))
        finally:
            self._index_mutex.release()
            self._drain_deferred_and_reap(snap_dir)
        if recall_target is None or committed_version is None:
            return
        # The index is COMMITTED at this point; the gate is a measurement
        # on top of it. A gate failure must not make train() appear failed
        # (round-9 ADVICE) — warn and serve with reference defaults.
        import warnings

        try:
            gate = self._recall_gate(
                recall_target, seed=seed, expected_version=committed_version
            )
        except Exception as exc:
            warnings.warn(
                f"post-train recall gate failed to run ({exc!r}); the index "
                "is committed and will serve with the reference's fixed "
                "query defaults (preliminary_top_k=500)",
                stacklevel=2,
            )
            return
        if not auto_budget or gate is None or gate["met"] or _remediation_step >= 2:
            return
        # auto_budget remediation: apply the escalation the gate's warning
        # names — the budget axis is train-time-only, so this is the one
        # fix a query-time knob cannot deliver. Bounded: at most two
        # retrains (2x pca, then 2x pq bytes), each step strictly grows
        # the budget or stops.
        with self._lock:
            self._refresh_manifest()
            ip = self._manifest.get("index_params") or {}
        cur_pca = int(ip.get("pca_dimension") or dim)
        cur_m = int(ip.get("compressed_vector_bytes") or 32)
        next_pca, next_m = cur_pca, cur_m
        if _remediation_step == 0:
            # keep pca a multiple of the PQ block (pq.fit requires
            # d % m == 0), capped at the data dimension
            cand = min(2 * cur_pca, dim)
            cand -= cand % cur_m
            if cand > cur_pca:
                next_pca = cand
        if next_pca == cur_pca:
            # pca already saturated (or step 1): widen the code instead —
            # but only if every divisibility contract survives (pq.fit
            # needs pca % m == 0; an explicit opq_dimension needs
            # opq % m == 0, validation.py:72)
            if next_pca % (2 * cur_m) == 0 and (
                opq_dimension is None or opq_dimension % (2 * cur_m) == 0
            ):
                next_m = 2 * cur_m
        if (next_pca, next_m) == (cur_pca, cur_m):
            warnings.warn(
                "auto_budget: no further PCA/PQ escalation is possible at "
                f"(pca_dimension={cur_pca}, compressed_vector_bytes={cur_m}) "
                f"for dimension {dim}; keeping the best measured defaults",
                stacklevel=2,
            )
            return
        warnings.warn(
            f"auto_budget: measured recall {gate['curve'][gate['chosen']]:.3f} "
            f"< target {recall_target}; retraining with pca_dimension="
            f"{next_pca}, compressed_vector_bytes={next_m} "
            f"(step {_remediation_step + 1}/2)",
            stacklevel=2,
        )
        self.train(
            pca_dimension=next_pca,
            opq_dimension=opq_dimension,
            compressed_vector_bytes=next_m,
            use_two_level_clustering=use_two_level_clustering,
            omit_opq=omit_opq,
            num_clusters=num_clusters,
            seed=seed,
            covering=covering,
            recall_target=recall_target,
            auto_budget=True,
            _remediation_step=_remediation_step + 1,
        )

    def _drain_deferred_and_reap(self, *unpin: "str | None") -> None:
        """Build-finalizer cleanup: release this build's snapshot pins,
        drain removals a concurrent ``remove``/``compact``/``delete_db``
        deferred on dirs no longer pinned, and — when the database was
        DELETED mid-run (stale epoch) — finish removing the tombstoned tree.
        ``tombstone_and_remove`` had to leave the pinned dirs (and any
        dirs a doomed build recreated afterwards) in place; without this
        reap they would survive as on-disk orphans. The reap checks
        ``manifest.json`` under the path lock — a same-name recreate
        writes its manifest while holding the same lock, so a recreated
        database's fresh tree can never be deleted here."""
        with self._lock:
            # Counter subtraction keeps only the dirs still pinned
            self._pstate.pins -= Counter(p for p in unpin if p is not None)
            pinned = {os.path.abspath(p) for p in self._pins}
            deferred = [d for d in self._deferred_rm if os.path.abspath(d) not in pinned]
            self._deferred_rm = [d for d in self._deferred_rm if d not in deferred]
            stale = self._pstate.epoch != self._epoch
        for d in deferred:
            shutil.rmtree(d, ignore_errors=True)
        if not stale:
            return
        with self._lock:
            if os.path.exists(self._manifest_path):
                return  # name recreated — the new incarnation owns the path
            keep = {os.path.abspath(p) for p in self._pins}
            _remove_tree_keeping(os.path.abspath(self.path), keep)

    def _finalize_watermark(self, n_trained: int, snap_max_id: int) -> None:
        """Post-train counters, exact under concurrent mutation (ref
        mindb.py:329-337 extended): everything the snapshot covered is
        trained; live rows above the snapshot watermark are the new tail;
        snapshot rows no longer live were removed-while-training."""
        live_old, live_new = 0, 0
        if self._has_data():
            row = self.vectors().agg(
                F.count(F.when(F.col("id") <= snap_max_id, 1)).alias("old"),
                F.count(F.when(F.col("id") > snap_max_id, 1)).alias("new"),
            ).first()
            live_old, live_new = int(row["old"]), int(row["new"])
        self._manifest["max_trained_id"] = snap_max_id
        self._manifest["num_vectors_trained_on"] = n_trained
        self._manifest["num_new_vectors"] = live_new
        self._manifest["num_trained_vectors_removed"] = n_trained - live_old
        self._save_manifest()

    def index_tail(self) -> int:
        """Fold the unindexed tail into the trained index with the
        EXISTING artifacts — the reference's add-to-live-index path
        (``add(..., add_to_new_faiss_index)`` dual-write, mindb.py:220-221,
        batched add train.py:112-133): rows above the training watermark
        are assigned to the current centroids and PQ-encoded, moving them
        from the exactly-searched tail into the ANN path without a
        retrain. As in faiss, distribution drift since training degrades
        their cell fit; the coverage-ratio/auto-retrain policy still
        fires on delete churn, and a full retrain re-fits everything.

        One shuffle-free encode pass + a partitioned parquet append,
        serialized against retrains (a concurrent build — or another
        in-flight ``index_tail`` — makes this call a no-op returning 0;
        the retrain's own watermark recomputation covers the rows).
        The data snapshot is pinned like ``train()``'s, so concurrent
        remove/compact version swaps defer their directory deletion.
        Returns the number of rows indexed (0 when nothing postdates the
        watermark or the index is busy).
        """
        self._check_live()
        if not self.is_trained:
            raise V.ValidationError("index_tail requires a trained index")
        from mindb_spark.index.build import IndexArtifacts, encode_all

        # non-blocking: a concurrent retrain (or another index_tail) owns
        # the index — skip; the retrain's watermark recomputation covers
        # these rows itself, and callers can simply retry later
        if not self._index_mutex.acquire(blocking=False):
            return 0
        snap_dir = None
        idx_dir = None
        tail = None
        try:
            # pin the data snapshot (explicit file list + dir pin) so a
            # concurrent remove()/compact() version swap defers its rmtree
            # instead of deleting the files mid-encode — same discipline
            # as train()
            with self._lock:
                self._refresh_manifest()
                old_wm = self._manifest["max_trained_id"]
                new_wm = self.max_id
                if new_wm <= old_wm:
                    return 0
                snap_dir = self._data_dir
                files = _data_files(snap_dir)
                self._pins[snap_dir] += 1
                idx_dir = self._index_dir
                # pin the index dir too: a concurrent delete_db defers its
                # removal to this finalizer's drain instead of racing the
                # in-flight codes append (which would fail tasks mid-write
                # and could leave a recreated-orphan index tree behind)
                self._pins[idx_dir] += 1
                n_buckets = self._manifest["n_buckets"]
                # a covering index stores (vector, metadata) with each
                # code — the tail append must match that schema or later
                # fused reads see null vectors
                carry = (
                    ("vector", "metadata")
                    if self._manifest.get("covering") else ()
                )
                # tail rows must land in the same bucket layout the codes
                # table was WRITTEN with, or the reader's bucket partition
                # filter silently drops them (legacy tables are mod)
                bucket_scheme = self._manifest.get("bucket_scheme", "mod")
            if not files:
                return 0
            tail = (
                self._read_version(snap_dir, files)
                .where((F.col("id") > old_wm) & (F.col("id") <= new_wm))
                .persist()  # ONE scan feeds both the count and the encode
            )
            n_tail = tail.count()
            if n_tail:
                artifacts = IndexArtifacts.load(
                    os.path.join(idx_dir, "artifacts.npz")
                )
                codes = encode_all(
                    tail, artifacts, id_col="id", vector_col="vector",
                    n_buckets=n_buckets, carry_cols=carry,
                    bucket_scheme=bucket_scheme,
                )
                # epoch re-check under the lock immediately before the
                # append: tombstone_and_remove bumps the epoch and removes
                # the tree while holding the same lock, so a current epoch
                # here means no delete has completed; a delete STARTING
                # after this point defers the pinned idx_dir's removal to
                # this method's finalizer drain instead of racing the write
                with self._lock:
                    if self._pstate.epoch != self._epoch:
                        return 0  # deleted mid-run: no orphan codes
                # bound output files: a small tail writes ONE file per
                # touched bucket, not one per task x bucket (the codes
                # table has no compaction path short of a retrain)
                codes.coalesce(
                    max(1, min(32, n_tail // 500_000 + 1))
                ).write.mode("append").partitionBy("cluster_bucket").parquet(
                    os.path.join(idx_dir, "codes")
                )
            with self._lock:
                self._refresh_manifest()
                # everything up to new_wm is now indexed; rows added after
                # the snapshot (concurrent adds) form the new tail. Counters
                # are recomputed from the LIVE table exactly like a full
                # train's finalizer — a remove() racing the encode (its
                # decrement would otherwise be clobbered here) lands in
                # num_trained_vectors_removed instead of being lost, so
                # num_vectors_fast stays exact (it is load-bearing for
                # /info and the auto-train policy).
                live_old, live_new = 0, 0
                if self._has_data():
                    row = self.vectors().agg(
                        F.count(F.when(F.col("id") <= new_wm, 1)).alias("old"),
                        F.count(F.when(F.col("id") > new_wm, 1)).alias("new"),
                    ).first()
                    live_old, live_new = int(row["old"]), int(row["new"])
                trained_on = self._manifest["num_vectors_trained_on"] + n_tail
                self._manifest["max_trained_id"] = new_wm
                self._manifest["num_vectors_trained_on"] = trained_on
                self._manifest["num_trained_vectors_removed"] = trained_on - live_old
                self._manifest["num_new_vectors"] = live_new
                self._save_manifest()
            return n_tail
        finally:
            if tail is not None:
                tail.unpersist()
            self._index_mutex.release()
            if snap_dir is not None:
                self._drain_deferred_and_reap(snap_dir, idx_dir)

    def maybe_auto_train(self, **train_kwargs) -> bool:
        """Auto-train policy check (ref training_utils.py:148-188); returns
        True if a (re)train ran. Call after ingest batches — the Structured
        Streaming hook does exactly this in foreachBatch. Counter-derived
        count: the per-micro-batch policy check must not cost a Spark job
        (the reference's check is an in-memory dict lookup)."""
        n = self.num_vectors_fast
        if not self.is_trained:
            if H.needs_initial_training(n, self.is_trained, False):
                self.train(**train_kwargs)
                return True
            return False
        if H.needs_retraining(n, self.coverage_ratio(), False):
            self.train(**train_kwargs)
            return True
        return False

    # ------------------------------------------------------------- query
    # Selectivity routing for filtered queries on a TRAINED index. Below
    # the threshold, exact kNN over the filtered subset beats the probe:
    # the probe scans ~n_probe/num_clusters of the corpus (~37% at the
    # reference heuristics) ranking candidates the filter then mostly
    # discards, while the exact scan touches only sel*n rows. 5% keeps a
    # wide margin under that crossover (full-d float math costs more per
    # row than the ADC's m gathers). The boost cap bounds the stage-2
    # broadcast join fan-in per query (Q x prelim candidate rows).
    _FILTER_EXACT_SELECTIVITY = 0.05
    _FILTER_PRELIM_CAP = 100_000

    def _filter_selectivity(self, metadata_filter: str, filtered: DataFrame) -> float:
        """Fraction of live rows matching ``metadata_filter``, cached per
        (filter, data state): one column-pruned predicate count the first
        time a filter is seen, O(1) dict hits afterwards. The key carries
        every manifest counter a mutation moves, so any add/remove/train
        through any handle invalidates stale entries naturally."""
        m = self._manifest
        key = (
            metadata_filter, m.get("data_version"), m.get("max_id"),
            m.get("num_new_vectors"), m.get("num_trained_vectors_removed"),
        )
        cache = getattr(self, "_filter_sel_cache", None)
        if cache is None:
            cache = self._filter_sel_cache = {}
        if key not in cache:
            if len(cache) > 256:  # bound the handle-side memory
                cache.clear()
            cache[key] = filtered.count() / max(1, self.num_vectors_fast)
        return cache[key]

    def query_df(
        self,
        query_vectors,
        preliminary_top_k: int | None = None,
        final_top_k: int = 100,
        n_probe: int | None = None,
        metadata_filter: str | None = None,
    ) -> DataFrame:
        """Batch query: (query_id, id, metadata, cosine_similarity) DataFrame.

        query_ids are the 0-based positions of the input vectors. Defaults
        mirror the reference (prelim 500 / final 100, ``mindb.py:368``) —
        except ``preliminary_top_k=None`` resolves to the MEASURED budget
        the post-train recall gate recorded in the manifest (when the
        gate had to boost it; see ``train``), falling back to 500.

        ``metadata_filter`` is a SQL boolean expression over the row; the
        ``metadata`` column is the JSON string, so filters use
        ``get_json_object(metadata, '$.key')``. This is the reference's own
        declared next feature (README "Metadata"). Flat path: the filter is
        applied BEFORE scoring (exact pre-filtered kNN, filter pushed into
        the scan). Trained path: selectivity-aware routing —

        - the filter's match count is measured once per (filter, data
          state) with a column-pruned predicate scan and cached on the
          handle (an O(columns-of-the-filter) job, cheap next to a
          starved probe retry loop);
        - at or below ``_FILTER_EXACT_SELECTIVITY`` the query runs as
          EXACT kNN over the filtered subset (the flat O5 scan): the
          subset is small enough that full-precision scoring beats the
          probe, results are exact, and k rows come back whenever the
          subset holds k — a post-filtered probe would rank mostly-
          discarded candidates and silently starve below k;
        - above it the IVF path runs with ``preliminary_top_k`` boosted
          by 1/selectivity (capped at ``_FILTER_PRELIM_CAP`` to bound the
          stage-2 join fan-in) so ~``preliminary_top_k`` candidates
          survive the post-filter in expectation.

        The chosen route is recorded on the handle as
        ``_last_filter_route`` for probes/tests.
        """
        with self._lock:
            # pick up removes/retrains made through OTHER handles of this
            # path before evaluating the fused gate below (stat-memoized;
            # steady-state cost is one stat call)
            self._sync_manifest_from_disk()
        if preliminary_top_k is None:
            preliminary_top_k = self._default_prelim()
        qmat = V.validate_query_vectors(query_vectors, self.vector_dimension)
        queries = [(i, qmat[i]) for i in range(qmat.shape[0])]
        vectors = self.vectors()
        if metadata_filter is not None:
            vectors = vectors.where(F.expr(metadata_filter))

        if not self.is_trained:
            from mindb_spark.operators.topk import knn_batch

            hits = knn_batch(vectors, queries, final_top_k)
            return (
                hits.join(vectors.select("id", "metadata"), "id")
                .select("query_id", "id", "metadata", "cosine_similarity")
            )

        if metadata_filter is not None:
            sel = self._filter_selectivity(metadata_filter, vectors)
            if sel <= self._FILTER_EXACT_SELECTIVITY:
                from mindb_spark.operators.topk import knn_batch

                self._last_filter_route = ("exact", sel, None)
                hits = knn_batch(vectors, queries, final_top_k)
                return (
                    hits.join(vectors.select("id", "metadata"), "id")
                    .select("query_id", "id", "metadata", "cosine_similarity")
                )
            import math

            preliminary_top_k = min(
                int(math.ceil(preliminary_top_k / max(sel, 1e-9))),
                self._FILTER_PRELIM_CAP,
            )
            self._last_filter_route = ("boosted", sel, preliminary_top_k)

        from mindb_spark.index import ivf

        artifacts = self._load_artifacts()
        codes = self.spark.read.parquet(os.path.join(self._index_dir, "codes"))
        out = ivf.search(
            codes, vectors, artifacts, queries,
            preliminary_top_k=preliminary_top_k,
            final_top_k=final_top_k,
            n_probe=n_probe
            or self._manifest.get("n_probe_default")  # recall-gate boost
            or self._manifest["index_params"]["n_probe"],
            # None when no rows postdate the snapshot: skips the exact tail
            # search entirely (ids only grow, so max_id is the authority)
            max_trained_id=(
                self._manifest["max_trained_id"]
                if self.max_id > self._manifest["max_trained_id"]
                else None
            ),
            n_buckets=self._manifest["n_buckets"],
            bucket_scheme=self._manifest.get("bucket_scheme", "mod"),
            extra_cols=("metadata",),
            # the fused covering-rescore path reranks from the codes
            # table, which only equals the two-stage result while every
            # codes row is still live and unfiltered: a post-train
            # remove() leaves dead rows the stage-2 inner join would have
            # dropped, and a metadata_filter applies to the rerank join
            rescore_from_codes=(
                metadata_filter is None
                and self._manifest["num_trained_vectors_removed"] == 0
            ),
            # O(1) manifest counter: enables the cost-based fused-vs-
            # two-stage routing (estimated Arrow ship volume of the
            # covering scan vs stage 2's fixed shuffle overhead)
            approx_rows=int(self._manifest.get("num_vectors_trained_on") or 0)
            or None,
        )
        return out.select("query_id", "id", "metadata", "cosine_similarity")

    # ------------------------------------------------- resident serving
    def enable_resident_serving(self, max_bytes: int | None = 512 << 20) -> bool:
        """Pin a RAM-resident serving snapshot of the trained index
        (core/resident.py): point queries then run driver-side numpy —
        bit-identical results to the Spark path — instead of paying 4-6
        Spark stages of scheduling per query. This is the reference's own
        serving architecture (``mindb/mindb.py`` holds Faiss + vectors in
        RAM per open DB; its CI pins < 65 ms/query over REST,
        ``tests/integration/test_fastapi.py:194``); the Spark scan path
        remains the beyond-RAM scale path. Returns False (and stays on
        the Spark path) when untrained or over ``max_bytes``.

        Staying current: this handle's own ``add``/``remove`` are written
        through to the snapshot under the path lock (no read at all —
        see ``_write_through``). Writes through any other handle or
        process stale its fingerprint, and the next query repairs it
        from the files, no Spark job (tail re-read, tombstone mask) or,
        past the dead-fraction or budget limits, a full rebuild or disable."""
        from mindb_spark.core.resident import ResidentSnapshot

        # build OUTSIDE the path lock, on a pinned version: a large read
        # must not block concurrent add/remove/train. A mutation racing
        # the build leaves the snapshot stale at pin time — harmless,
        # because _resident_serve revalidates the fingerprint under the
        # lock before every serve and self-heals
        snap = ResidentSnapshot.build(self, max_bytes)
        with self._lock:
            self._resident = snap
            self._resident_budget = max_bytes
        return snap is not None

    def disable_resident_serving(self) -> None:
        with self._lock:
            self._resident = None

    def resident_info(self) -> dict | None:
        snap = getattr(self, "_resident", None)
        if snap is None:
            return None
        return {
            "rows": int(snap.ids.size),
            "tail_rows": int(snap.tail_ids.size),
            "masked_rows": (
                0 if snap.live_mask is None
                else int(snap.ids.size - snap.live_mask.sum())
            ),
            "bytes": snap.nbytes(),
            "fingerprint": list(snap.fingerprint),
        }

    # resident-vs-Spark batch routing: estimated ADC gather pairs above
    # which the Spark batch path (parallel scan, ~17M pairs/s measured at
    # 10M) beats the single-core resident serve (~3M pairs/s) plus its
    # missing ~1.5 s scheduling floor — breakeven ~5M pairs, rounded down
    _RESIDENT_MAX_PAIRS = 4_000_000

    def _resident_serve(self, preliminary_top_k: int, final_top_k: int,
                        q_count: int = 1):
        """Return a bound serve callable when the snapshot is (re)valid
        AND the batch is in the resident regime, else None (caller uses
        the Spark path).

        Staleness checks run under the handle lock, but the pinned file
        reads that resolve staleness (tail refresh / full rebuild) run
        OUTSIDE it — holding the shared path lock across a large read
        would block concurrent add/remove/train. The refreshed snapshot
        is adopted under the lock only if it is still current; when yet
        another mutation landed mid-refresh, this call serves via Spark
        and the next one retries (correctness never depends on the
        snapshot — it is a cache)."""
        from mindb_spark.core.resident import ResidentSnapshot

        with self._lock:
            snap = getattr(self, "_resident", None)
            if snap is None:
                return None
            # another handle's remove/retrain must stale the fingerprint
            self._sync_manifest_from_disk()
            # size routing BEFORE any refresh work: big batches belong to
            # the Spark path regardless of snapshot state
            k = max(1, snap.artifacts.num_clusters)
            est_pairs = q_count * snap.n_probe * max(
                1, (snap.ids.size + snap.tail_ids.size) // k
            )
            if est_pairs > self._RESIDENT_MAX_PAIRS:
                return None
            stale = (
                ResidentSnapshot.manifest_fingerprint(self._manifest)
                != snap.fingerprint
            )

        if stale:
            # lock-free file reads, cheapest repair first: adds-only ->
            # tail re-read; trained-row deletes -> tombstone mask (one
            # id-column read, big arrays shared); only a retrain or a
            # >10%-dead mask -> budgeted full rebuild (None when over
            # budget or untrained)
            budget = getattr(self, "_resident_budget", None)
            refreshed = snap.refresh_tail(self, max_bytes=budget)
            if refreshed is None:
                refreshed = snap.refresh_deletes(self, max_bytes=budget)
            if refreshed is None:
                refreshed = ResidentSnapshot.build(self, budget)
            with self._lock:
                if refreshed is None:
                    # over budget after a mutation: disable rather than
                    # rebuild-storm on every query
                    self._resident = None
                    return None
                self._sync_manifest_from_disk()
                if (
                    ResidentSnapshot.manifest_fingerprint(self._manifest)
                    == refreshed.fingerprint
                ):
                    self._resident = refreshed
                    snap = refreshed
                else:
                    return None  # raced again — Spark this time, retry next
        return lambda qmat: snap.query(
            qmat, preliminary_top_k=preliminary_top_k, final_top_k=final_top_k
        )

    def query_batch_local(
        self,
        query_vectors,
        preliminary_top_k: int | None = None,
        final_top_k: int = 100,
        metadata_filter: str | None = None,
    ) -> list[dict] | None:
        """Serve a query batch from the resident snapshot when possible:
        a list of reference-shaped dicts in input order, or None when the
        resident path cannot serve this call (no snapshot, stale beyond
        repair, or a metadata_filter — filters run on the Spark path)."""
        if metadata_filter is not None:
            return None
        # a handle outliving Engine.delete_db must not keep serving the
        # dead DB from RAM (the Spark path fails loudly — the snapshot
        # would not); same guard every mutator uses
        self._check_live()
        qmat = V.validate_query_vectors(query_vectors, self.vector_dimension)
        if preliminary_top_k is None:
            with self._lock:
                self._sync_manifest_from_disk()
            preliminary_top_k = self._default_prelim()
        serve = self._resident_serve(
            preliminary_top_k, final_top_k, q_count=qmat.shape[0]
        )
        if serve is None:
            return None
        return serve(qmat)

    def query(
        self,
        query_vector,
        preliminary_top_k: int | None = None,
        final_top_k: int = 100,
        metadata_filter: str | None = None,
    ) -> dict[str, list]:
        """Single-query convenience with the reference's result shape:
        ``{ids, metadata, cosine_similarity}`` (``mindb.py:438-442``).

        Served from the RAM-resident snapshot when one is pinned and
        valid (see ``enable_resident_serving``) — bit-identical results,
        reference-class latency — otherwise via the Spark path."""
        local = self.query_batch_local(
            query_vector, preliminary_top_k, final_top_k, metadata_filter
        )
        if local is not None:
            r = local[0]
            return {
                "ids": r["ids"],
                "metadata": [json.loads(m) if m else {} for m in r["metadata"]],
                "cosine_similarity": r["cosine_similarity"],
            }
        rows = (
            self.query_df(
                query_vector, preliminary_top_k, final_top_k,
                metadata_filter=metadata_filter,
            )
            .orderBy(F.desc("cosine_similarity"), "id")
            .collect()
        )
        return {
            "ids": [r.id for r in rows],
            "metadata": [json.loads(r.metadata) if r.metadata else {} for r in rows],
            "cosine_similarity": [r.cosine_similarity for r in rows],
        }

    def _recall_sample_truth(
        self, n_queries: int, final_top_k: int, seed: int
    ) -> "tuple[np.ndarray, dict[int, set], list[int]] | None":
        """Bounded self-sample + exact ground truth for recall checks.

        One sample collect + ONE exact kNN batch (the expensive part),
        shared across budget probes so re-measuring at 2x/4x
        ``preliminary_top_k`` costs only the trained-path query.

        Leave-one-out de-bias (round 9, VERDICT r8 #2): queries are
        drawn from the STORED vectors, so each query's own id sits at
        rank 1 of both truth and results and can only ever match —
        inflating measured recall by up to 1/k (2% at k=50, material
        right at a 0.97 gate threshold). The query's own id is excluded
        from the truth set here and from the result set in
        ``_measured_recall``, making the measure exact recall of the
        OTHER top-(k-1) neighbors — the quantity a real (non-stored)
        query experiences."""
        n = self.num_vectors_fast
        sample = (
            self.vectors()
            .sample(fraction=min(1.0, (4 * n_queries + 64) / max(1, n)), seed=seed)
            .limit(n_queries)
            .collect()
        )
        if not sample:
            return None
        qmat = np.array([r.vector for r in sample], dtype=np.float64)
        qids = [int(r.id) for r in sample]
        from mindb_spark.operators.topk import knn_batch

        exact = knn_batch(
            self.vectors(), [(i, qmat[i]) for i in range(len(sample))], final_top_k
        )
        truth: dict[int, set] = {}
        for r in exact.collect():
            truth.setdefault(r.query_id, set()).add(r.id)
        for qi, own in enumerate(qids):
            truth.get(qi, set()).discard(own)
        return qmat, truth, qids

    def _measured_recall(
        self,
        qmat,
        truth: dict,
        preliminary_top_k: int,
        final_top_k: int,
        n_probe: int | None = None,
        qids: "list[int] | None" = None,
    ) -> float:
        """Trained-path recall against precomputed exact truth.

        ``qids`` — the stored id of each query row; excluded from the
        result sets to match the self-id-free truth sets (see
        ``_recall_sample_truth``)."""
        got: dict[int, set] = {}
        for r in self.query_df(
            qmat, preliminary_top_k=preliminary_top_k, final_top_k=final_top_k,
            n_probe=n_probe,
        ).collect():
            got.setdefault(r.query_id, set()).add(r.id)
        if qids is not None:
            for qi, own in enumerate(qids):
                got.get(qi, set()).discard(own)
        recs = [
            len(got.get(qi, set()) & truth.get(qi, set()))
            / max(1, len(truth.get(qi, set())))
            for qi in range(qmat.shape[0])
        ]
        return float(np.mean(recs))

    def _clear_gate_defaults(self) -> None:
        """Drop recall-gate manifest keys (call under the path lock when
        (re)writing the index pointer — see ``train``)."""
        for k in ("preliminary_top_k_default", "n_probe_default", "measured_recall"):
            self._manifest.pop(k, None)

    def _default_prelim(self) -> int:
        """Query-time ``preliminary_top_k`` default: the budget the
        post-train recall gate measured as sufficient (manifest), else
        the reference's fixed 500 (``mindb.py:368``)."""
        return int(self._manifest.get("preliminary_top_k_default") or 500)

    def _recall_gate(
        self,
        target: float,
        n_queries: int = 32,
        final_top_k: int = 50,
        seed: int = 7,
        expected_version: int | None = None,
    ) -> "dict | None":
        """Post-train recall self-check (see ``train``'s docstring).

        Recall has TWO binding constraints, and which one binds is a
        data property (both measured, PERF_NOTES rounds 7-8): on 1M x
        768 flat-spectrum the candidate budget starves first (0.457@50
        at prelim 500, 0.978 at 2000), while on small flat corpora the
        heuristic probe width does (6k x 64: 0.885@50 at EVERY prelim —
        the missed neighbors' cells were never probed). So the gate
        measures at the defaults, and when short probes each axis at
        its 4x extreme to find which one moves recall, then bisects the
        moving axis (2x before 4x, combo of both as the last resort) —
        at most five 16-query batches, all reusing one exact ground
        truth. The working (prelim, n_probe) pair is recorded in the
        manifest as the query-time default. When even the combo misses,
        the best pair is recorded anyway and the gap surfaced loudly —
        a silent low-recall index is the defect this gate exists to
        prevent (the reference ships one: its fixed defaults fail its
        own >0.97@50 CI contract on flat-spectrum data with no signal,
        ``mindb.py:368-373`` vs ``tests/integration/test_full_eval.py``).

        ``n_queries=32`` (round 9, up from 16): halves the estimator's
        standard error near the 0.97 threshold; each measurement is ONE
        batched Spark job either way, so 32 queries cost ~the same wall
        time as 16 — which is also why no intra-measurement early-exit
        is needed. ``expected_version`` (round-9 ADVICE): the gate runs
        after the index mutex is released, so a concurrent retrain can
        swap the index between measurement and record; defaults are
        written only if the manifest still points at the version they
        were measured against (compare-and-swap under the path lock).
        Returns ``{"chosen", "curve", "met", "target", "recorded"}``.
        """
        st = self._recall_sample_truth(n_queries, final_top_k, seed)
        if st is None or not self.is_trained:
            return None
        qmat, truth, qids = st
        base = 500
        np0 = int(self._manifest["index_params"]["n_probe"])
        k = int(self._manifest["index_params"]["num_clusters"])
        measured: dict[tuple[int, int], float] = {}

        def meas(prelim: int, n_probe: int) -> float:
            key = (prelim, n_probe)
            if key not in measured:
                measured[key] = self._measured_recall(
                    qmat, truth, prelim, final_top_k, n_probe=n_probe, qids=qids
                )
            return measured[key]

        np4 = min(4 * np0, k)
        chosen = None
        if meas(base, np0) >= target:
            chosen = (base, np0)
        elif meas(4 * base, np0) >= target:
            chosen = (
                (2 * base, np0) if meas(2 * base, np0) >= target
                else (4 * base, np0)
            )
        elif np4 > np0 and meas(base, np4) >= target:
            np2 = min(2 * np0, k)
            chosen = (base, np2) if meas(base, np2) >= target else (base, np4)
        elif np4 > np0 and meas(4 * base, np4) >= target:
            chosen = (4 * base, np4)
        met = chosen is not None
        if chosen is None:
            chosen = max(measured, key=lambda p: (measured[p], -p[0], -p[1]))
            import warnings

            warnings.warn(
                f"post-train recall gate: measured recall@{final_top_k} "
                f"{measured[chosen]:.3f} < target {target} even at "
                f"(preliminary_top_k, n_probe)={chosen} (curve: "
                f"{ {str(p): round(v, 3) for p, v in measured.items()} }); "
                "the PCA/PQ budget likely discards too much of this data's "
                "spectrum — consider a larger pca_dimension or "
                "compressed_vector_bytes at train time, or pass "
                "auto_budget=True to train() to apply that escalation "
                "automatically",
                stacklevel=3,
            )
        recorded = False
        with self._lock:
            self._refresh_manifest()
            live = self._manifest.get("index_version")
            # compare-and-swap (round-9 ADVICE): record only against the
            # index the measurements actually ran on — a retrain that
            # landed mid-gate bumped the version and will run (or already
            # ran) its own gate; writing here would attach THIS index's
            # budget to THAT index, the stale-default defect
            # _clear_gate_defaults exists to prevent
            if live is not None and (
                expected_version is None or live == expected_version
            ):
                self._manifest["preliminary_top_k_default"] = int(chosen[0])
                self._manifest["n_probe_default"] = int(chosen[1])
                self._manifest["measured_recall"] = {
                    "final_top_k": final_top_k,
                    "preliminary_top_k": int(chosen[0]),
                    "n_probe": int(chosen[1]),
                    "recall": round(measured[chosen], 4),
                    "target": target,
                }
                self._save_manifest()
                recorded = True
        return {
            "chosen": chosen, "curve": measured, "met": met,
            "target": target, "recorded": recorded,
        }

    def evaluate_recall(
        self,
        n_queries: int = 16,
        final_top_k: int = 50,
        preliminary_top_k: int | None = None,
        seed: int = 7,
    ) -> float:
        """Measured recall of the trained path vs exact kNN, on
        ``n_queries`` stored vectors sampled as queries.

        The reference's recall contract (>= 0.97 @ 50,
        ``tests/integration/test_full_eval.py:75-78``) is a property of
        (data spectrum x preliminary_top_k x corpus size), not of the
        engine alone: at a fixed candidate budget the slots per true
        neighbor shrink as the corpus grows, and on flat-spectrum data a
        lossy PCA lowers an information-theoretic ceiling NO IVF-PQ
        engine can beat (measured at 1M x 768 with the PCA-256 default:
        the exact-projected top-500 candidate set already caps recall@50
        at 0.676; preliminary_top_k = 2000 lifts the ceiling to 0.978 —
        tools/scale_probe_768d.py). The reference's fixed default of 500
        ("5-10x final_top_k", ``mindb.py:368-373``) encodes neither
        axis, so this method gives the operator the measured number and
        the knob: re-evaluate at 2-4x ``preliminary_top_k`` when it
        reads low, then pass the working budget at query time.

        Cost: one bounded sample collect, one exact kNN batch over the
        live corpus (the O5 scan), one trained query batch. Returns 1.0
        untrained (the flat path IS the exact scan).
        ``preliminary_top_k=None`` evaluates at the manifest default
        (the budget the post-train gate chose), i.e. what an
        unparameterized query actually runs with.
        """
        if not self.is_trained:
            return 1.0
        st = self._recall_sample_truth(n_queries, final_top_k, seed)
        if st is None:
            return 1.0
        qmat, truth, qids = st
        return self._measured_recall(
            qmat, truth, preliminary_top_k or self._default_prelim(), final_top_k,
            qids=qids,
        )

    # ------------------------------------------------- keyword / hybrid
    def keyword_query_df(
        self,
        terms: list[str],
        field: str = "text",
        final_top_k: int = 100,
        metadata_filter: str | None = None,
    ) -> DataFrame:
        """BM25 keyword search over a metadata JSON field.

        Beyond-reference capability: the reference stores metadata but can
        only filter on it; this scores it. Rows whose metadata lack the
        field are unmatchable (no tokens). Returns
        (id, metadata, n_matched_terms, score), top-k by (score desc, id).
        """
        from mindb_spark.operators.search import bm25_scores

        vectors = self.vectors()
        if metadata_filter is not None:
            vectors = vectors.where(F.expr(metadata_filter))
        docs = vectors.select(
            "id",
            "metadata",
            F.get_json_object("metadata", f"$.{field}").alias("_text"),
        ).where(F.col("_text").isNotNull())
        scored = bm25_scores(docs, terms, id_col="id", text_col="_text")
        return (
            scored.join(docs.select("id", "metadata"), "id")
            .orderBy(F.desc("score"), "id")
            .limit(final_top_k)
            .select("id", "metadata", "n_matched_terms", "score")
        )

    def hybrid_query_df(
        self,
        query_vector,
        terms: list[str],
        field: str = "text",
        final_top_k: int = 100,
        pool_k: int | None = None,
        rrf_k: int = 60,
        preliminary_top_k: int | None = None,
        metadata_filter: str | None = None,
    ) -> DataFrame:
        """Hybrid retrieval: RRF fusion of the vector ranking (exact or
        two-stage ANN, whatever the DB would use for ``query``) with the
        BM25 keyword ranking over a metadata field.

        ``pool_k`` is the per-retriever candidate depth (default
        ``2 * final_top_k``); on a trained index the ANN preliminary
        candidate stage is automatically deepened to cover the pool
        (``preliminary_top_k`` defaults to ``max(500, 2 * pool)``) so the
        vector list is never silently truncated below ``pool_k``.
        Returns (id, metadata, rrf_score, in_both) top-k by
        (rrf_score desc, id).
        """
        from pyspark.sql import Window

        from mindb_spark.operators.search import rrf_fuse

        pool = pool_k or 2 * final_top_k
        prelim = preliminary_top_k or max(500, 2 * pool)
        # both retrievers already return <= pool rows AND carry metadata —
        # rank them and coalesce metadata from whichever side saw the row,
        # so the vectors table is scanned exactly twice (once per
        # retriever), never a third time for a metadata re-join
        vtop = self.query_df(
            query_vector,
            preliminary_top_k=prelim,
            final_top_k=pool,
            metadata_filter=metadata_filter,
        )
        wv = Window.orderBy(F.desc("cosine_similarity"), "id")
        # eagerly materialized (<= pool rows each): fused ranks AND the
        # metadata coalesce both read these, and without pinning them each
        # consumer would re-run its whole retriever
        vrank = vtop.select(
            "id",
            F.row_number().over(wv).alias("rank"),
            F.col("metadata").alias("_vm"),
        ).localCheckpoint(eager=True)
        ktop = self.keyword_query_df(
            terms, field=field, final_top_k=pool, metadata_filter=metadata_filter
        )
        wk = Window.orderBy(F.desc("score"), "id")
        krank = ktop.select(
            "id",
            F.row_number().over(wk).alias("rank"),
            F.col("metadata").alias("_km"),
        ).localCheckpoint(eager=True)
        fused = rrf_fuse(
            vrank.select("id", "rank"), krank.select("id", "rank"),
            k=rrf_k, id_col="id",
        )
        meta = (
            vrank.select("id", F.col("_vm").alias("_m"))
            .unionAll(krank.select("id", F.col("_km").alias("_m")))
            .groupBy("id")
            .agg(F.first("_m").alias("metadata"))
        )
        return (
            fused.orderBy(F.desc("rrf_score"), "id")
            .limit(final_top_k)
            .join(meta, "id")
            .select("id", "metadata", "rrf_score", "in_both")
            .orderBy(F.desc("rrf_score"), "id")
        )

    # ------------------------------------------------------------- admin
    def delete(self) -> None:
        """Drop the database entirely (ref mindb.py:549-551); safe
        against an in-flight background build (see
        :func:`tombstone_and_remove`)."""
        tombstone_and_remove(self.path)

    @classmethod
    def exists(cls, name: str, base_path: str = DEFAULT_BASE) -> bool:
        return os.path.exists(os.path.join(base_path, name, "manifest.json"))
