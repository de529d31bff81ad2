"""RAM-resident serving snapshot: reference-parity point-query latency.

The reference serves every query from an in-RAM index held in its DB LRU
cache (``mindb/mindb.py`` keeps Faiss + vectors resident; its CI pins
< 65 ms/query over REST, ``tests/integration/test_fastapi.py:194``). The
Spark engine's scan path is the 100 TB-scale design — but a *point*
query through it pays 4-6 Spark stages of job scheduling (~1.2 s floor
measured on a warm 30k index, PERF_NOTES "REST latency probe"),
corpus-size-independent and irreducible from SQL.

This module makes the same trade the reference makes — RAM for serving
latency — WITHOUT giving up the Spark path, and runs no Spark job:

- ``ResidentSnapshot.build(db)`` reads the live version's files with
  pyarrow: the codes joined in numpy to the live rows (data files minus
  the deletion file, so deleted rows drop out exactly like stage 2's
  inner join), plus the unindexed tail, CSR-sliced by cell. RAM-bounded
  by an explicit byte budget checked BEFORE the read.
- ``snapshot.query(...)`` replays the scan kernel's exact math
  driver-side: same float32 decomposed-ADC accumulation order
  (d2 + bterm + per-subspace gathers, ``index/ivf.py adc_candidates``),
  same (adc_dist asc, id asc) preliminary cut, same float64 einsum
  exact rerank, same (cosine desc, id asc) final cut — bit-identical
  results to the Spark two-stage path by construction (pinned by
  ``tests/test_resident.py``).
- Staleness: the snapshot records the manifest counters it was built
  from. Writes through the handle that pinned it are applied in place
  (write-through, ``with_added`` / ``with_removed``): the handle already
  holds every row it writes, so under its path lock it installs a new
  snapshot — added rows appended to the tail, removed ids dropped from
  the tail and cleared in the tombstone mask — with no read at all.
  Writes from ANY OTHER handle (or process) stale the fingerprint and
  are repaired on the next query from the files: adds only grow the
  tail → ``refresh_tail`` re-reads just the tail block (row groups
  pruned by id); deletes of trained rows → ``refresh_deletes``
  recomputes the tombstone mask from the live id column (at 10M rows
  ~80 MB of ids vs the multi-GB reload a rebuild pays). Both paths
  share one budget rule and the ``_REBUILD_DEAD_FRACTION`` cut: past
  either, only a full rebuild (or disabling) follows, as after a
  retrain. ``VectorDB.query`` revalidates under the handle lock before
  every resident serve and falls back to the Spark path whenever that
  fails. Every read pins its version (``VectorDB._pinned_version``).

The snapshot is the SERVING-TIER cache for RAM-sized indexes (the only
regime the reference supports at all); beyond-RAM corpora stay on the
Spark scan path, which is the point of this engine.
"""

from __future__ import annotations

import glob
import os

import numpy as np

from mindb_spark import arrowkit as AK
from mindb_spark.index import pq as PQ


def _rows(live, rows: np.ndarray, d: int):
    """(ids, float64 (n, d) vectors, metadata) of rows ``rows`` of a
    ``_read_live`` table; no Arrow ``take`` of the vector column."""
    return (
        live.column("id").to_numpy()[rows],
        AK.gather_rows(live.column("vector"), rows, d, np.float64),
        live.column("metadata").take(rows).to_numpy(zero_copy_only=False),
    )


def _lex_top(primary: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k smallest by (primary asc, id asc), matching
    Spark's row_number() window exactly.

    argpartition pre-cut + exact lexsort of only the boundary set: a
    full lexsort over the ~n_probe x rows/cell candidate pool dominated
    the 10M point query (~60 ms of the ~170 ms total); the pre-cut is
    tie-exact because every row with primary <= tau (the kth partition
    value) survives into the final sort."""
    n = primary.size
    if n <= k:
        return np.lexsort((ids, primary))
    part = np.argpartition(primary, k - 1)
    tau = primary[part[k - 1]]
    cand = np.flatnonzero(primary <= tau)
    order = np.lexsort((ids[cand], primary[cand]))[:k]
    return cand[order]


class ResidentSnapshot:
    """Immutable driver-side snapshot of one trained DB (see module doc)."""

    # dead fraction above which refresh_deletes refuses and the caller
    # rebuilds: past this point the snapshot wastes enough RAM (and every
    # query wastes enough masked gather work) that the one-off reload wins
    _REBUILD_DEAD_FRACTION = 0.10

    def __init__(
        self,
        artifacts,
        n_probe: int,
        ids: np.ndarray,
        codes: np.ndarray,
        bterm: np.ndarray,
        cell_ids: np.ndarray,
        cell_off: np.ndarray,
        vectors: np.ndarray,
        metadata: np.ndarray,
        tail_ids: np.ndarray,
        tail_vectors: np.ndarray,
        tail_metadata: np.ndarray,
        fingerprint: tuple,
        live_mask: np.ndarray | None = None,
    ):
        self.artifacts = artifacts
        self.n_probe = n_probe
        self.ids = ids                  # (n,) int64, grouped by cell
        self.codes = codes              # (n, m) uint8
        self.bterm = bterm              # (n,) float32
        self.cell_ids = cell_ids        # (ncells,) distinct cells, ascending
        self.cell_off = cell_off        # (ncells+1,) CSR row offsets
        self.vectors = vectors          # (n, d) float64 (unit-normalized)
        self.metadata = metadata        # (n,) object
        self.tail_ids = tail_ids        # rows with id > max_trained_id
        self.tail_vectors = tail_vectors
        self.tail_metadata = tail_metadata
        self.fingerprint = fingerprint  # manifest counters at build time
        # tombstone mask over the indexed rows (None = all live): rows
        # deleted SINCE the build are masked out of every query without
        # touching the big shared arrays — identical results to a fresh
        # rebuild because masking preserves the CSR's (cell, id) order
        self.live_mask = live_mask

    # ------------------------------------------------------------ sizing
    @staticmethod
    def estimate_bytes(n: int, d: int, m: int, avg_meta: int = 256) -> int:
        """Pre-collect RAM estimate: ids + codes + bterm + float64 vectors
        + metadata strings (``avg_meta`` bytes/row assumed)."""
        return int(n * (8 + m + 4 + 8 * d + avg_meta))

    @staticmethod
    def estimate_tail_bytes(n: int, d: int, avg_meta: int = 256) -> int:
        """Pre-collect RAM estimate of a tail block (no codes/bterm)."""
        return int(n * (8 + 8 * d + avg_meta))

    @staticmethod
    def _tail_bound(manifest: dict) -> int:
        """Upper bound on the tail row count: ids grow monotonically, so
        (max_id - max_trained_id) bounds it — a corpus trained small then
        grown by streaming adds must not blow the budget through the
        tail."""
        return max(
            0, int(manifest.get("max_id", -1)) - int(manifest.get("max_trained_id", -1))
        )

    def _fits(self, manifest: dict, dim: int, max_bytes: int | None) -> bool:
        """The one budget rule of refresh and write-through, on the same
        conservative estimate basis as build()'s pre-collect gate, so
        enable/refresh/write-through/rebuild enforce ONE rule."""
        if max_bytes is None:
            return True
        est = self.estimate_bytes(
            int(self.ids.size), dim, int(self.codes.shape[1])
        ) + self.estimate_tail_bytes(self._tail_bound(manifest), dim)
        return est <= max_bytes

    def _evolve(
        self, manifest: dict, tail_ids, tail_vectors, tail_metadata, live_mask
    ) -> "ResidentSnapshot":
        """A NEW snapshot at ``manifest``'s fingerprint sharing the big
        indexed arrays (so a concurrently serving thread never observes
        torn state); only the tail block and the mask are replaced."""
        return ResidentSnapshot(
            self.artifacts, self.n_probe,
            self.ids, self.codes, self.bterm, self.cell_ids, self.cell_off,
            self.vectors, self.metadata, tail_ids, tail_vectors,
            tail_metadata, self.manifest_fingerprint(manifest),
            live_mask=live_mask,
        )

    def nbytes(self) -> int:
        base = (
            self.ids.nbytes + self.codes.nbytes + self.bterm.nbytes
            + self.vectors.nbytes + self.tail_ids.nbytes
            + self.tail_vectors.nbytes
        )
        if self.live_mask is not None:
            base += self.live_mask.nbytes
        meta = sum(len(s) if s else 0 for s in self.metadata)
        meta += sum(len(s) if s else 0 for s in self.tail_metadata)
        return int(base + meta)

    # ----------------------------------------------------- save / load
    # Multi-process serving support (round 9, VERDICT r8 #7): one
    # assemble, N serving processes. ``save`` writes each array as its
    # own .npy so ``load(mmap=True)`` maps the big blocks (vectors,
    # codes, ids) read-only — N workers then share ONE physical copy
    # through the OS page cache instead of N heap copies. Metadata is
    # the exception: it is an object array of JSON strings, so it is
    # pickled and materialized per process (~256 B/row vs the 8·d ≈ 6 KB
    # vector row at 768-d — the shared blocks are what matter).
    _ARRAYS = (
        "ids", "codes", "bterm", "cell_ids", "cell_off", "vectors",
        "tail_ids", "tail_vectors",
    )

    def save(self, path: str) -> None:
        """Persist the snapshot to a directory (arrays + artifacts +
        manifest counters) for out-of-process loading."""
        import json as _json

        os.makedirs(path, exist_ok=True)
        for name in self._ARRAYS:
            np.save(os.path.join(path, f"{name}.npy"), getattr(self, name))
        np.save(
            os.path.join(path, "metadata.npy"), self.metadata,
            allow_pickle=True,
        )
        np.save(
            os.path.join(path, "tail_metadata.npy"), self.tail_metadata,
            allow_pickle=True,
        )
        mask_path = os.path.join(path, "live_mask.npy")
        if self.live_mask is not None:
            np.save(mask_path, self.live_mask)
        elif os.path.exists(mask_path):
            # saving a mask-free snapshot over a directory that previously
            # held a masked one must not let load() resurrect the stale
            # tombstones and drop live rows (ADVICE r9)
            os.remove(mask_path)
        self.artifacts.save(os.path.join(path, "artifacts.npz"))
        with open(os.path.join(path, "meta.json"), "w") as f:
            _json.dump(
                {"n_probe": int(self.n_probe),
                 "fingerprint": list(self.fingerprint)},
                f,
            )

    @classmethod
    def load(cls, path: str, mmap: bool = True) -> "ResidentSnapshot":
        """Load a saved snapshot; ``mmap=True`` maps the numeric arrays
        read-only (page-cache-shared across processes)."""
        import json as _json

        from mindb_spark.index.build import IndexArtifacts

        mode = "r" if mmap else None
        arrs = {
            name: np.load(os.path.join(path, f"{name}.npy"), mmap_mode=mode)
            for name in cls._ARRAYS
        }
        meta = np.load(os.path.join(path, "metadata.npy"), allow_pickle=True)
        tail_meta = np.load(
            os.path.join(path, "tail_metadata.npy"), allow_pickle=True
        )
        mask_path = os.path.join(path, "live_mask.npy")
        mask = np.load(mask_path, mmap_mode=mode) if os.path.exists(mask_path) else None
        with open(os.path.join(path, "meta.json")) as f:
            info = _json.load(f)
        return cls(
            IndexArtifacts.load(os.path.join(path, "artifacts.npz")),
            int(info["n_probe"]),
            arrs["ids"], arrs["codes"], arrs["bterm"],
            arrs["cell_ids"], arrs["cell_off"], arrs["vectors"],
            meta, arrs["tail_ids"], arrs["tail_vectors"], tail_meta,
            tuple(info["fingerprint"]),
            live_mask=mask,
        )

    # ------------------------------------------------------------- build
    @staticmethod
    def manifest_fingerprint(manifest: dict) -> tuple:
        """Counters that change whenever the served result could change."""
        return (
            manifest.get("index_version"),
            manifest.get("max_id"),
            manifest.get("max_trained_id"),
            manifest.get("num_new_vectors"),
            manifest.get("num_vectors_trained_on"),
            manifest.get("num_trained_vectors_removed"),
            # n_probe is baked into the snapshot at assemble time, so a
            # recall-gate boost recorded after this snapshot was pinned
            # must stale it (prelim is per-call and needs no fingerprint)
            manifest.get("n_probe_default"),
        )

    @classmethod
    def build(cls, db, max_bytes: int | None) -> "ResidentSnapshot | None":
        """Read the snapshot from the files of ``db``'s live version.

        Returns None when untrained or when the pre-read estimate exceeds
        ``max_bytes`` — the caller stays on the Spark path. Cites the
        reference's resident-DB design: ``mindb/mindb.py`` (Faiss + vector
        store in RAM per open DB), budgeted by the same LRU cache this
        engine re-implements in ``core/cache.py``.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mindb_spark.core.database import _read_live, _read_rows
        from mindb_spark.index.build import IndexArtifacts

        with db._pinned_version() as (manifest, data_dir, index_dir):
            if manifest.get("index_version") is None:
                return None
            artifacts = IndexArtifacts.load(os.path.join(index_dir, "artifacts.npz"))
            d = int(manifest["vector_dimension"])
            m = int(artifacts.m)
            n_est = int(manifest.get("num_vectors_trained_on") or 0)
            # the tail is part of the snapshot
            est = cls.estimate_bytes(n_est, d, m) + cls.estimate_tail_bytes(
                cls._tail_bound(manifest), d
            )
            if max_bytes is not None and est > max_bytes:
                return None
            files = sorted(glob.glob(os.path.join(index_dir, "codes", "*", "*.parquet")))
            has_bterm = all("bterm" in pq.read_schema(f).names for f in files)
            cols = [("id", pa.int64()), ("cluster_id", pa.int32()),
                    ("code", pa.binary()), ("bterm", pa.float32())]
            schema = pa.schema(cols if has_bterm else cols[:3])
            # the watermark bound mirrors ivf.search: codes rows above it
            # belong to the tail block (a racing append)
            watermark = int(manifest["max_trained_id"])
            codes = _read_rows(files, schema, 0, watermark)
            live = _read_live(
                data_dir, ["id", "vector", "metadata"], 0, int(manifest["max_id"])
            )
        live_ids = live.column("id").to_numpy()
        # the join keeps the FIRST codes row of each id: the crash-dup
        # insurance both Spark paths carry (a codes append whose manifest
        # save never landed can duplicate an id, which would take two of
        # the final_top_k slots); a stable sort of the id-sorted join
        # gives (cluster_id, id) order
        _, crow, lrow = np.intersect1d(
            codes.column("id").to_numpy(), live_ids, return_indices=True
        )
        cells = codes.column("cluster_id").to_numpy().astype(np.int64)
        order = np.argsort(cells[crow], kind="stable")
        crow, lrow = crow[order], lrow[order]
        ids, vectors, metadata = _rows(live, lrow, d)
        tail = np.flatnonzero(live_ids > watermark)
        tail = tail[np.argsort(live_ids[tail], kind="stable")]
        return cls._from_arrays(
            artifacts,
            # the recall gate's measured boost (when recorded) is the
            # query-time default, same resolution as VectorDB.query_df
            int(
                manifest.get("n_probe_default")
                or manifest["index_params"]["n_probe"]
            ),
            ids,
            cells[crow],
            AK.gather_rows(codes.column("code"), crow, m, np.uint8),
            codes.column("bterm").to_numpy()[crow] if has_bterm else None,
            vectors, metadata, d, m, *_rows(live, tail, d),
            cls.manifest_fingerprint(manifest),
        )

    @classmethod
    def assemble_from_arrow(
        cls,
        artifacts,
        n_probe: int,
        table,
        d: int,
        m: int,
        has_bterm: bool,
        t_ids=None,
        t_vecs=None,
        t_meta=None,
        fingerprint: tuple = (),
    ) -> "ResidentSnapshot":
        """Build the snapshot from an Arrow table of codes-join rows
        (``cluster_id, id, code[, bterm], vector, metadata``, SORTED by
        (cluster_id, id)). The numeric arrays are zero-copy VIEWS over
        the table's buffers (the views keep the buffers alive), so peak
        driver memory is ~the data size, not the Row-object blowup."""
        n = table.num_rows
        # primitive columns: ChunkedArray.to_numpy concatenates in numpy
        # (no Arrow offset arithmetic); list/binary matrix columns go
        # through the chunk-safe flattener — combine_chunks on a 3M x
        # 768 vector column overflows the 32-bit list offsets (2.3B
        # child doubles > 2^31, observed as "offset overflow while
        # concatenating arrays" on the first 3M assemble)
        ids = table.column("id").to_numpy(
            zero_copy_only=False).astype(np.int64, copy=False)
        cells = table.column("cluster_id").to_numpy(
            zero_copy_only=False).astype(np.int64, copy=False)
        codes = AK.fixed_width_matrix(table.column("code"), m)
        vectors = AK.fixed_width_matrix(table.column("vector"), d).astype(
            np.float64, copy=False)
        metadata = (
            table.column("metadata").to_numpy(zero_copy_only=False)
            if "metadata" in table.column_names
            else np.array([None] * n, dtype=object)
        )
        bterm = (
            table.column("bterm").to_numpy(
                zero_copy_only=False).astype(np.float32, copy=False)
            if has_bterm else None
        )
        return cls._from_arrays(
            artifacts, n_probe, ids, cells, codes, bterm, vectors, metadata,
            d, m, t_ids, t_vecs, t_meta, fingerprint,
        )

    @classmethod
    def _from_arrays(
        cls, artifacts, n_probe, ids, cells, codes, bterm, vectors, metadata,
        d, m, t_ids, t_vecs, t_meta, fingerprint,
    ) -> "ResidentSnapshot":
        n = ids.size
        if bterm is None:
            # legacy codes tables: materialize the per-row cell term once
            # (query-independent; same math as the scan kernel's fallback)
            bterm = np.empty(n, dtype=np.float32)
            cb = artifacts.codebooks.astype(np.float64)
            dsub = cb.shape[2]
            for c in np.unique(cells):
                sel = cells == c
                cmat = artifacts.centroids[int(c)].reshape(m, dsub)
                B = (2.0 * np.einsum("jd,jkd->jk", cmat, cb)).astype(np.float32)
                bterm[sel] = PQ.adc_scan(codes[sel], B)

        # CSR over the cell-grouped rows
        seg = np.flatnonzero(np.r_[True, cells[1:] != cells[:-1]]) if n else np.array([], dtype=np.int64)
        cell_ids = cells[seg] if n else np.array([], dtype=np.int64)
        cell_off = np.r_[seg, n].astype(np.int64) if n else np.array([0], dtype=np.int64)

        empty_i = np.array([], dtype=np.int64)
        return cls(
            artifacts, n_probe,
            ids, codes, bterm, cell_ids, cell_off, vectors, metadata,
            t_ids if t_ids is not None else empty_i,
            t_vecs if t_vecs is not None else np.empty((0, d), dtype=np.float64),
            t_meta if t_meta is not None else np.array([], dtype=object),
            fingerprint,
        )

    def refresh_tail(self, db, max_bytes: int | None = None) -> "ResidentSnapshot | None":
        """Cheap revalidation when only the UNINDEXED part changed (adds,
        or removals of tail-only rows): re-read just the tail block (ids
        in ``(max_trained_id, max_id]``) from the version's files. Returns
        a NEW snapshot sharing the big indexed arrays (so a concurrently
        serving thread never observes torn tail state), or None when the
        indexed set itself changed (retrain / trained-row delete) OR the
        tail bound no longer fits ``max_bytes`` — caller falls back to a
        budgeted full rebuild (which re-checks the same bound)."""
        return self._refresh(db, max_bytes, deletes=False)

    def refresh_deletes(
        self, db, max_bytes: int | None = None
    ) -> "ResidentSnapshot | None":
        """Tombstone-mask revalidation when trained rows were DELETED
        (and any mix of adds/tail deletes happened alongside): the live
        ``id`` column at or below the watermark gives which snapshot rows
        are still live — at 10M rows ~80 MB of ids instead of multi-GB of
        vectors+metadata — and the tail block is re-read as in
        ``refresh_tail``. Only the mask and the tail are new; the big
        arrays are SHARED, so a serving thread never sees torn state.

        Returns None — caller falls back to a full rebuild — when the
        indexed set itself was re-trained (fingerprint positions 0/2/4),
        when the dead fraction passes ``_REBUILD_DEAD_FRACTION`` (the
        snapshot would waste RAM and per-query gather work), or when the
        budget no longer fits."""
        return self._refresh(db, max_bytes, deletes=True)

    def _refresh(self, db, max_bytes, deletes: bool) -> "ResidentSnapshot | None":
        from mindb_spark.core.database import _read_live

        with db._pinned_version() as (manifest, data_dir, _):
            # unchanged 0 index_version, 2 max_trained_id and
            # 4 num_vectors_trained_on: the snapshot's indexed rows are
            # still the index's rows. 5 num_trained_vectors_removed is
            # what the mask absorbs; 1/3 are tail growth
            same = (0, 2, 4) if deletes else (0, 2, 4, 5)
            fp = self.manifest_fingerprint(manifest)
            d = int(manifest["vector_dimension"])
            if any(fp[i] != self.fingerprint[i] for i in same) or not self._fits(
                manifest, d, max_bytes
            ):
                return None
            mask, watermark = self.live_mask, int(manifest["max_trained_id"])
            if deletes:
                # no assume_unique: if the vectors table ever carries a
                # duplicate id (the crash-dup shape), isin must stay exact
                live = _read_live(data_dir, ["id"], 0, watermark)
                mask = np.isin(self.ids, live.column("id").to_numpy())
                if self._too_dead(mask):
                    return None
                mask = None if mask.all() else mask
            tail = _read_live(
                data_dir, ["id", "vector", "metadata"], watermark + 1, int(manifest["max_id"])
            )
        order = np.argsort(tail.column("id").to_numpy(), kind="stable")
        return self._evolve(manifest, *_rows(tail, order, d), mask)

    def _too_dead(self, mask: np.ndarray) -> bool:
        """The mask's dead fraction passes ``_REBUILD_DEAD_FRACTION``."""
        dead = int(self.ids.size - mask.sum())
        return bool(self.ids.size) and dead / self.ids.size > self._REBUILD_DEAD_FRACTION

    # ----------------------------------------------------- write-through
    def with_added(
        self, manifest: dict, ids: np.ndarray, vectors: np.ndarray,
        metadata: list, max_bytes: int | None = None,
    ) -> "ResidentSnapshot | None":
        """Write-through of the pinning handle's own add: the rows join
        the tail exactly as ``refresh_tail`` would read them back —
        ``vectors`` are the stored float32 values, widened to float64;
        ``metadata`` the stored JSON strings. ``manifest`` is the
        post-write manifest. Returns None (the caller leaves the
        snapshot stale, so the query path refreshes or disables it) when
        the grown tail no longer fits ``max_bytes``."""
        if not self._fits(manifest, vectors.shape[1], max_bytes):
            return None
        return self._evolve(
            manifest,
            np.concatenate([self.tail_ids, np.asarray(ids, dtype=np.int64)]),
            np.concatenate([self.tail_vectors, vectors.astype(np.float64)]),
            np.concatenate([self.tail_metadata, np.array(metadata, dtype=object)]),
            self.live_mask,
        )

    def with_removed(
        self, manifest: dict, ids, dim: int, max_bytes: int | None = None
    ) -> "ResidentSnapshot | None":
        """Write-through of the pinning handle's own remove (``ids``: the
        ids that existed; ``manifest``: the post-write manifest): they
        leave the tail and are cleared in the tombstone mask — the mask
        ``refresh_deletes`` would compute from the next version.
        Returns None under refresh_deletes' own rules: past
        ``_REBUILD_DEAD_FRACTION`` or over ``max_bytes``."""
        if not self._fits(manifest, dim, max_bytes):
            return None
        gone = np.asarray(ids, dtype=np.int64)
        mask = self.live_mask
        hit = np.isin(self.ids, gone)
        if hit.any():
            mask = ~hit if mask is None else mask & ~hit
            if self._too_dead(mask):
                return None
        keep = ~np.isin(self.tail_ids, gone)
        return self._evolve(
            manifest, self.tail_ids[keep], self.tail_vectors[keep],
            self.tail_metadata[keep], mask,
        )

    # ------------------------------------------------------------- query
    def query(
        self,
        query_vectors: np.ndarray,
        preliminary_top_k: int = 500,
        final_top_k: int = 100,
        n_probe: int | None = None,
    ) -> list[dict]:
        """Serve a (Q, d) float batch; one reference-shaped dict per query
        (``{ids, metadata, cosine_similarity}``), bit-identical to a fresh
        rebuild / the Spark two-stage path on the same live set (same
        kernels, same cut orders). Caveat when serving through a DELETE
        tombstone mask with a saturated ``preliminary_top_k``: the Spark
        path lets deleted ids occupy stage-1 prelim slots (dropped only
        at the stage-2 join) while the mask prelim-cuts over live rows
        only, so the masked snapshot can return MORE live results — it
        matches a fresh rebuild, not the slot-starved Spark answer
        (pinned by tests/test_resident.py::test_tight_prelim_semantics).

        Small batches pin BLAS to one thread for the call: every GEMM
        on the point-query path is tiny (project (Q,d)x(d,p), centroid
        ranking (Q,p)x(p,k), per-subspace ADC tables), and a
        multi-threaded BLAS pool pays fork/join PER CALL — measured
        3.8 ms vs 0.39 ms for the 57.6k-shape centroid ranking alone
        (round 7). Larger batches amortize the fork and can genuinely
        use the threads (centroid ranking grows with Q x k), so they
        keep the process default."""
        qmat = np.asarray(query_vectors, dtype=np.float64)
        if qmat.ndim == 1:
            qmat = qmat[None, :]
        if qmat.shape[0] <= self._BLAS_PIN_MAX_Q:
            from mindb_spark.index.pq import _single_threaded_blas

            with _single_threaded_blas():
                return self._query_impl(
                    qmat, preliminary_top_k, final_top_k, n_probe
                )
        return self._query_impl(qmat, preliminary_top_k, final_top_k, n_probe)

    # point/small-batch regime bound for the BLAS pin above
    _BLAS_PIN_MAX_Q = 32

    def _query_impl(
        self,
        qmat: np.ndarray,
        preliminary_top_k: int,
        final_top_k: int,
        n_probe: int | None,
    ) -> list[dict]:
        from mindb_spark.index.ivf import rank_centroids_chunked

        if qmat.ndim == 1:
            qmat = qmat[None, :]
        norms = np.linalg.norm(qmat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        qnorm = qmat / norms
        n_probe = n_probe or self.n_probe

        proj = self.artifacts.project(qnorm)
        probed, probed_d2 = rank_centroids_chunked(
            proj, self.artifacts.centroids, n_probe
        )
        A = PQ.adc_query_tables(proj, self.artifacts.codebooks)  # (Q, m, 256)
        m = A.shape[1]

        out = []
        for qi in range(qnorm.shape[0]):
            # candidate rows of the probed cells, via the CSR slices
            pos = np.searchsorted(self.cell_ids, probed[qi])
            hit = (pos < self.cell_ids.size) & (
                self.cell_ids[np.minimum(pos, max(self.cell_ids.size - 1, 0))]
                == probed[qi]
            ) if self.cell_ids.size else np.zeros(probed.shape[1], dtype=bool)
            starts = self.cell_off[pos[hit]]
            ends = self.cell_off[pos[hit] + 1]
            counts = ends - starts
            total = int(counts.sum())
            if total:
                rows_idx = np.repeat(starts - np.r_[0, np.cumsum(counts)[:-1]], counts) + np.arange(total)
                # same float32 accumulation order as the scan kernel:
                # d = coarse-d2 gather; += bterm; += per-subspace gathers
                d = np.repeat(probed_d2[qi][hit].astype(np.float32), counts)
                if self.live_mask is not None:
                    # tombstone cut BEFORE scoring: identical to a fresh
                    # rebuild (masking preserves the CSR's (cell, id)
                    # order) and skips the dead rows' gather work
                    alive = self.live_mask[rows_idx]
                    rows_idx = rows_idx[alive]
                    d = d[alive]
                    total = int(rows_idx.size)
            if total:
                d += self.bterm[rows_idx]
                codes_rows = self.codes[rows_idx]
                for j in range(m):
                    d += A[qi, j][codes_rows[:, j]]
                cand_ids = self.ids[rows_idx]
                # float32 d sorts in the same order as its float64 cast
                # (monotone embedding), so the Spark path's float64
                # window cut is reproduced without the 4 MB astype copy
                keep = _lex_top(d, cand_ids, preliminary_top_k)
                kept_rows = rows_idx[keep]
                kept_ids = cand_ids[keep]
                # identical einsum signature to the Spark kernels
                # (ivf.rerank_exact / the fused scan) so the float64
                # reduction order — and thus the result — is bit-equal
                V = self.vectors[kept_rows]
                scores = np.einsum(
                    "ij,ij->i", V, np.broadcast_to(qnorm[qi], V.shape)
                )
                kept_meta = self.metadata[kept_rows]
            else:
                kept_ids = np.array([], dtype=np.int64)
                scores = np.array([], dtype=np.float64)
                kept_meta = np.array([], dtype=object)

            if self.tail_ids.size:
                t_scores = np.einsum(
                    "ij,ij->i",
                    self.tail_vectors,
                    np.broadcast_to(qnorm[qi], self.tail_vectors.shape),
                )
                t_keep = _lex_top(-t_scores, self.tail_ids, preliminary_top_k)
                kept_ids = np.r_[kept_ids, self.tail_ids[t_keep]]
                scores = np.r_[scores, t_scores[t_keep]]
                kept_meta = np.r_[kept_meta, self.tail_metadata[t_keep]]

            fin = _lex_top(-scores, kept_ids, final_top_k)
            out.append(
                {
                    "ids": [int(i) for i in kept_ids[fin]],
                    "metadata": list(kept_meta[fin]),
                    "cosine_similarity": [float(s) for s in scores[fin]],
                }
            )
        return out
