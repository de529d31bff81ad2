"""Two-stage ANN query over an IVF-PQ index.

The reference's defining query shape (``mindb/mindb.py:416-431``):
stage 1 probes a compressed index for ``preliminary_top_k`` candidate ids,
stage 2 fetches the candidates' full-precision vectors and exactly reranks
to ``final_top_k``. Spark re-expression:

stage 1:  rank centroids per query (driver numpy — the centroid table is
          small by construction, §heuristics) → probed (query, cluster)
          pairs → ``cluster_bucket``/``cluster_id`` filters PRUNE the codes
          scan (directory + row-group pruning) → decomposed ADC scoring in
          an Arrow UDF (per-query tables + a build-time per-row ``bterm``
          — no per-(query, cluster) tables; see ``pq.adc_query_tables``) →
          per-query partial top-k inside each batch → global per-query
          top-prelim_k window.

stage 2:  semi-join candidate ids against the vectors table (the
          reference's LMDB point-lookups become one hash join,
          ``lmdb_utils.py:48-62`` → ``join``) → exact dot product against
          the full-precision query → per-query top-final_k.

Rows added after the index snapshot (``id > max_trained_id`` — the
reference's watermark, ``mindb.py:332``) are searched exactly and unioned
into stage 2, which subsumes the reference's dual-write/replay machinery
(``fastapi.py:245-311``). Deleted rows drop out in stage 2's inner join
against the live vectors table, so deletes take effect immediately
(reference semantic §2.3.5) even though the codes table still holds them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mindb_spark.index import pq as PQ
from mindb_spark.index.build import IndexArtifacts


# centroid-axis chunk for driver-side ranking: a (Q, chunk) float64 block
# stays ~64 MB at Q=512, independent of the total cluster count
_RANK_CHUNK = 16384

# total candidate ids (Q x preliminary_top_k) at or below which search()
# materializes stage 1 and pushes the id set into the stage-2 vectors
# scan instead of joining against a full-table scan (the small-Q path)
_SMALL_FETCH_IDS = 4096

from mindb_spark.arrowkit import fixed_width_matrix, one_chunk

# Fused-vs-two-stage routing: a d-AWARE cost model (round 7). The fused
# kernel's marginal cost is Arrow-shipping the stored vector of every
# SCANNED row into Python (~4 s/GB measured on local[32] at d=64 and
# d=768); the two-stage alternative instead pays stage 2 — a FULL scan
# of the vectors table (candidate ids are id-uniform, nothing prunes
# it) plus ~1.3 s of fixed broadcast-join/dedup/window stage overhead.
# BOTH sides scale with n x d x 8, so a fixed ship-bytes cap cannot
# transfer across dimensions: the 256 MB cap measured at d=64 (1M
# crossover ~300-400 MB, tools/midq_curve_probe.py) routed the 1M x
# 768-d point query to two-stage at 2x the latency (412 MB ship vs a
# 5.9 GB stage-2 scan: fused 1.59 s, two-stage 3.10 s —
# tools/scale_probe_768d.py). Fuse when the modeled ship time
# undercuts the modeled stage-2 time; the model reproduces every
# measured decision at 30k/1M/10M x 64-d and 1M x 768-d.
_ARROW_SEC_PER_BYTE = 4e-9   # Arrow ship + rescore-kernel cost per byte
_SCAN_SEC_PER_BYTE = 0.8e-9  # JVM parquet scan cost per vectors-table byte
_STAGE2_FIXED_SEC = 1.3      # stage-2 join/dedup/window scheduling floor


def rank_centroids(
    artifacts: IndexArtifacts, queries: np.ndarray, n_probe: int
) -> np.ndarray:
    """(Q, n_probe) best cluster ids per projected query (L2, ascending)."""
    proj = artifacts.project(queries)  # (Q, p)
    return rank_centroids_chunked(proj, artifacts.centroids, n_probe)[0]


def rank_centroids_chunked(
    proj: np.ndarray, C: np.ndarray, n_probe: int, chunk: int = _RANK_CHUNK
) -> tuple[np.ndarray, np.ndarray]:
    """Top-``n_probe`` centroids per projected query, chunked over the
    centroid axis with a running merge.

    Returns ``(ids, d2)``: (Q, k) cluster ids ascending by squared L2
    distance (exact ties broken by lower cluster id) and the matching
    (Q, k) squared distances. Driver memory is O(Q x (n_probe + chunk)),
    NOT O(Q x C): at the reference heuristic's C = 200,000 clusters
    (1e8 vectors, ``mindb/utils/training_utils.py:5-9``) and Q = 512 a
    dense (Q, C) float64 matrix would be ~800 MB in one allocation —
    the chunked merge peaks under ~100 MB regardless of C.
    """
    nc, qn = C.shape[0], proj.shape[0]
    k = min(n_probe, nc)
    q2 = (proj**2).sum(axis=1, keepdims=True)
    rows = np.arange(qn)[:, None]
    best_d = np.empty((qn, 0), dtype=np.float64)
    best_i = np.empty((qn, 0), dtype=np.int64)
    for s in range(0, nc, chunk):
        Cc = C[s : s + chunk]
        d2c = q2 - 2.0 * proj @ Cc.T + (Cc**2).sum(axis=1)[None, :]
        cand_d = np.concatenate([best_d, d2c], axis=1)
        cand_i = np.concatenate(
            [
                best_i,
                np.broadcast_to(
                    np.arange(s, s + Cc.shape[0], dtype=np.int64)[None, :],
                    d2c.shape,
                ),
            ],
            axis=1,
        )
        if cand_d.shape[1] > k:
            part = np.argpartition(cand_d, kth=k - 1, axis=1)
            sel_d = np.take_along_axis(cand_d, part[:, :k], axis=1)
            sel_i = np.take_along_axis(cand_i, part[:, :k], axis=1)
            # exact ties straddling the partition cut would make the kept
            # set depend on argpartition's arbitrary choice (and thus on
            # the chunk size) — re-select those rows with a full
            # lexicographic (distance, id) sort. Real float distances tie
            # essentially never, so the loop body is cold.
            tau = np.take_along_axis(cand_d, part[:, k - 1 : k], axis=1)
            for r in np.flatnonzero((cand_d <= tau).sum(axis=1) > k):
                order = np.lexsort((cand_i[r], cand_d[r]))[:k]
                sel_d[r] = cand_d[r, order]
                sel_i[r] = cand_i[r, order]
            cand_d, cand_i = sel_d, sel_i
        # deterministic best-first order: sort by id first (stable), then
        # by distance (stable) — exact ties land on the lower cluster id
        oi = np.argsort(cand_i, axis=1, kind="stable")
        cand_d = np.take_along_axis(cand_d, oi, axis=1)
        cand_i = np.take_along_axis(cand_i, oi, axis=1)
        od = np.argsort(cand_d, axis=1, kind="stable")
        best_d = np.take_along_axis(cand_d, od, axis=1)
        best_i = np.take_along_axis(cand_i, od, axis=1)
    return best_i, best_d


def adc_candidates(
    codes: DataFrame,
    artifacts: IndexArtifacts,
    query_ids: np.ndarray,
    query_vectors: np.ndarray,
    n_probe: int,
    preliminary_top_k: int,
    id_col: str = "id",
    n_buckets: int = 64,
    rescore: bool = False,
    vector_col: str = "vector",
    carry_cols: tuple = (),
    normalize_rows: bool = False,
    bucket_scheme: str = "range",
    _emit_raw: bool = False,
) -> DataFrame:
    """Stage 1: ADC-score PQ codes in the probed cells; top-prelim_k per query.

    Returns (query_id, id, adc_dist) with <= preliminary_top_k rows/query.

    ``rescore=True`` requires a COVERING codes table (built with
    ``carry_cols``, see build.encode_all): the kernel additionally reads
    each row's stored exact vector, computes the TRUE cosine of every
    emitted candidate against ``query_vectors`` (which must then be the
    L2-normalized query matrix), and carries ``carry_cols`` through — the
    output gains ``score`` plus the carried columns, and stage 2's
    full-table fetch disappears (the fused small-Q path in ``search``).
    ``normalize_rows`` says the stored vectors are raw (normalize them
    in-kernel before the dot product).
    """
    spark = codes.sparkSession
    from mindb_spark.session import ship_package

    ship_package(spark)
    proj_queries = artifacts.project(query_vectors)  # (Q, p)
    probed, probed_d2 = rank_centroids_chunked(
        proj_queries, artifacts.centroids, n_probe
    )

    # Partition + row-group pruning: only the probed buckets/cells are read.
    # SELECTIVITY-AWARE: each filter is applied only when it actually
    # prunes. A large query batch probes most cells (512 queries x 5%
    # n_probe covers everything), and a 35k-literal isin then costs ~25 s
    # of pure InSet evaluation over a 10M-row scan while removing zero
    # rows (measured on the 10M probe). The kernel always drops unprobed
    # cells itself (p_idx < 0 mask), so these filters are purely an
    # optimization and safe to skip.
    from mindb_spark.index.build import cell_bucket

    probed_cids = sorted({int(c) for row in probed for c in row})
    # the bucket set is exact under EITHER scheme — but it must be the
    # scheme the table was WRITTEN with (manifest bucket_scheme; legacy
    # tables are mod-bucketed), else the partition filter drops probed rows
    probed_buckets = sorted(
        {
            cell_bucket(c, n_buckets, artifacts.num_clusters, bucket_scheme)
            for c in probed_cids
        }
    )
    pruned = codes
    if len(probed_buckets) < n_buckets:
        pruned = pruned.where(F.col("cluster_bucket").isin(probed_buckets))
    if len(probed_cids) < 0.5 * artifacts.num_clusters:
        # Selective probe. Three filters, cheapest mechanism for each job:
        # 1. bucket isin (above): cells are labeled in space-filling order
        #    (index/order.py) and buckets are RANGE buckets, so a probe
        #    ball maps to few bucket DIRECTORIES — partition pruning at
        #    planning time, zero per-row cost. This is the scan-volume
        #    bound: probed fraction of dirs instead of the whole table.
        # 2. one global BETWEEN: single-node pushed predicate trimming
        #    row groups outside the probe span. (An OR-disjunction over
        #    the probe's exact id-runs was measured at ~0.7 s of per-row
        #    evaluation on a 1M scan — more than the full unpruned scan —
        #    so per-run range predicates are deliberately NOT used.)
        # 3. broadcast left-semi join for exactness, NOT a literal isin:
        #    a many-thousand-literal In/InSet evaluates interpreted per
        #    row (~25 s over a 10M-row scan, measured), while the
        #    broadcast hash semi-join stays in whole-stage codegen and
        #    spares the Arrow transfer of unprobed rows to Python.
        pruned = pruned.where(
            F.col("cluster_id").between(probed_cids[0], probed_cids[-1])
        )
        cells_df = spark.createDataFrame(
            [(int(c),) for c in probed_cids], "cluster_id int"
        )
        pruned = pruned.join(F.broadcast(cells_df), "cluster_id", "left_semi")
    # Every scan task must emit its local top-prelim per query, so the
    # candidate shuffle grows with tasks x Q x prelim — cap the scan
    # width at the session's parallelism (no kernel cost; each task just
    # scans more row groups).
    # unconditional: coalesce never widens, and probing the width first
    # via .rdd.getNumPartitions() costs ~0.4 s of plan analysis per call
    # (measured at Q=1) for information coalesce already handles
    pruned = pruned.coalesce(spark.sparkContext.defaultParallelism)

    # Decomposed ADC (see pq.adc_query_tables): dist = d2(q,cell) + A_q[code]
    # + bterm(row). Everything shipped is sized by PROBED cells only:
    #   A        (Q, m, 256)  query tables — independent of cell count
    #   d2p      (Q, P)       coarse distances to the P probed cells
    #   probe_q  (P, Q) bool  which queries probe which cell
    #   cell2p   (max_cid+1,) compact cell -> p index
    # No per-(query, cell) tables exist anywhere, so memory and Python-loop
    # cost no longer scale with cells x queries.
    nq = len(query_ids)
    P = len(probed_cids)
    cell2p = np.full(max(probed_cids) + 1, -1, dtype=np.int32)
    cell2p[np.asarray(probed_cids, dtype=np.int64)] = np.arange(P, dtype=np.int32)
    # (Q, P) coarse distances to the union of probed cells, scattered from
    # the ranking's own (Q, n_probe) output — the full (Q, C) matrix is
    # never materialized. Entries for (query, cell) pairs the query does
    # NOT probe stay zero: both scan kernels consume distances only for
    # probing pairs (sparse path gathers them, dense path masks to inf)
    d2p = np.zeros((nq, P), dtype=np.float32)
    d2p[np.arange(nq)[:, None], cell2p[probed]] = probed_d2.astype(np.float32)
    probe_q = np.zeros((P, nq), dtype=bool)
    for qi, row in enumerate(probed):
        probe_q[cell2p[row], qi] = True
    A = PQ.adc_query_tables(proj_queries, artifacts.codebooks)

    has_bterm = "bterm" in codes.columns
    # legacy codes tables (pre-bterm) fall back to per-cell cell tables,
    # still query-independent: B[p][j,k] = 2 c_j . cb[j,k] for probed cells
    B = None
    if not has_bterm:
        m_, _, dsub_ = artifacts.codebooks.shape
        cb = artifacts.codebooks.astype(np.float64)
        cmat = artifacts.centroids[np.asarray(probed_cids, dtype=np.int64)]
        cmat = cmat.reshape(P, m_, dsub_)
        B = (2.0 * np.einsum("pjd,jkd->pjk", cmat, cb)).astype(np.float32)

    qraw = np.asarray(query_vectors, dtype=np.float64) if rescore else None
    b = spark.sparkContext.broadcast(
        (A, d2p, probe_q, cell2p, B,
         np.asarray(query_ids, dtype=np.int64), preliminary_top_k, qraw)
    )

    # codes-row chunk bound inside the kernel: a (chunk, Q) float32 distance
    # block stays ~128 MB even at Q=512; per-chunk partial top-k keeps the
    # emitted rows bounded and the global window does the exact cut.
    CHUNK = 65536

    def score(batches) -> Iterator:
        A_, d2p_, probe_q_, cell2p_, B_, qids, prelim, qraw_ = b.value
        m = A_.shape[1]
        At = np.ascontiguousarray(A_.transpose(1, 2, 0))  # (m, 256, Q), once
        d2pT = d2p_.T  # (P, Q)
        # Probe-aware scan, the ONLY kernel: each cell is scored only
        # against the queries that probe it, so total gather work is
        # sum_cells rows_c * probers_c * m — at large corpora probe
        # selectivity is the whole point of IVF (n_probe/k ~ 7% at 1M
        # rows; measured 14x over dense-then-mask at 1M x Q=512), and at
        # full density the pair count equals the dense kernel's n*Q so
        # nothing is lost. One kernel also means the fragmentation
        # immunity below holds on every path (a dense variant existed
        # through round 4; retired — same results, half the maintenance).
        #
        # Ragged probe map in CSR form: probe_all holds the probing
        # queries of every cell, cell p's slice is
        # probe_all[probe_off[p] : probe_off[p] + probe_cnt[p]].
        # The scan expands (row, probing query) pairs with O(m)
        # vectorized gathers per chunk — NO per-cell Python loop, so
        # kernel cost is independent of how fragmented the cells are
        # within a chunk (small codes files interleave cells; a
        # per-segment loop degraded 10x on rows/segment ~ 11)
        p_rows, q_cols = np.nonzero(probe_q_)
        probe_all = q_cols.astype(np.int64)
        probe_cnt = np.bincount(p_rows, minlength=probe_q_.shape[0]).astype(np.int64)
        probe_off = np.r_[0, np.cumsum(probe_cnt[:-1])]
        # expanded-pair block budget: bounds the transient (pair) arrays
        # (~40 B/pair -> ~160 MB per block at the cap)
        PAIR_BUDGET = 4_000_000

        def sparse_chunk(ids_c, p_idx, codes_c, bt_c, vec_c, carry_c):
            cnt = probe_cnt[p_idx]  # pairs contributed by each row
            csum = np.cumsum(cnt)
            total = int(csum[-1]) if cnt.size else 0
            if total == 0:
                return
            # split rows so each expanded block stays under PAIR_BUDGET
            n_blocks = max(1, -(-total // PAIR_BUDGET))
            bounds = np.searchsorted(
                csum, np.arange(1, n_blocks) * ((total + n_blocks - 1) // n_blocks),
                side="left",
            )
            bounds = np.r_[0, bounds + 1, cnt.size]
            qs_l, is_l, ds_l, rs_l = [], [], [], []
            for bi in range(len(bounds) - 1):
                a, e = int(bounds[bi]), int(bounds[bi + 1])
                if a >= e:
                    continue
                c_blk = cnt[a:e]
                n_pairs = int(c_blk.sum())
                if n_pairs == 0:
                    continue
                row_rep = np.repeat(np.arange(a, e, dtype=np.int64), c_blk)
                # intra-row pair position, vectorized over the ragged rows
                head = np.r_[np.int64(0), np.cumsum(c_blk[:-1])]
                pair_pos = np.arange(n_pairs, dtype=np.int64) - np.repeat(head, c_blk)
                q_pair = probe_all[np.repeat(probe_off[p_idx[a:e]], c_blk) + pair_pos]
                p_pair = p_idx[row_rep]
                d = d2pT[p_pair, q_pair].astype(np.float32)
                d += bt_c[row_rep]
                for j in range(m):
                    d += At[j][codes_c[row_rep, j], q_pair]
                qs_l.append(q_pair)
                is_l.append(ids_c[row_rep])
                ds_l.append(d)
                if vec_c is not None:
                    rs_l.append(row_rep)
            q_all = np.concatenate(qs_l)
            i_all = np.concatenate(is_l)
            d_all = np.concatenate(ds_l)
            r_all = np.concatenate(rs_l) if vec_c is not None else None
            # per-query partial top-k before emitting (the global window
            # does the exact cut; this bounds emitted rows to prelim/query)
            oq = np.argsort(q_all, kind="stable")
            q_s, i_s, d_s = q_all[oq], i_all[oq], d_all[oq]
            r_s = r_all[oq] if r_all is not None else None
            qseg = np.flatnonzero(np.r_[True, q_s[1:] != q_s[:-1]])
            qend = np.r_[qseg[1:], q_s.size]
            for s2, e2 in zip(qseg, qend):
                if e2 - s2 > prelim:
                    sel2 = s2 + np.argpartition(d_s[s2:e2], prelim - 1)[:prelim]
                else:
                    sel2 = np.arange(s2, e2)
                out_q.append(qids[q_s[sel2]])
                out_id.append(i_s[sel2])
                out_d.append(d_s[sel2].astype(np.float64))
                if vec_c is not None:
                    # fused exact rescore: TRUE cosine of only the kept
                    # pairs (<= prelim/query) against the raw query
                    # matrix — the stored vectors are already in memory
                    # from this scan, so stage 2 costs one tiny einsum
                    rows_k = r_s[sel2]
                    out_s.append(
                        np.einsum(
                            "ij,ij->i", vec_c[rows_k], qraw_[q_s[sel2]]
                        )
                    )
                    if carry_cols:
                        rk = pa.array(rows_k)
                        for c in carry_cols:
                            out_c[c].append(carry_c[c].take(rk))

        import pyarrow as pa

        def rebatched(it):
            """Coalesce incoming Arrow record batches up to CHUNK rows.

            The Arrow transfer size is a session-wide memory knob (sized
            for wide vector rows); the scan kernel's efficiency wants the
            larger CHUNK over these ~40-byte code rows — buffering here
            decouples the two (a CHUNK of codes is a few MB)."""
            buf: list = []
            held = 0
            for b in it:
                if b.num_rows == 0:
                    continue
                buf.append(b)
                held += b.num_rows
                if held >= CHUNK:
                    yield pa.Table.from_batches(buf)
                    buf, held = [], 0
            if buf:
                yield pa.Table.from_batches(buf)

        # TASK-LEVEL accumulation: every chunk's per-query partial top-k
        # lands in these lists; ONE exact per-query cut runs at the end
        # and the task emits a single <= prelim-rows-per-query frame.
        # Emitting per chunk instead multiplies Arrow traffic and the
        # downstream shuffle by chunks-per-task (measured 49M shuffled
        # rows at 10M x Q=512 — the dominant stage-1 cost, not the scan
        # kernel); accumulation is memory-bounded at chunks_per_task x
        # prelim rows per query.
        out_q, out_id, out_d = [], [], []
        out_s = [] if rescore else None
        out_c = {c: [] for c in carry_cols} if rescore else None
        for tbl in rebatched(batches):
            n_rows = tbl.num_rows
            ids_all = one_chunk(tbl.column(id_col)).to_numpy(
                zero_copy_only=False
            ).astype(np.int64, copy=False)
            cells_all = one_chunk(tbl.column("cluster_id")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64, copy=False)
            code_all = fixed_width_matrix(tbl.column("code"), m)
            bt_all = (
                one_chunk(tbl.column("bterm")).to_numpy(
                    zero_copy_only=False
                ).astype(np.float32, copy=False)
                if B_ is None else None
            )
            if rescore:
                vec_all = fixed_width_matrix(tbl.column(vector_col)).astype(
                    np.float64, copy=False)
                if normalize_rows:
                    nrm = np.linalg.norm(vec_all, axis=1, keepdims=True)
                    nrm[nrm == 0] = 1.0
                    vec_all = vec_all / nrm  # new array: the view is read-only
                # carry columns stay pyarrow end to end (take/filter):
                # converting e.g. metadata strings to Python objects per
                # scanned row is the same tax the vector path just shed
                carry_all = {c: one_chunk(tbl.column(c)) for c in carry_cols}
            # compact probed-cell index; UNPROBED cells -> -1 and are
            # dropped here (the scan may be unfiltered when the probe set
            # is dense — see the selectivity-aware pruning above)
            safe = np.minimum(cells_all, cell2p_.size - 1)
            p_all = np.where(cells_all < cell2p_.size, cell2p_[safe], -1)
            for start in range(0, n_rows, CHUNK):
                end = start + CHUNK
                ids_c = ids_all[start:end]
                p_idx = p_all[start:end]  # (n,) compact cell index
                codes_c = code_all[start:end]
                bt_c = bt_all[start:end] if bt_all is not None else None
                vec_c = vec_all[start:end] if rescore else None
                carry_c = (
                    {
                        c: a.slice(start, min(end, n_rows) - start)
                        for c, a in carry_all.items()
                    }
                    if rescore else None
                )
                probed_mask = p_idx >= 0
                if not probed_mask.all():
                    if not probed_mask.any():
                        continue
                    ids_c = ids_c[probed_mask]
                    p_idx = p_idx[probed_mask]
                    codes_c = codes_c[probed_mask]
                    if bt_c is not None:
                        bt_c = bt_c[probed_mask]
                    if vec_c is not None:
                        vec_c = vec_c[probed_mask]
                        pm = pa.array(probed_mask)
                        carry_c = {c: a.filter(pm) for c, a in carry_c.items()}
                if bt_c is None:
                    # legacy no-bterm codes: the per-row cell term is
                    # query-independent, so materialize it once per chunk
                    # (per unique probed cell) and the CSR kernel then
                    # treats it exactly like a stored bterm
                    bt_c = np.empty(len(ids_c), dtype=np.float32)
                    for pid in np.unique(p_idx):
                        sel_rows = p_idx == pid
                        bt_c[sel_rows] = PQ.adc_scan(codes_c[sel_rows], B_[pid])
                sparse_chunk(ids_c, p_idx, codes_c, bt_c, vec_c, carry_c)
        if out_q:
            # exact per-query cut over everything this task scored
            q_all = np.concatenate(out_q)
            i_all = np.concatenate(out_id)
            d_all = np.concatenate(out_d)
            s_all = np.concatenate(out_s) if rescore else None
            c_all = (
                {c: pa.concat_arrays(v) for c, v in out_c.items()}
                if rescore else None
            )
            oq = np.argsort(q_all, kind="stable")
            q_s, i_s, d_s = q_all[oq], i_all[oq], d_all[oq]
            qseg = np.flatnonzero(np.r_[True, q_s[1:] != q_s[:-1]])
            qend = np.r_[qseg[1:], q_s.size]
            keep_l = []
            for s2, e2 in zip(qseg, qend):
                if e2 - s2 > prelim:
                    keep_l.append(s2 + np.argpartition(d_s[s2:e2], prelim - 1)[:prelim])
                else:
                    keep_l.append(np.arange(s2, e2))
            keep = np.concatenate(keep_l)
            names = ["query_id", id_col, "adc_dist"]
            arrays = [
                pa.array(q_s[keep]),
                pa.array(i_s[keep]),
                pa.array(d_s[keep].astype(np.float64, copy=False)),
            ]
            if rescore:
                kept_src = oq[keep]  # back to pre-sort positions
                names.append("score")
                arrays.append(pa.array(s_all[kept_src]))
                ks = pa.array(kept_src)
                for c in carry_cols:
                    names.append(c)
                    arrays.append(c_all[c].take(ks))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    scan_cols = ["cluster_id", id_col, "code"] + (["bterm"] if has_bterm else [])
    out_schema = f"query_id long, {id_col} long, adc_dist double"
    if rescore:
        scan_cols.append(vector_col)
        scan_cols.extend(c for c in carry_cols if c not in scan_cols)
        out_schema += ", score double" + "".join(
            f", {c} {codes.schema[c].dataType.simpleString()}" for c in carry_cols
        )
    # Arrow-native scan (mapInArrow): the mapInPandas list-column ->
    # per-row-ndarray conversion cost scaled with SCANNED rows x d and
    # dominated the fused covering path at 1M+ rows; pyarrow arrays
    # flatten to numpy zero-copy (fixed_width_matrix) and carry columns
    # ride through as Arrow take/filter without ever becoming Python
    # objects.
    scored = pruned.select(*scan_cols).mapInArrow(score, schema=out_schema)
    if _emit_raw:
        # probe hook (tools/ann_probe_attrib.py): the task-level partial
        # top-k output, BEFORE the global exact cut — isolates scan/Arrow
        # cost from the window's shuffle+sort in latency attribution
        return scored
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.col(id_col))
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= preliminary_top_k)
        .drop("_rank")
    )


def rerank_exact(
    candidates: DataFrame,
    vectors: DataFrame,
    query_ids: np.ndarray,
    query_vectors_normalized: np.ndarray,
    final_top_k: int,
    id_col: str = "id",
    vector_col: str = "vector",
    score_col: str = "cosine_similarity",
    extra_cols: tuple = (),
    assume_normalized: bool = True,
) -> DataFrame:
    """Stage 2: exact rerank of candidate ids against full-precision vectors.

    ``candidates``: (query_id, id) pairs. Joined (broadcast — at most
    Q * prelim_k rows) against the vectors table, then scored with the exact
    dot product and cut to final_top_k per query. Inner join against the
    live table drops deleted ids.

    The dot product runs as an Arrow-native kernel (mapInArrow) against
    a broadcast (Q, d) query matrix — one einsum per batch, the vector
    column flattened to a zero-copy (n, d) view, extra columns riding
    through as Arrow arrays without ever becoming Python objects. The
    declarative alternative (zip_with + aggregate array expression)
    executes interpreted (Spark higher-order functions are outside
    whole-stage codegen), which at Q x prelim_k = 256k candidate rows
    costs ~80 s vs <1 s vectorized; the earlier pandas_udf variant paid
    a per-row ndarray conversion on the same rows.
    """
    spark = candidates.sparkSession
    qarr = np.asarray(query_ids, dtype=np.int64)
    order = np.argsort(qarr)
    qmat = np.asarray(query_vectors_normalized, dtype=np.float64)
    # sorted ids + matching query rows: the kernel maps qid -> row via
    # searchsorted (vectorized) — a dict-based Series.map ran the lookup
    # per row in Python and cost ~1 s at 256k candidate rows (measured,
    # tools/ann_stage2_probe.py round 6)
    bq = spark.sparkContext.broadcast((qarr[order], qmat[order]))

    normalized = assume_normalized

    # Dedup is cheap insurance, not dead weight: stage 1 and the exact
    # tail search are *normally* disjoint (codes hold ids <= watermark),
    # but a tail-index append racing the query's two unsynchronized reads
    # — or a crash between a codes append and its manifest save — can
    # put an id in both sources (or twice in the codes table); without
    # the dedup that id would occupy two of the final_top_k slots.
    # The dedup runs AFTER scoring as a window over (query_id, id): the
    # rank window below already exchanges on query_id, which satisfies
    # this clustering too, so the dedup adds a sort to THAT stage
    # instead of shuffling the candidate pairs in a stage of their own
    # (a 256k-row dropDuplicates here measured ~1.2 s, tools/
    # ann_stage2_probe.py). Duplicate pairs score identically (one
    # vectors row per id), so which survives is immaterial.
    cand = candidates.select("query_id", id_col)
    joined = vectors.join(F.broadcast(cand), id_col, "inner").select(
        "query_id", F.col(id_col), *[F.col(c) for c in extra_cols],
        F.col(vector_col),
    )

    extras = tuple(extra_cols)
    out_schema = f"query_id long, {id_col} long" + "".join(
        f", {c} {joined.schema[c].dataType.simpleString()}" for c in extras
    ) + f", {score_col} double"

    def _score_batches(batches) -> Iterator:
        import pyarrow as pa

        qsorted, qm = bq.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            qid = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            mat = fixed_width_matrix(batch.column(batch.num_columns - 1)).astype(
                np.float64, copy=False)
            if not normalized:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                mat = mat / norms
            idx = np.searchsorted(qsorted, qid)
            # containment guard: a candidate row whose query_id is not in
            # query_ids must fail loudly, not score against a neighbor
            # (the pre-round-6 dict map surfaced this as a KeyError).
            idx = np.minimum(idx, qsorted.size - 1)
            if not np.array_equal(qsorted[idx], qid):
                bad = qid[qsorted[idx] != qid]
                raise ValueError(
                    f"rerank_exact: candidate query_id(s) {bad[:5].tolist()} "
                    "not present in query_ids"
                )
            scores = np.einsum("ij,ij->i", mat, qm[idx])
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns - 1)]
                + [pa.array(scores)],
                names=["query_id", id_col, *extras, score_col],
            )

    scored = joined.mapInArrow(_score_batches, schema=out_schema)
    w_dup = Window.partitionBy("query_id", id_col).orderBy(F.desc(score_col))
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.col(id_col))
    return (
        # ONE exchange for both windows: hash(query_id) clusters
        # (query_id, id) too, so the dedup window adds only a sort on
        # the same stage. Without the explicit repartition,
        # EnsureRequirements would pick hash(query_id, id) for the dedup
        # window — which does NOT satisfy the rank window — and shuffle
        # the scored rows twice.
        scored.repartition("query_id")
        .withColumn("_dup", F.row_number().over(w_dup))
        .where(F.col("_dup") == 1)
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= final_top_k)
        .drop("_dup", "_rank")
    )


def route_fused(
    approx_rows: int | None,
    n_probe: int,
    num_clusters: int,
    q: int,
    d: int,
    preliminary_top_k: int,
) -> bool:
    """Cost-based fused-vs-two-stage choice for a covering codes table.

    True -> fuse the exact rescore into the stage-1 scan. The fused
    kernel ships the stored vector of every SCANNED row through Arrow
    into Python, so its marginal cost is the probed-cell union's bytes:
    scanned ~ n x (1 - (1 - n_probe/k)^Q), shipped = scanned x d x 8.
    Two-stage instead pays stage 2: a full vectors-table scan (n x d x
    8 JVM-side parquet bytes — candidate ids are id-uniform, so nothing
    prunes it) plus a fixed shuffle/join/window overhead. Both sides
    scale with d, so the comparison is modeled TIME, not a bytes cap
    (see the constants above for the 768-d evidence). Without a
    row-count estimate, fuse only small batches (the union is bounded
    by Q x n_probe cells, but n is unknown, so small Q is the only
    provably-small ship)."""
    if approx_rows is None:
        return q * preliminary_top_k <= _SMALL_FETCH_IDS
    p = min(1.0, n_probe / max(1, num_clusters))
    union_frac = 1.0 - (1.0 - p) ** q
    row_bytes = d * 8
    ship_sec = approx_rows * union_frac * row_bytes * _ARROW_SEC_PER_BYTE
    stage2_sec = (
        approx_rows * row_bytes * _SCAN_SEC_PER_BYTE + _STAGE2_FIXED_SEC
    )
    return ship_sec <= stage2_sec


def search(
    codes: DataFrame,
    vectors: DataFrame,
    artifacts: IndexArtifacts,
    queries: list[tuple[int, np.ndarray]],
    preliminary_top_k: int = 500,
    final_top_k: int = 100,
    n_probe: int | None = None,
    max_trained_id: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    n_buckets: int = 64,
    extra_cols: tuple = (),
    assume_normalized: bool = True,
    rescore_from_codes: bool = True,
    bucket_scheme: str = "range",
    approx_rows: int | None = None,
) -> DataFrame:
    """Full two-stage query (+ exact search of the unindexed tail).

    ``approx_rows`` (the indexed row count, an estimate is fine) enables
    cost-based fused-vs-two-stage routing on covering tables — see the
    ``fused`` gate below. Callers that know the corpus size (VectorDB's
    O(1) counter, the bench probes) should pass it; without it the fused
    path is taken only for small batches, which is always safe.

    ``assume_normalized=False`` lets callers pass the RAW vectors table:
    corpus-side normalization then happens inside the Arrow kernels (numpy,
    vectorized) instead of as a declarative ``l2_normalize`` projection —
    Spark higher-order functions execute interpreted and would re-evaluate
    per candidate row after the rerank join.

    FUSED small-Q path: when the codes table is COVERING (built with
    ``carry_cols`` ⊇ {vector_col} ∪ extra_cols) and the batch is small
    (Q x prelim <= _SMALL_FETCH_IDS), the exact rerank happens inside the
    stage-1 scan kernel against the STORED vectors — no stage-2 full-table
    fetch, so query cost is proportional to the probed cells instead of
    the corpus (the point-lookup wall of a scan-based engine). The result
    is bit-identical to the two-stage path (same global ADC-prelim cut,
    same float64 einsum) PROVIDED every codes row is still live: rows
    deleted from ``vectors`` after the build would resurface, since the
    two-stage inner join is what drops them. Callers that cannot rule
    out post-build deletions must pass ``rescore_from_codes=False``
    (VectorDB gates this on its num_trained_vectors_removed counter).
    """
    from mindb_spark.core.heuristics import get_n_probe

    qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
    qmat = np.array([np.asarray(v, dtype=np.float64) for _, v in queries])
    norms = np.linalg.norm(qmat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    qnorm = qmat / norms
    n_probe = n_probe or get_n_probe(artifacts.num_clusters)

    if max_trained_id is not None:
        # codes rows above the watermark (a tail append racing this query,
        # or one whose manifest save never landed) belong to the exact
        # tail search below — filtering them here keeps the two candidate
        # sources disjoint, and the pushed-down id predicate prunes the
        # scan for free
        codes = codes.where(F.col(id_col) <= max_trained_id)

    # Fused-vs-two-stage routing on covering tables. Fused eliminates
    # stage 2's full-table fetch + broadcast join + dedup/window
    # shuffles (~1-2 s of fixed cost; measured 3.9 s -> 1.0 s at
    # 30k/Q=512, tools/ann_stage2_probe.py) — but its kernel must ship
    # the stored vector of EVERY scanned row through Arrow into Python,
    # and a large batch probes nearly every cell, so at 1M x 64-d and
    # Q >= 32 that ~512 MB ship made fused SLOWER than two-stage
    # (tools/midq_curve_probe.py). Route on the estimated ship volume:
    # scanned rows ~ n x (1 - (1 - n_probe/k)^Q), the probed-cell union.
    fused_capable = (
        rescore_from_codes
        and vector_col in codes.columns
        and all(c in codes.columns for c in extra_cols)
    )
    fused = fused_capable and route_fused(
        approx_rows, n_probe, artifacts.num_clusters, len(qids),
        qmat.shape[1], preliminary_top_k,
    )
    if fused:
        scored = adc_candidates(
            codes, artifacts, qids, qnorm, n_probe, preliminary_top_k,
            id_col=id_col, n_buckets=n_buckets,
            rescore=True, vector_col=vector_col, carry_cols=extra_cols,
            normalize_rows=not assume_normalized,
            bucket_scheme=bucket_scheme,
        ).select(
            "query_id", F.col(id_col), *extra_cols,
            F.col("score").alias("cosine_similarity"),
        )
        # same crash-dup insurance as rerank_exact's dedup: a codes
        # append whose manifest save never landed can duplicate an id.
        # Expressed as a window over (query_id, id) — NOT dropDuplicates
        # — because hash(query_id) from stage 1's prelim window already
        # satisfies this clustering, so the dedup costs one extra sort
        # on the SAME exchange instead of its own shuffle stage (the
        # fused path then runs ONE exchange total; dropDuplicates'
        # hash(query_id, id) shuffle was a third of its stage count).
        # Keep-best order: duplicate rows are normally bit-identical,
        # and if a re-encode ever made them differ the highest cosine
        # deterministically survives.
        w_dup = Window.partitionBy("query_id", id_col).orderBy(
            F.desc("cosine_similarity")
        )
        scored = (
            scored.withColumn("_dup", F.row_number().over(w_dup))
            .where(F.col("_dup") == 1)
            .drop("_dup")
        )
        if max_trained_id is not None:
            tail = vectors.where(F.col(id_col) > max_trained_id)
            from mindb_spark.operators.topk import knn_batch

            tail_cand = knn_batch(
                tail, [(int(q), v) for q, v in zip(qids, qnorm)],
                preliminary_top_k, id_col=id_col, vector_col=vector_col,
                assume_normalized=assume_normalized,
            ).select("query_id", id_col)
            # the tail is small by construction (rows since last train);
            # rerank_exact fetches + scores only those candidates
            tail_scored = rerank_exact(
                tail_cand, tail, qids, qnorm, preliminary_top_k,
                id_col=id_col, vector_col=vector_col, extra_cols=extra_cols,
                assume_normalized=assume_normalized,
            ).select(
                "query_id", F.col(id_col), *extra_cols, "cosine_similarity"
            )
            scored = scored.unionByName(tail_scored)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_similarity"), F.col(id_col)
        )
        return (
            scored.withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") <= final_top_k)
            .drop("_rank")
        )

    cand = adc_candidates(
        codes, artifacts, qids, qnorm, n_probe, preliminary_top_k,
        id_col=id_col, n_buckets=n_buckets, bucket_scheme=bucket_scheme,
    ).select("query_id", id_col)

    if max_trained_id is not None:
        # no emptiness probe: an empty tail unions zero rows for free, and
        # callers skip passing a watermark when max_id <= max_trained_id
        tail = vectors.where(F.col(id_col) > max_trained_id)
        from mindb_spark.operators.topk import knn_batch

        tail_cand = knn_batch(
            tail, [(int(q), v) for q, v in zip(qids, qnorm)],
            preliminary_top_k, id_col=id_col, vector_col=vector_col,
            assume_normalized=assume_normalized,
        ).select("query_id", id_col)
        cand = cand.unionByName(tail_cand)

    if len(qids) * preliminary_top_k <= _SMALL_FETCH_IDS:
        # SMALL-Q path: materialize the candidate pairs into a literal
        # local relation, so the stage-2 join's plan does not re-execute
        # the whole stage-1 pipeline as its build side (one saved
        # stage-1 execution per query batch). NOTE the id set is NOT
        # pushed into the vectors scan: candidate ids are geometrically
        # clustered but id-UNIFORM (ids are ingestion order), so parquet
        # row-group stats cannot prune them — and a many-valued pushed
        # In filter triggers deep recursion in parquet's filter
        # evaluator (StackOverflowError at 500 values, observed). The
        # full-scan broadcast-probe fetch is the honest cost of point
        # lookups in a scan-based engine.
        rows = cand.collect()
        if rows:
            cand = vectors.sparkSession.createDataFrame(
                [(int(r["query_id"]), int(r[id_col])) for r in rows],
                f"query_id long, {id_col} long",
            )

    return rerank_exact(
        cand, vectors, qids, qnorm, final_top_k,
        id_col=id_col, vector_col=vector_col, extra_cols=extra_cols,
        assume_normalized=assume_normalized,
    )
