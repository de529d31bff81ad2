"""PQ kernel unit tests against exhaustive numpy checks."""

import numpy as np

from mindb_spark.index import pq as PQ


def test_kmeans_basic_separation():
    rng = np.random.default_rng(0)
    a = rng.normal(loc=0.0, scale=0.1, size=(200, 4))
    b = rng.normal(loc=5.0, scale=0.1, size=(200, 4))
    cents = PQ._kmeans(np.vstack([a, b]), 2, seed=1)
    assert cents.shape == (2, 4)
    means = sorted(c.mean() for c in cents)
    assert abs(means[0] - 0.0) < 0.5 and abs(means[1] - 5.0) < 0.5


def test_encode_picks_nearest_codeword():
    rng = np.random.default_rng(1)
    books = rng.normal(size=(4, 256, 2)).astype(np.float32)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    codes = PQ.encode(vecs, books)
    assert codes.shape == (50, 4) and codes.dtype == np.uint8
    for i in range(4):
        sub = vecs[:, i * 2 : (i + 1) * 2]
        d2 = ((sub[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)
        np.testing.assert_array_equal(codes[:, i], np.argmin(d2, axis=1))


def test_adc_scan_equals_decoded_distance():
    rng = np.random.default_rng(2)
    books = rng.normal(size=(4, 256, 2)).astype(np.float32)
    vecs = rng.normal(size=(30, 8)).astype(np.float32)
    codes = PQ.encode(vecs, books)
    q = rng.normal(size=8).astype(np.float32)
    table = PQ.adc_table(q, books)
    got = PQ.adc_scan(codes, table)
    recon = PQ.decode(codes, books)
    expected = ((recon - q) ** 2).sum(axis=1)
    np.testing.assert_allclose(got, expected, rtol=1e-4)


def test_adc_multi_equals_stacked_single():
    """Cross-query-vectorized ADC == per-query adc_table/adc_scan stack."""
    rng = np.random.default_rng(7)
    books = rng.normal(size=(4, 256, 2)).astype(np.float32)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    codes = PQ.encode(vecs, books)
    queries = rng.normal(size=(5, 8)).astype(np.float32)

    tables = PQ.adc_tables(queries, books)
    assert tables.shape == (5, 4, 256)
    for qi in range(5):
        np.testing.assert_allclose(
            tables[qi], PQ.adc_table(queries[qi], books), rtol=1e-5
        )

    multi = PQ.adc_scan_multi(codes, tables)
    assert multi.shape == (40, 5)
    for qi in range(5):
        np.testing.assert_allclose(
            multi[:, qi], PQ.adc_scan(codes, tables[qi]), rtol=1e-5
        )


def test_roundtrip_compression_quality():
    rng = np.random.default_rng(3)
    data = rng.normal(size=(3000, 16)).astype(np.float32)
    books = PQ.train_codebooks(data, m=8, seed=0)
    codes = PQ.encode(data, books)
    recon = PQ.decode(codes, books)
    rel_err = np.linalg.norm(recon - data, axis=1) / np.linalg.norm(data, axis=1)
    # 8 subspaces x 8 bits over 16 dims: reconstruction should be decent
    assert np.median(rel_err) < 0.35


def test_train_rejects_indivisible_m():
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        PQ.train_codebooks(np.zeros((10, 10), dtype=np.float32), m=3)


def test_fit_opq_orthonormal_and_improves_reconstruction():
    """R has orthonormal columns; the learned rotation beats the identity
    init on cross-subspace-correlated data (deterministic: fixed seeds)."""
    rng = np.random.default_rng(11)
    # strong correlation ACROSS the PQ subspace split: latent 8-d signal
    # mixed by a random matrix into 16 dims
    latent = rng.normal(size=(4000, 8))
    mix = rng.normal(size=(8, 16))
    data = latent @ mix + 0.05 * rng.normal(size=(4000, 16))

    m, opq_dim = 4, 16
    R = PQ.fit_opq(data, m, opq_dim, seed=0, n_iter=6)
    assert R.shape == (16, 16)
    np.testing.assert_allclose(R.T @ R, np.eye(16), atol=1e-8)

    def recon_err(rot):
        X = (data @ rot).astype(np.float32)
        books = PQ.train_codebooks(X, m, seed=0)
        xhat = PQ.decode(PQ.encode(X, books), books)
        return float(((X - xhat) ** 2).sum())

    err_id = recon_err(np.eye(16))
    err_opq = recon_err(R)
    assert err_opq < err_id


def test_fit_opq_dimension_cut():
    """opq_dim < p yields a (p, opq_dim) matrix with orthonormal columns."""
    rng = np.random.default_rng(12)
    data = rng.normal(size=(1000, 12))
    R = PQ.fit_opq(data, 2, 8, seed=0, n_iter=3)
    assert R.shape == (12, 8)
    np.testing.assert_allclose(R.T @ R, np.eye(8), atol=1e-8)

    with np.testing.assert_raises(ValueError):
        PQ.fit_opq(data, 2, 16)  # opq_dim > p
    with np.testing.assert_raises(ValueError):
        PQ.fit_opq(data, 5, 8)  # not divisible


def test_decomposed_adc_equals_residual_lut():
    """faiss-style precomputed-table identity: for residual IVF-PQ,
    d2(q,c) + A_q[code] + bterm(row) == the per-(query, cell) residual-LUT
    distance, for every (query, row) pair."""
    rng = np.random.default_rng(5)
    d, m, n, nq, C = 16, 4, 200, 7, 5
    data = rng.normal(size=(n, d))
    centroids = rng.normal(size=(C, d))
    books = PQ.train_codebooks(rng.normal(size=(500, d)).astype(np.float32), m)
    cid = rng.integers(0, C, size=n)
    residuals = (data - centroids[cid]).astype(np.float32)
    codes = PQ.encode(residuals, books)
    queries = rng.normal(size=(nq, d))

    # reference: per-(query, cell) residual LUTs
    want = np.empty((n, nq))
    for qi in range(nq):
        for ci in range(C):
            rows = cid == ci
            if not rows.any():
                continue
            table = PQ.adc_table((queries[qi] - centroids[ci]).astype(np.float32), books)
            want[rows, qi] = PQ.adc_scan(codes[rows], table)

    # decomposition
    A = PQ.adc_query_tables(queries, books)              # (nq, m, 256)
    bterm = PQ.cell_code_term(codes, cid, centroids, books)  # (n,)
    d2 = ((queries**2).sum(axis=1, keepdims=True)
          - 2.0 * queries @ centroids.T
          + (centroids**2).sum(axis=1)[None, :])         # (nq, C)
    got = PQ.adc_scan_multi(codes, A) + bterm[:, None] + d2.T[cid].astype(np.float32)
    np.testing.assert_allclose(got, want, rtol=2e-4, atol=2e-3)


def test_search_legacy_codes_without_bterm(request):
    """Codes tables written before the bterm column (r2 saved indexes) must
    search identically through the per-cell fallback path."""
    import numpy as np
    import pytest
    from mindb_spark.core.heuristics import resolve_index_params
    from mindb_spark.index import ivf
    from mindb_spark.index.build import build_index

    spark = request.getfixturevalue("spark")
    tmp_path = request.getfixturevalue("tmp_path")
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(8, 16)) * 3.0
    mat = centers[rng.integers(0, 8, size=3000)] + rng.normal(size=(3000, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    vdf = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(mat)], "id long, vector array<double>"
    )
    params = resolve_index_params(3000, 16)
    arts, _ = build_index(vdf, params, str(tmp_path / "idx"), n_buckets=4)
    codes = spark.read.parquet(str(tmp_path / "idx" / "codes"))
    assert "bterm" in codes.columns
    # simulate a legacy index: strip the precomputed column
    codes.drop("bterm").write.mode("overwrite").partitionBy("cluster_bucket").parquet(
        str(tmp_path / "legacy_codes")
    )
    legacy = spark.read.parquet(str(tmp_path / "legacy_codes"))

    qs = [(int(i), mat[rng.integers(0, 3000)] + 0.02 * rng.normal(size=16)) for i in range(20)]
    kw = dict(preliminary_top_k=100, final_top_k=10, n_probe=4,
              max_trained_id=None, n_buckets=4)
    got_new = sorted(
        (r.query_id, r.id, round(r.cosine_similarity, 9))
        for r in ivf.search(codes, vdf, arts, qs, **kw).collect()
    )
    got_legacy = sorted(
        (r.query_id, r.id, round(r.cosine_similarity, 9))
        for r in ivf.search(legacy, vdf, arts, qs, **kw).collect()
    )
    assert got_new == got_legacy


def test_blas_pin_concurrent_entries_share_one_cycle():
    """Round-8 ADVICE: the resident snapshot enters _single_threaded_blas
    per point query, plausibly from concurrent serving threads — two
    interleaved pin/restore cycles must NOT leave the process pinned to
    one BLAS thread afterwards (thread B reading prev=1 set by thread A
    and 'restoring' 1 last). The depth counter shares one cycle."""
    import threading
    import time

    from mindb_spark.index import pq as pqmod

    controls = pqmod._blas_controls()
    if not controls:
        import pytest

        pytest.skip("no controllable BLAS in this environment")
    h, set_fn, get_fn = controls[0]
    before = getattr(h, get_fn)()
    assert before > 0

    barrier = threading.Barrier(8)

    def worker():
        barrier.wait()
        for _ in range(50):
            with pqmod._single_threaded_blas():
                # inside ANY overlap the pool must read pinned
                assert getattr(h, get_fn)() == 1
                time.sleep(0)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert pqmod._PIN_DEPTH == 0
    assert getattr(h, get_fn)() == before, (
        "interleaved pin/restore leaked a pinned BLAS pool"
    )


def test_kmeans_bit_identical_across_blas_threads(spark):
    """Driver-side training and gate math gives bit-identical results
    whatever width the process BLAS pool has. OpenBLAS splits some GEMMs
    differently per thread count (0.3.23: the float32 (4096, 64) @
    (64, 96) k-means assignment differs from the 1-thread bits at widths
    3/5/6/7/16/32), so each site pins BLAS to one thread: ``_kmeans``
    (the coarse fits in index/build.py and operators/similarity.py) and
    the similarity recall gate's self-GEMM and hyperplane projection."""
    import pytest

    from mindb_spark.index import pq as pqmod
    from mindb_spark.operators import similarity as S

    controls = pqmod._blas_controls()
    if not controls:
        pytest.skip("no controllable BLAS in this environment")

    rng = np.random.default_rng(7)
    data = rng.normal(size=(6000, 64))
    # 3000 rows: the gate's chunked (2796, 64) @ (64, 3000) float64 GEMM
    # drifts at pool widths 4 and 32 on OpenBLAS 0.3.23
    gmat = rng.normal(size=(3000, 64))
    gmat /= np.linalg.norm(gmat, axis=1, keepdims=True)
    norm = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(gmat)],
        "id long, vector array<double>",
    )

    before = [getattr(h, get_fn)() for h, _, get_fn in controls]
    runs = {}
    try:
        for width in (1, 3, 32):
            for h, set_fn, _ in controls:
                getattr(h, set_fn)(width)
            cents = pqmod._kmeans(data, 96, n_iter=8, seed=42)
            mat, gi, gj, gc = S._gate_sample_pairs(norm, 0.3, 3000, seed=3)
            recall = S.lsh_measured_pair_recall(mat, gi, gj, 16, 12, 64, seed=3)
            runs[width] = (cents, gi, gj, gc, recall)
    finally:
        for (h, set_fn, _), p in zip(controls, before):
            getattr(h, set_fn)(p)

    c1, gi1, gj1, gc1, r1 = runs[1]
    assert gi1.size > 0
    for width in (3, 32):
        cw, giw, gjw, gcw, rw = runs[width]
        assert np.array_equal(c1, cw), f"k-means centroids drifted at width {width}"
        assert np.array_equal(gi1, giw) and np.array_equal(gj1, gjw), (
            f"gate pair set drifted at width {width}"
        )
        assert np.array_equal(gc1, gcw), f"gate pair cosines drifted at width {width}"
        assert r1 == rw, f"measured LSH recall drifted at width {width}"
