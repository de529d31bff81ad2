"""VectorDB lifecycle tests: ingest -> query -> delete -> train -> counters.

Mirrors the reference's integration strategy (SURVEY §5): flat path must be
exact vs brute force; trained path must clear a recall bar; lifecycle
counters must follow the documented update rules.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from mindb_spark.core.database import VectorDB
from mindb_spark.core.validation import ValidationError


@pytest.fixture()
def db(spark, tmp_path):
    d = VectorDB(spark, "testdb", base_path=str(tmp_path))
    yield d
    d.delete()


def _mk(rng, n, d):
    return rng.normal(size=(n, d)).astype(np.float32)


def test_add_assigns_sequential_ids_and_normalizes(db):
    rng = np.random.default_rng(0)
    ids = db.add([(v, {"i": i}) for i, v in enumerate(_mk(rng, 5, 8))])
    assert ids == [0, 1, 2, 3, 4]
    ids2 = db.add([(v, {}) for v in _mk(rng, 3, 8)])
    assert ids2 == [5, 6, 7]
    rows = db.vectors().orderBy("id").collect()
    assert [r.id for r in rows] == list(range(8))
    norms = [float(np.linalg.norm(r.vector)) for r in rows]
    np.testing.assert_allclose(norms, 1.0, rtol=1e-5)
    assert json.loads(rows[2].metadata) == {"i": 2}
    assert db.vector_dimension == 8


def test_dimension_pinned_by_first_add(db):
    rng = np.random.default_rng(1)
    db.add([(v, {}) for v in _mk(rng, 2, 8)])
    with pytest.raises(ValidationError, match="not the correct size"):
        db.add([(np.ones(9, dtype=np.float32), {})])


def test_flat_query_matches_brute_force(db):
    rng = np.random.default_rng(2)
    mat = _mk(rng, 300, 16)
    db.add([(v, {"row": i}) for i, v in enumerate(mat)])
    q = mat[17]
    res = db.query(q, final_top_k=10)
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    scores = norm.astype(np.float64) @ qn.astype(np.float64)
    expected = np.lexsort((np.arange(300), -scores))[:10]
    assert res["ids"] == list(expected)
    assert res["ids"][0] == 17
    np.testing.assert_allclose(res["cosine_similarity"], scores[expected], rtol=1e-5)
    assert res["metadata"][0] == {"row": 17}
    # invariants: unique ids, clamp, sims within [-1, 1]
    assert len(set(res["ids"])) == 10
    # float32-stored unit vectors scored in float64 can overshoot by ~1e-7
    assert all(-1.0 - 1e-6 <= s <= 1.0 + 1e-6 for s in res["cosine_similarity"])
    big = db.query(q, final_top_k=10_000)
    assert len(big["ids"]) == 300


def test_remove_updates_counters_and_results(db):
    rng = np.random.default_rng(3)
    mat = _mk(rng, 50, 8)
    db.add([(v, {}) for v in mat])
    assert db.info()["num_new_vectors"] == 50
    existed = db.remove([5, 6, 9999])
    assert sorted(existed) == [5, 6]
    assert db.num_vectors == 48
    assert db.info()["num_new_vectors"] == 48  # new-id removals decrement
    res = db.query(mat[5], final_top_k=48)
    assert 5 not in res["ids"] and 6 not in res["ids"]
    # removing again is a no-op
    assert db.remove([5]) == []


def test_coverage_ratio_lifecycle(db, spark):
    rng = np.random.default_rng(4)
    mat = _mk(rng, 100, 8)
    db.add([(v, {}) for v in mat])
    assert db.coverage_ratio() == 0.0  # never trained
    db.train()  # n < 5000 -> flat, but watermark/counters set
    assert db.coverage_ratio() == 1.0
    db.add([(v, {}) for v in _mk(rng, 100, 8)])
    assert db.coverage_ratio() == pytest.approx(0.5)  # (100-0)/(100+100)
    removed = db.remove(list(range(50)))  # ids <= watermark
    assert len(removed) == 50
    assert db.info()["num_trained_vectors_removed"] == 50
    assert db.coverage_ratio() == pytest.approx(0.25)  # (100-50)/(100+100)


def test_persistence_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(5)
    d1 = VectorDB(spark, "persist", base_path=str(tmp_path))
    d1.add([(v, {"k": "v"}) for v in _mk(rng, 10, 4)])
    d2 = VectorDB(spark, "persist", base_path=str(tmp_path))
    assert d2.max_id == 9
    assert d2.vector_dimension == 4
    assert d2.num_vectors == 10
    res = d2.query(_mk(rng, 1, 4)[0], final_top_k=3)
    assert len(res["ids"]) == 3
    d2.delete()
    assert not VectorDB.exists("persist", base_path=str(tmp_path))


@pytest.fixture(scope="module")
def clustered_corpus():
    """6k vectors in 40 Gaussian clusters — ANN recall is non-trivial."""
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(40, 32)) * 3.0
    assign = rng.integers(0, 40, size=6000)
    mat = centers[assign] + rng.normal(size=(6000, 32))
    return mat.astype(np.float32)


def test_cell_skew_telemetry_warns_on_hot_cell(spark, tmp_path):
    """VERDICT r10 #6: a corpus with one dominant tight blob must produce
    a cell-skew warning from the build and measurable stats on disk; a
    balanced corpus must stay silent."""
    import json
    import warnings as W

    from mindb_spark.core.heuristics import IndexParams
    from mindb_spark.index.build import CELL_SKEW_WARN_RATIO, build_index

    rng = np.random.default_rng(7)
    # 90% of rows in one tight blob, the rest spread wide -> with 16
    # cells the blob lands in ~1 cell: max >> median
    blob = rng.normal(size=(2700, 16)) * 0.01 + 5.0
    spread = rng.normal(size=(300, 16)) * 8.0
    mat = np.vstack([blob, spread])
    df = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(mat)],
        "id long, vector array<double>",
    )
    params = IndexParams(
        num_clusters=16, n_probe=4, pca_dimension=16,
        opq_dimension=None, omit_opq=True, compressed_vector_bytes=4,
    )
    with pytest.warns(UserWarning, match="cell-size skew"):
        build_index(df, params, str(tmp_path / "skewed"), n_buckets=4)
    stats = json.load(open(tmp_path / "skewed" / "cell_stats.json"))
    assert stats["skew_ratio"] > CELL_SKEW_WARN_RATIO
    assert stats["max_cell_size"] >= 2000
    # balanced corpus: no skew warning
    bal = rng.normal(size=(3000, 16))
    bdf = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(bal)],
        "id long, vector array<double>",
    )
    with W.catch_warnings():
        W.simplefilter("error", UserWarning)
        build_index(bdf, params, str(tmp_path / "balanced"), n_buckets=4)
    bstats = json.load(open(tmp_path / "balanced" / "cell_stats.json"))
    assert bstats["skew_ratio"] <= CELL_SKEW_WARN_RATIO


@pytest.mark.slow
def test_trained_index_recall(spark, tmp_path, clustered_corpus):
    mat = clustered_corpus
    db = VectorDB(spark, "trained", base_path=str(tmp_path))
    db.add_dataframe(
        spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(mat)], "rid long, vector array<float>"
        ),
        vector_col="vector",
    )
    assert db.num_vectors == 6000
    db.train(use_two_level_clustering=False)
    assert db.is_trained
    info = db.info()
    assert info["trained_index_coverage_ratio"] == 1.0
    # realized cell telemetry surfaced by the build (VERDICT r10 #6)
    cs = info["cell_stats"]
    assert cs is not None and cs["nonempty_cells"] >= 1
    assert cs["max_cell_size"] >= cs["median_cell_size"] >= 1
    assert cs["skew_ratio"] == pytest.approx(
        cs["max_cell_size"] / cs["median_cell_size"], rel=0.02
    )

    # ground truth by exact brute force over normalized corpus
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    queries = norm[:20]
    gt = np.argsort(-(norm.astype(np.float64) @ queries.T.astype(np.float64)), axis=0)[:10].T

    out = db.query_df(queries, preliminary_top_k=200, final_top_k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(by_q[i] & set(gt[i].tolist())) / 10 for i in range(20)]
    assert np.mean(recalls) > 0.9, f"recall too low: {np.mean(recalls)} {recalls}"

    # rows added after training are searched exactly (unindexed tail)
    probe = np.ones(32, dtype=np.float32)
    new_ids = db.add([(probe, {"tail": True})])
    res = db.query(probe, final_top_k=5)
    assert res["ids"][0] == new_ids[0]
    assert res["cosine_similarity"][0] == pytest.approx(1.0, abs=1e-6)

    # deletes take effect immediately even though codes still hold the id
    victim = int(gt[0][0])
    db.remove([victim])
    res2 = db.query_df(queries[:1], preliminary_top_k=200, final_top_k=10).collect()
    assert victim not in {r.id for r in res2}
    db.delete()


@pytest.mark.slow
def test_two_level_training_recall(spark, tmp_path, clustered_corpus):
    mat = clustered_corpus
    db = VectorDB(spark, "twolevel", base_path=str(tmp_path))
    db.add_dataframe(
        spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(mat)], "rid long, vector array<float>"
        ),
        vector_col="vector",
    )
    db.train(use_two_level_clustering=True)
    assert db.is_trained

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    queries = norm[:10]
    gt = np.argsort(-(norm.astype(np.float64) @ queries.T.astype(np.float64)), axis=0)[:10].T
    out = db.query_df(queries, preliminary_top_k=200, final_top_k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(by_q[i] & set(gt[i].tolist())) / 10 for i in range(10)]
    assert np.mean(recalls) > 0.9, f"recall too low: {np.mean(recalls)} {recalls}"
    db.delete()


@pytest.mark.slow
def test_opq_training_recall(spark, tmp_path, clustered_corpus):
    """omit_opq=False trains the rotation end-to-end; recall holds and the
    manifest records the OPQ parameters (no accepted-but-ignored knob)."""
    mat = clustered_corpus
    db = VectorDB(spark, "opq", base_path=str(tmp_path))
    db.add_dataframe(
        spark.createDataFrame(
            [(row.tolist(),) for row in mat], "vector array<float>"
        ),
        vector_col="vector",
    )
    db.train(
        use_two_level_clustering=False, omit_opq=False,
        pca_dimension=32, opq_dimension=16, compressed_vector_bytes=8,
    )
    assert db.is_trained
    ip = db.info()["index_params"]
    assert ip["omit_opq"] is False and ip["opq_dimension"] == 16

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    queries = norm[:20]
    gt = np.argsort(-(norm.astype(np.float64) @ queries.T.astype(np.float64)), axis=0)[:10].T
    out = db.query_df(queries, preliminary_top_k=200, final_top_k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(by_q[i] & set(gt[i].tolist())) / 10 for i in range(20)]
    assert np.mean(recalls) > 0.85, f"recall too low: {np.mean(recalls)} {recalls}"
    db.delete()


def test_num_vectors_fast_matches_count_through_lifecycle(spark, tmp_path):
    """Manifest-counter live count == actual count() through add/remove/train."""
    import numpy as np

    db = VectorDB(spark, "fastcount", base_path=str(tmp_path))
    rng = np.random.default_rng(2)
    db.add([(v.tolist(), None) for v in rng.normal(size=(30, 8))])
    assert db.num_vectors_fast == db.num_vectors == 30
    db.remove([0, 5, 7])
    assert db.num_vectors_fast == db.num_vectors == 27
    db.train()
    assert db.num_vectors_fast == db.num_vectors == 27
    db.add([(v.tolist(), None) for v in rng.normal(size=(4, 8))])
    db.remove([1, 28])  # one pre-watermark, one post-watermark id
    assert db.num_vectors_fast == db.num_vectors == 29
    db.delete()


def test_trained_query_with_metadata_filter(spark, tmp_path, monkeypatch):
    """Pre-filtered search on the TRAINED path: results honor the filter
    and equal the filtered brute force (prelim_k covers the corpus here,
    so the two-stage result is exact)."""
    import numpy as np

    import mindb_spark.core.heuristics as H

    monkeypatch.setattr(H, "FLAT_INDEX_CUTOFF", 100)  # force a real IVF train
    db = VectorDB(spark, "filtertrained", base_path=str(tmp_path))
    rng = np.random.default_rng(4)
    mat = rng.normal(size=(600, 16))
    db.add([(v.tolist(), {"lang": "en" if i % 2 == 0 else "de"}) for i, v in enumerate(mat)])
    db.train()
    assert db.is_trained

    q = mat[10]
    res = db.query(q, preliminary_top_k=600, final_top_k=5,
                   metadata_filter="get_json_object(metadata, '$.lang') = 'en'")
    assert len(res["ids"]) == 5
    assert all(m["lang"] == "en" for m in res["metadata"])

    # brute force over the filtered (normalized) corpus
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    even = np.arange(0, 600, 2)
    order = even[np.argsort(-(norm[even] @ qn), kind="stable")][:5]
    assert res["ids"] == [int(i) for i in order]
    db.delete()


def test_filtered_query_selectivity_routing(spark, tmp_path, monkeypatch):
    """Selectivity-aware filtered ANN (VERDICT r6 #2): a 1% filter on a
    trained DB routes to EXACT kNN over the filtered subset — full k
    results even under a tight preliminary_top_k that would starve the
    post-filtered probe — while a broad filter stays on the IVF path
    with preliminary_top_k boosted by 1/selectivity."""
    import math

    import numpy as np

    import mindb_spark.core.heuristics as H

    monkeypatch.setattr(H, "FLAT_INDEX_CUTOFF", 100)
    db = VectorDB(spark, "selroute", base_path=str(tmp_path))
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(1000, 16))
    db.add([
        (v.tolist(), {"lang": "rare" if i % 100 == 0 else "common"})
        for i, v in enumerate(mat)
    ])
    db.train()
    assert db.is_trained

    q = mat[0]
    rare = "get_json_object(metadata, '$.lang') = 'rare'"
    # prelim 20 at 1% selectivity: the post-filtered probe would keep
    # ~0.2 candidates in expectation — the exact route must return k
    res = db.query(q, preliminary_top_k=20, final_top_k=5, metadata_filter=rare)
    route = db._last_filter_route
    assert route[0] == "exact" and abs(route[1] - 0.01) < 1e-9
    assert len(res["ids"]) == 5
    assert all(m["lang"] == "rare" for m in res["metadata"])
    # and the answer IS the exact filtered brute force
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    ids = np.arange(0, 1000, 100)
    order = ids[np.argsort(-(norm[ids] @ qn), kind="stable")][:5]
    assert res["ids"] == [int(i) for i in order]

    # broad filter (99%): IVF path, prelim boosted by 1/selectivity
    common = "get_json_object(metadata, '$.lang') = 'common'"
    res2 = db.query(q, preliminary_top_k=10, final_top_k=5, metadata_filter=common)
    route2 = db._last_filter_route
    assert route2[0] == "boosted" and abs(route2[1] - 0.99) < 1e-9
    assert route2[2] == math.ceil(10 / 0.99)
    assert len(res2["ids"]) == 5
    assert all(m["lang"] == "common" for m in res2["metadata"])

    # the selectivity count is cached per (filter, data state): same key
    # on a repeat query, invalidated (new key) by any mutation
    assert len(db._filter_sel_cache) == 2
    db.query(q, final_top_k=3, metadata_filter=rare)
    assert len(db._filter_sel_cache) == 2
    db.add([(mat[0].tolist(), {"lang": "rare"})])
    db.query(q, final_top_k=3, metadata_filter=rare)
    assert len(db._filter_sel_cache) == 3
    db.delete()


def test_trained_persistence_roundtrip(spark, tmp_path, monkeypatch):
    """A TRAINED database reopened from disk (manifest + artifacts + codes
    incl. the precomputed bterm column) serves identical two-stage results."""
    import mindb_spark.core.heuristics as H

    monkeypatch.setattr(H, "FLAT_INDEX_CUTOFF", 100)
    rng = np.random.default_rng(9)
    mat = _mk(rng, 400, 12)
    d1 = VectorDB(spark, "persist_trained", base_path=str(tmp_path))
    d1.add([(v, {"i": i}) for i, v in enumerate(mat)])
    d1.train()
    assert d1.is_trained
    q = mat[33]
    before = d1.query(q, preliminary_top_k=400, final_top_k=5)

    d2 = VectorDB(spark, "persist_trained", base_path=str(tmp_path))
    assert d2.is_trained and d2.num_vectors == 400
    after = d2.query(q, preliminary_top_k=400, final_top_k=5)
    assert before["ids"] == after["ids"]
    assert before["cosine_similarity"] == after["cosine_similarity"]
    assert after["ids"][0] == 33
    # post-reload mutation keeps working and the tail is searched exactly
    d2.add([(mat[33], {"i": 400})])
    res = d2.query(q, preliminary_top_k=400, final_top_k=2)
    assert set(res["ids"]) == {33, 400}
    d2.delete()


def test_hybrid_query_on_trained_index(spark, tmp_path, clustered_corpus):
    """Hybrid retrieval must work over the TRAINED two-stage path: the
    vector ranking comes from IVF-PQ + rerank (with the preliminary stage
    deepened to cover the fusion pool), fused with BM25 over metadata."""
    mat = clustered_corpus
    db = VectorDB(spark, "hybdb", base_path=str(tmp_path))
    db.add(
        [
            (v.tolist(), {"text": f"token{i % 40} shared filler words"})
            for i, v in enumerate(mat)
        ]
    )
    db.train()
    assert db.is_trained

    rows = db.hybrid_query_df(
        mat[5].tolist(), ["token5"], final_top_k=10
    ).collect()
    assert len(rows) == 10
    ids = [r.id for r in rows]
    # doc 5 matches the keyword AND is the vector self-hit -> must lead
    assert rows[0].id == 5 and rows[0].in_both
    assert all(rows[i].rrf_score >= rows[i + 1].rrf_score for i in range(9))

    kw = db.keyword_query_df(["token5"], final_top_k=1000).collect()
    # exactly the docs with i % 40 == 5 carry 'token5'
    expect = {i for i in range(mat.shape[0]) if i % 40 == 5}
    assert {r.id for r in kw} == expect
    db.delete()


def test_index_tail_folds_new_rows_into_live_index(spark, tmp_path, clustered_corpus):
    """The reference's add_to_new_faiss_index path: tail rows get encoded
    with the existing artifacts and leave the exactly-searched tail."""
    mat = clustered_corpus
    db = VectorDB(spark, "taildb", base_path=str(tmp_path))
    db.add([(v.tolist(), {"i": i}) for i, v in enumerate(mat[:5500])])
    db.train()
    assert db.is_trained and db.coverage_ratio() == 1.0

    # tail: 300 more rows drawn from the same clusters
    tail_vecs = mat[5500:5800]
    ids = db.add([(v.tolist(), {"i": 5500 + i}) for i, v in enumerate(tail_vecs)])
    assert db.coverage_ratio() < 1.0
    probe = tail_vecs[7]
    res = db.query(probe, final_top_k=5)
    assert ids[7] in res["ids"]  # found via the exact tail path

    wm_before = db.info()["max_trained_id"]
    n = db.index_tail()
    assert n == 300
    assert db.coverage_ratio() == 1.0
    assert db.info()["max_trained_id"] == ids[-1] > wm_before

    # still found, now through the ANN path (no tail remains)
    res2 = db.query(probe, final_top_k=5)
    assert ids[7] in res2["ids"]
    # idempotent
    assert db.index_tail() == 0

    # dual-write flag: rows are indexed as part of add()
    more = db.add([(mat[5900].tolist(), {"i": 5900})], add_to_index=True)
    assert db.info()["max_trained_id"] == more[-1]
    assert db.coverage_ratio() == 1.0
    db.delete()


def test_index_tail_requires_training(spark, tmp_path):
    db = VectorDB(spark, "flat_tail", base_path=str(tmp_path))
    db.add([([1.0, 0.0], {})])
    with pytest.raises(ValidationError):
        db.index_tail()
    db.delete()


def test_index_tail_skips_when_index_busy(spark, tmp_path):
    """A held index mutex (concurrent retrain / another tail append) makes
    index_tail a safe no-op instead of racing the version swap."""
    rng = np.random.default_rng(8)
    db = VectorDB(spark, "busytail", base_path=str(tmp_path))
    db.add([(v.tolist(), {}) for v in _mk(rng, 5100, 8)])
    db.train()
    db.add([(v.tolist(), {}) for v in _mk(rng, 10, 8)])
    assert db._index_mutex.acquire(blocking=False)
    try:
        assert db.index_tail() == 0  # busy -> no-op, counters untouched
        assert db.info()["num_new_vectors"] == 10
    finally:
        db._index_mutex.release()
    assert db.index_tail() == 10  # and works once released
    db.delete()


def test_add_dataframe_metadata_encoding_modes(spark, tmp_path):
    db = VectorDB(spark, "metamodes", base_path=str(tmp_path))
    # scalar column wraps as {"name": value}
    db.add_dataframe(
        spark.createDataFrame([([1.0, 0.0], "hello")], "vector array<double>, note string"),
        metadata_col="note",
    )
    # pre-encoded JSON passes through verbatim only with the explicit flag
    db.add_dataframe(
        spark.createDataFrame([([0.0, 1.0], '{"k": 3}')], "vector array<double>, metadata string"),
        metadata_col="metadata", metadata_is_json=True,
    )
    res = db.query([1.0, 0.0], final_top_k=2)
    metas = {tuple(sorted(m.items())) for m in res["metadata"]}
    assert (("note", "hello"),) in metas and (("k", 3),) in metas
    # WITHOUT the flag, even a column named 'metadata' is wrapped (no
    # name-based magic): free text can never break query()'s decode
    db.add_dataframe(
        spark.createDataFrame([([1.0, 1.0], "free text")], "vector array<double>, metadata string"),
        metadata_col="metadata",
    )
    res2 = db.query([1.0, 1.0], final_top_k=1)
    assert res2["metadata"][0] == {"metadata": "free text"}
    db.delete()


@pytest.mark.parametrize("null_at", [1, 0], ids=["middle", "first"])
def test_add_dataframe_rejects_null_vectors(spark, tmp_path, null_at):
    """A null vector fails the batch-atomic check before any write, like
    a wrong-size one (``size(NULL)`` is NULL under ANSI mode, so the
    size test alone lets a null row through)."""
    db = VectorDB(spark, "nullvec", base_path=str(tmp_path))
    db.add_dataframe(spark.createDataFrame([([1.0, 0.0],)], "vector array<float>"))
    rows = [([0.0, 1.0],), ([1.0, 1.0],)]
    rows.insert(null_at, (None,))
    with pytest.raises(ValidationError, match="null"):
        db.add_dataframe(spark.createDataFrame(rows, "vector array<float>"))
    assert db.vectors().count() == 1 and db.max_id == 0
    assert db.query([1.0, 0.0], final_top_k=2)["ids"] == [0]
    db.delete()


def test_create_params_pin_dimension_and_memory_cap(spark, tmp_path):
    """Reference create params (mindb.py:42): vector_dimension pre-pins
    validation before any add; max_memory_usage persists in the manifest
    and surfaces in info()."""
    db = VectorDB(
        spark, "pinned", base_path=str(tmp_path),
        vector_dimension=16, max_memory_usage=1 << 30,
    )
    try:
        assert db.vector_dimension == 16
        assert db.max_memory_usage == 1 << 30
        rng = np.random.default_rng(3)
        with pytest.raises(ValidationError):
            db.add([(v, {}) for v in _mk(rng, 2, 8)])  # 8-d into a 16-d DB
        db.add([(v, {}) for v in _mk(rng, 2, 16)])
        # create-time settings survive a reopen (manifest write-through)
        reopened = VectorDB(spark, "pinned", base_path=str(tmp_path))
        assert reopened.vector_dimension == 16
        assert reopened.info()["max_memory_usage"] == 1 << 30
    finally:
        db.delete()


def test_create_rejects_bad_dimension(spark, tmp_path):
    for i, bad in enumerate((0, -4, 2.5, True, "8")):
        with pytest.raises(ValidationError, match="vector_dimension"):
            VectorDB(spark, f"bad_{i}", base_path=str(tmp_path), vector_dimension=bad)


def test_train_num_clusters_override(spark, tmp_path):
    """train(num_clusters=...) pins the IVF cluster count end-to-end."""
    db = VectorDB(spark, "pinned_k", base_path=str(tmp_path))
    try:
        rng = np.random.default_rng(11)
        db.add([(v, {}) for v in _mk(rng, 6000, 16)])
        db.train(num_clusters=7)
        assert db.index_params["num_clusters"] == 7
        res = db.query(_mk(rng, 1, 16)[0], final_top_k=5)
        assert len(res["ids"]) == 5
        with pytest.raises(ValidationError, match="num_clusters"):
            db.train(num_clusters=0)
    finally:
        db.delete()


def test_two_handles_share_id_authority(spark, tmp_path):
    """Handles are cheap and may coexist (registry races, LRU eviction +
    reopen). Id allocation must stay gapless-unique across handles: the
    path lock is process-wide and the manifest is re-read from disk at
    mutation entry."""
    rng = np.random.default_rng(21)
    h1 = VectorDB(spark, "shared", base_path=str(tmp_path))
    h1.add([(v, {}) for v in _mk(rng, 3, 8)])
    # second handle opened BEFORE h1's next write; its in-memory manifest
    # is stale by the time it allocates
    h2 = VectorDB(spark, "shared", base_path=str(tmp_path))
    h1.add([(v, {}) for v in _mk(rng, 2, 8)])   # ids 3, 4
    ids = h2.add([(v, {}) for v in _mk(rng, 2, 8)])  # must be 5, 6 — not 3, 4
    assert ids == [5, 6]
    rows = h1.vectors().select("id").collect()
    assert sorted(r.id for r in rows) == list(range(7))
    # and both handles share one lock object (no private-lock interleaving)
    assert h1._lock is h2._lock
    h1.delete()


def test_eviction_then_readd_allocates_fresh_ids(spark, tmp_path):
    """LRU eviction mid-lifecycle must never lead to duplicate ids."""
    from mindb_spark.core.engine import Engine

    rng = np.random.default_rng(22)
    eng = Engine(spark, base_path=str(tmp_path))
    eng.create_db("evict_ids")
    first = eng.add("evict_ids", [(v, {}) for v in _mk(rng, 4, 8)])
    stale = eng.get_db("evict_ids")  # hold a reference across eviction
    eng.update_max_memory_usage(0)   # evict everything idle
    eng.update_max_memory_usage(None)
    second = eng.add("evict_ids", [(v, {}) for v in _mk(rng, 4, 8)])
    # the stale handle's next mutation must also see the disk authority
    third = stale.add([(v, {}) for v in _mk(rng, 2, 8)])
    allocated = first + second + third
    assert len(allocated) == len(set(allocated)) == 10
    assert sorted(allocated) == list(range(10))


def test_counters_visible_across_handles(spark, tmp_path):
    """Counter reads (info / num_vectors_fast / coverage_ratio) must see
    mutations made through OTHER handles — disk is the counter authority
    just as it is for id allocation."""
    rng = np.random.default_rng(31)
    h1 = VectorDB(spark, "xhandle", base_path=str(tmp_path))
    h2 = VectorDB(spark, "xhandle", base_path=str(tmp_path))  # opened early
    h1.add([(v, {}) for v in _mk(rng, 7, 8)])
    assert h2.num_vectors_fast == 7
    assert h2.info()["num_vectors"] == 7
    h1.remove([0, 1])
    assert h2.num_vectors_fast == 5
    h1.delete()


def test_index_tail_counters_exact_after_interleaved_remove(spark, tmp_path):
    """num_vectors_fast (load-bearing for /info and auto-train) must stay
    exactly the live count through tail-indexing interleaved with
    removes of both trained and tail rows."""
    rng = np.random.default_rng(32)
    db = VectorDB(spark, "tailrm", base_path=str(tmp_path))
    db.add([(v, {}) for v in _mk(rng, 6000, 16)])
    db.train()
    db.add([(v, {}) for v in _mk(rng, 50, 16)])   # unindexed tail
    db.remove([0, 1, 6005])                        # trained + tail rows
    assert db.index_tail() > 0
    assert db.num_vectors_fast == db.num_vectors == 6047
    db.remove([6010])
    assert db.index_tail() == 0  # nothing new above the watermark
    assert db.num_vectors_fast == db.num_vectors == 6046
    db.delete()


def test_evaluate_recall(spark, tmp_path, monkeypatch):
    """evaluate_recall measures the trained path against exact kNN on
    sampled stored vectors (round 7: the operator-facing signal for the
    prelim-vs-corpus-size recall tradeoff). On a small well-clustered
    corpus where preliminary_top_k covers half the rows, recall must be
    ~1; untrained DBs are exact by construction."""
    import mindb_spark.core.heuristics as H

    monkeypatch.setattr(H, "FLAT_INDEX_CUTOFF", 100)
    db = VectorDB(spark, "receval", base_path=str(tmp_path))
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(8, 16)) * 4.0
    mat = centers[rng.integers(0, 8, size=1000)] + rng.normal(size=(1000, 16))
    db.add([(v.tolist(), {}) for v in mat])
    assert db.evaluate_recall(n_queries=4) == 1.0  # untrained -> exact path
    db.train()
    assert db.is_trained
    r = db.evaluate_recall(n_queries=8, final_top_k=10, preliminary_top_k=500)
    assert 0.95 <= r <= 1.0
    # a starved budget must read LOWER OR EQUAL, never higher
    r_tight = db.evaluate_recall(n_queries=8, final_top_k=10, preliminary_top_k=12)
    assert r_tight <= r + 1e-9
    db.delete()


def test_add_dataframe_arrow_route_bitexact(spark, tmp_path):
    """Bulk ingest routes normalization through the Arrow kernel past
    ~1M scalar elements (round 8). The declarative route is bit-exact
    against the double-precision reference; the Arrow route's SIMD
    summation order may cross a float32 rounding boundary, so its
    contract is within ONE float32 ULP per value (and exactly unit
    norm to float64 1e-6, zero vectors passing through untouched).
    1500 x 768 crosses the gate; 1500 x 64 stays declarative."""
    import numpy as np

    from mindb_spark.core.database import VectorDB

    rng = np.random.default_rng(13)
    for d, route in ((768, "arrow"), (64, "hof")):
        mat = rng.normal(size=(1500, d)).astype(np.float32)
        mat[7] = 0.0
        db = VectorDB(spark, f"ing{d}", base_path=str(tmp_path))
        db.add_dataframe(
            spark.createDataFrame([(r.tolist(),) for r in mat], "vector array<float>")
        )
        got = np.array(
            [r.vector for r in db.vectors().orderBy("id").collect()],
            dtype=np.float64,
        )
        exp = mat.astype(np.float64)
        nn = np.linalg.norm(exp, axis=1, keepdims=True)
        nn[nn == 0] = 1.0
        exp = (exp / nn).astype(np.float32).astype(np.float64)
        if route == "hof":
            assert np.array_equal(got, exp), np.abs(got - exp).max()
        else:
            ulp = np.spacing(np.abs(exp).astype(np.float32)).astype(np.float64)
            assert (np.abs(got - exp) <= ulp + 1e-300).all(), (
                route, np.abs(got - exp).max()
            )
            nrm = np.linalg.norm(got, axis=1)
            live = np.ones(len(got), dtype=bool)
            live[7] = False
            assert np.abs(nrm[live] - 1.0).max() < 1e-6
        assert got[7].tolist() == [0.0] * d  # zero vector unchanged
        db.delete()


def test_add_writes_one_parquet_file_bit_equal_to_spark_rows(spark, tmp_path):
    """add() writes each batch as ONE parquet file straight from Arrow —
    no temp, _SUCCESS or crc leftovers — and every reader (vectors(),
    train's pinned file list, compact) gets back exactly the rows the
    Spark write of the same input stores (double -> float cast)."""
    import os

    from mindb_spark.core.database import VECTOR_SCHEMA

    rng = np.random.default_rng(21)
    db = VectorDB(spark, "layout", base_path=str(tmp_path))
    batches = [
        [(v, {"b": b, "i": i, "s": "\u00e9\"x"}) for i, v in enumerate(_mk(rng, n, 12))]
        for b, n in enumerate((1, 5, 3))
    ]
    before = set(os.listdir(db._data_dir))
    ids = []
    for batch in batches:
        ids += db.add(batch)
        now = set(os.listdir(db._data_dir))
        new = now - before
        assert len(new) == 1 and new.pop().endswith(".parquet"), now - before
        before = now
    assert ids == list(range(9))

    # the old write path: Spark casts the double vectors to float
    from mindb_spark.core.validation import validate_and_normalize_add

    rows = []
    for batch in batches:
        vecs, metas = validate_and_normalize_add(batch, 12)
        for v, m in zip(vecs, metas):
            rows.append((len(rows), v.astype(np.float64).tolist(), json.dumps(m)))
    ref_dir = str(tmp_path / "spark_written")
    spark.createDataFrame(rows, VECTOR_SCHEMA).write.parquet(ref_dir)
    ref = spark.read.schema(VECTOR_SCHEMA).parquet(ref_dir)

    def table(df):
        t = df.orderBy("id").toArrow()
        return (
            t.column("id").to_pylist(),
            np.array(t.column("vector").to_pylist(), dtype=np.float32).view(np.uint32),
            t.column("metadata").to_pylist(),
        )

    def same(df):
        got, want = table(df), table(ref)
        assert got[0] == want[0] and got[2] == want[2]
        assert np.array_equal(got[1], want[1])  # float32 bits

    same(db.vectors())
    files = sorted(  # train()'s pinned file list
        os.path.join(db._data_dir, f)
        for f in os.listdir(db._data_dir)
        if f.endswith(".parquet")
    )
    assert len(files) == 3
    same(spark.read.schema(VECTOR_SCHEMA).parquet(*files))
    assert db.compact() == 1
    same(db.vectors())
    db.delete()


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, prev)


def test_remove_sequence_matches_live_set_model(spark, tmp_path, monkeypatch, arrow_conf):
    """A seeded sequence of adds, removes (of live, dead and unknown ids)
    and compactions, checked after every step against a Python live-set
    model: remove's return value (``[]`` and no new version when nothing
    live matched), the manifest counters, ``vectors()``, the deletion
    file (it folds away once it holds more than 10% of the live rows),
    and a second handle's resident snapshot, revalidated through
    ``refresh_deletes``."""
    import os

    import mindb_spark.core.heuristics as H
    from mindb_spark.core import database as D
    from mindb_spark.core.resident import ResidentSnapshot as RS

    monkeypatch.setattr(H, "FLAT_INDEX_CUTOFF", 100)
    rng = np.random.default_rng(41)
    db = VectorDB(spark, "model", base_path=str(tmp_path))
    mat = _mk(rng, 400, 8)
    db.add([(v, {"i": i}) for i, v in enumerate(mat)])
    db.train(use_two_level_clustering=False, recall_target=None)
    watermark, live, pending = 399, set(range(400)), set()
    counters = {"num_new_vectors": 0, "num_trained_vectors_removed": 0}
    other = VectorDB(spark, "model", base_path=str(tmp_path))
    assert other.enable_resident_serving() is True
    absorbed = []
    refresh = RS.refresh_deletes

    def counted(self, *args, **kwargs):
        out = refresh(self, *args, **kwargs)
        absorbed.append(out is not None)
        return out

    monkeypatch.setattr(RS, "refresh_deletes", counted)
    queries = mat[:3]
    kinds = ["remove", "add", "remove", "dead", "remove", "compact", "remove",
             "add", "remove", "remove", "dead", "remove", "remove", "remove"]
    folded = False
    for step, kind in enumerate(kinds):
        version = db._manifest["data_version"]
        if kind == "add":
            n = int(rng.integers(1, 5))
            ids = db.add([(v, {"step": step}) for v in _mk(rng, n, 8)])
            live |= set(ids)
            counters["num_new_vectors"] += n
        elif kind == "compact":
            db.compact()
            pending = set()
        else:
            dead = sorted(set(range(db.max_id + 1)) - live)
            wanted = [int(i) for i in rng.choice(dead, min(2, len(dead)), replace=False)]
            wanted.append(db.max_id + 1000)  # never allocated
            if kind == "remove":
                wanted += [int(i) for i in rng.choice(sorted(live), 6, replace=False)]
            expect = sorted(set(wanted) & live)
            got = db.remove(wanted)
            assert sorted(got) == expect, step
            trained = sum(1 for i in expect if i <= watermark)
            counters["num_trained_vectors_removed"] += trained
            counters["num_new_vectors"] -= len(expect) - trained
            live -= set(expect)
            pending |= set(expect)
            fold = bool(expect) and len(pending) > 0.1 * len(live)
            folded |= fold
            if fold:
                pending = set()
            bumps = 0 if not expect else 1 + fold
            assert db._manifest["data_version"] == version + bumps, step
        info = db.info()
        assert info["num_vectors"] == len(live), step
        assert info["num_vectors_trained_on"] == 400, step
        for key, value in counters.items():
            assert info[key] == value, (step, key)
        assert {r.id for r in db.vectors().select("id").collect()} == live, step
        assert set(D._deleted_ids(db._data_dir).tolist()) == pending, step
        assert os.path.isdir(os.path.join(db._data_dir, "_deleted")) == bool(pending)
        served = other.query_batch_local(queries, 200, 5)
        assert served == RS.build(db, None).query(queries, 200, 5), step
        assert all(set(r["ids"]) <= live for r in served), step
        tail = {i for i in live if i > watermark}
        assert set(other._resident.tail_ids.tolist()) == tail, step
    assert folded and any(absorbed)
    db.delete()


def test_remove_failure_before_manifest_save_keeps_old_version(spark, tmp_path, monkeypatch):
    """A remove that fails after linking the data files and writing the
    deletion file, but before its manifest save, leaves the old version
    served with unchanged counters; the next remove clears the orphaned
    directory and succeeds (here as on a filesystem without hard links,
    where the data files are copied)."""
    import os

    from mindb_spark.core import database as D

    rng = np.random.default_rng(42)
    db = VectorDB(spark, "failrm", base_path=str(tmp_path))
    db.add([(v, {}) for v in _mk(rng, 50, 8)])
    assert db.remove([0]) == [0]
    info, version = db.info(), db._manifest["data_version"]
    orphan = os.path.join(db.path, "vectors", f"v{version + 1}")

    def fail(self):
        raise OSError("injected manifest-save failure")

    monkeypatch.setattr(VectorDB, "_save_manifest", fail)
    with pytest.raises(OSError, match="injected"):
        db.remove([3, 4])
    monkeypatch.undo()
    assert os.path.isfile(os.path.join(orphan, "_deleted", "ids.parquet"))
    assert db._manifest["data_version"] == version
    assert db.info() == info
    survivors = list(range(1, 50))
    assert sorted(r.id for r in db.vectors().collect()) == survivors
    other = VectorDB(spark, "failrm", base_path=str(tmp_path))
    assert sorted(r.id for r in other.vectors().collect()) == survivors

    def no_link(src, dst):
        raise OSError("hard links not supported")

    monkeypatch.setattr(os, "link", no_link)
    assert db.remove([5]) == [5]
    monkeypatch.undo()
    assert db._manifest["data_version"] == version + 1
    assert D._deleted_ids(db._data_dir).tolist() == [0, 5]  # not the orphan's 3, 4
    assert sorted(r.id for r in db.vectors().collect()) == [i for i in survivors if i != 5]
    assert db.info()["num_new_vectors"] == 48
    db.delete()


def test_point_add_and_remove_run_no_spark_job(spark, tmp_path):
    """add() and a remove() below the fold threshold run no Spark job.
    A sentinel job run afterwards in another group shows the status
    tracker has seen every earlier job before the group is checked."""
    import time
    import uuid

    rng = np.random.default_rng(43)
    db = VectorDB(spark, "nojob", base_path=str(tmp_path))
    db.add([(v, {}) for v in _mk(rng, 50, 8)])
    sc = spark.sparkContext
    group, sentinel = (f"{p}-{uuid.uuid4().hex}" for p in ("writes", "sentinel"))
    try:
        sc.setJobGroup(group, "point writes")
        assert db.add([(v, {}) for v in _mk(rng, 5, 8)]) == list(range(50, 55))
        assert sorted(db.remove([3, 7, 52, 99])) == [3, 7, 52]
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(sentinel)
    assert tracker.getJobIdsForGroup(group) == []
    assert db.num_vectors == 52
    db.delete()


def test_overlapping_pins_defer_removal_until_the_last_release(spark, tmp_path):
    """Pins are counted per directory: when two readers pin one version
    and a remove retires it, releasing the first pin keeps the directory
    (and its deferred removal) for the second; the last release reaps it."""
    import os

    rng = np.random.default_rng(44)
    db = VectorDB(spark, "pins", base_path=str(tmp_path))
    db.add([(v, {}) for v in _mk(rng, 20, 8)])
    first = db._data_dir
    with db._pinned_version() as (_, outer_dir, _):
        with db._pinned_version() as (manifest, data_dir, index_dir):
            assert data_dir == outer_dir == first and index_dir is None
            assert db.remove([1]) == [1]
            assert manifest["data_version"] != db._manifest["data_version"]
        assert os.path.isdir(first) and db._deferred_rm == [first]
    assert not os.path.exists(first) and not db._pins and not db._deferred_rm
    assert db.num_vectors_fast == 19


def test_pins_hold_under_concurrent_readers_and_removes(spark, tmp_path):
    """Readers that pin the live version and read its files while another
    handle keeps removing rows (each remove retires the version it
    replaces) never lose a file mid-read, and once all are done no pin,
    deferred removal or retired version directory is left."""
    import os
    import random
    import sys
    import threading
    import time

    from mindb_spark.core.database import _read_live

    rng = np.random.default_rng(45)
    db = VectorDB(spark, "pinstress", base_path=str(tmp_path))
    db.add([(v, {}) for v in _mk(rng, 1000, 8)])
    other = VectorDB(spark, "pinstress", base_path=str(tmp_path))
    errors, done = [], threading.Event()

    def reader(seed):
        pause = random.Random(seed)
        while not done.is_set():
            try:
                with db._pinned_version() as (manifest, data_dir, _):
                    # hold the pin across removes, so pins overlap and
                    # some reader releases while another still reads
                    time.sleep(0.02 * pause.random())
                    n = _read_live(data_dir, ["id", "vector"], 0, 999).num_rows
                    if n != manifest["num_new_vectors"]:  # untrained: all rows
                        errors.append(("rows", n, manifest["num_new_vectors"]))
            except Exception as exc:  # a file removed mid-read
                errors.append(repr(exc))

    def remover():
        try:
            for i in range(0, 90, 2):  # 45 removes, below the 10% fold
                assert other.remove([i]) == [i]
        finally:
            done.set()

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
        threads.append(threading.Thread(target=remover))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    assert not errors, errors[:3]
    assert not db._pins and not db._deferred_rm
    assert os.listdir(os.path.join(db.path, "vectors")) == [os.path.basename(other._data_dir)]
    assert db.num_vectors_fast == 955
