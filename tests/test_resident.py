"""RAM-resident serving snapshot: bit-equality with the Spark path,
tail refresh on adds, rebuild on deletes, budget gating.

The snapshot (core/resident.py) replays the scan kernels' exact math
driver-side, so results must be IDENTICAL (ids and float64 scores) to
the Spark two-stage path — not merely close.
"""

import numpy as np
import pytest

from mindb_spark.core.database import VectorDB


@pytest.fixture(scope="module")
def corpus():
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(30, 24)) * 3.0
    assign = rng.integers(0, 30, size=6000)
    mat = centers[assign] + rng.normal(size=(6000, 24))
    return mat.astype(np.float32)


@pytest.fixture()
def trained_db(spark, tmp_path, corpus):
    db = VectorDB(spark, "resdb", base_path=str(tmp_path))
    db.add([(v, {"i": int(i)}) for i, v in enumerate(corpus)])
    db.train(use_two_level_clustering=False)
    return db


def _spark_results(db, queries, prelim, k):
    """Reference answers through the Spark path (resident disabled)."""
    db.disable_resident_serving()
    return [
        db.query(q, preliminary_top_k=prelim, final_top_k=k) for q in queries
    ]


def test_resident_bit_equality(trained_db, corpus):
    db = trained_db
    rng = np.random.default_rng(11)
    queries = [corpus[i] + rng.normal(size=24).astype(np.float32) for i in range(5)]
    want = _spark_results(db, queries, 200, 10)

    assert db.enable_resident_serving() is True
    info = db.resident_info()
    assert info["rows"] == 6000 and info["tail_rows"] == 0 and info["bytes"] > 0
    for q, w in zip(queries, want):
        got = db.query(q, preliminary_top_k=200, final_top_k=10)
        assert got["ids"] == w["ids"]
        assert got["cosine_similarity"] == w["cosine_similarity"]  # bit-equal
        assert got["metadata"] == w["metadata"]


def test_resident_tail_refresh_on_add(trained_db):
    db = trained_db
    assert db.enable_resident_serving() is True
    probe = np.ones(24, dtype=np.float32)
    new_ids = db.add([(probe, {"tail": True})])
    # snapshot is stale by adds only -> tail refresh, not a rebuild
    got = db.query(probe, final_top_k=5)
    assert got["ids"][0] == new_ids[0]
    assert got["cosine_similarity"][0] == pytest.approx(1.0, abs=1e-6)
    assert db.resident_info()["tail_rows"] == 1
    # and the refreshed snapshot still matches the Spark path exactly
    want = _spark_results(db, [probe], 200, 5)[0]
    db.enable_resident_serving()
    got2 = db.query(probe, preliminary_top_k=200, final_top_k=5)
    assert got2["ids"] == want["ids"]
    assert got2["cosine_similarity"] == want["cosine_similarity"]


def test_resident_tombstone_mask_on_trained_delete(trained_db, corpus):
    """A sparse trained-row delete is absorbed by the tombstone mask —
    shared arrays, one id-column scan — and the masked results are
    bit-identical to both a fresh full rebuild and the Spark path."""
    db = trained_db
    q = corpus[0]
    assert db.enable_resident_serving() is True
    before = db.query(q, final_top_k=3)
    victim = before["ids"][0]
    db.remove([victim])
    after = db.query(q, preliminary_top_k=500, final_top_k=3)
    assert victim not in after["ids"]
    info = db.resident_info()
    # mask, not rebuild: the snapshot still HOLDS all 6000 indexed rows,
    # one of them tombstoned
    assert info["rows"] == 6000 and info["masked_rows"] == 1
    want = _spark_results(db, [q], 500, 3)[0]
    db.enable_resident_serving()  # fresh FULL rebuild (5999 live rows)
    assert db.resident_info()["masked_rows"] == 0
    got = db.query(q, preliminary_top_k=500, final_top_k=3)
    # masked == rebuilt == Spark, ids and float64 scores
    assert after["ids"] == got["ids"] == want["ids"]
    assert (
        after["cosine_similarity"]
        == got["cosine_similarity"]
        == want["cosine_similarity"]
    )


def test_resident_mask_then_add_keeps_mask(trained_db, corpus):
    """Adds after a masked delete take the tail-refresh path and must
    PRESERVE the tombstone mask (the indexed set didn't change)."""
    db = trained_db
    q = corpus[2]
    assert db.enable_resident_serving() is True
    victim = db.query(q, final_top_k=3)["ids"][0]
    db.remove([victim])
    db.query(q, final_top_k=3)  # absorbs the delete into the mask
    assert db.resident_info()["masked_rows"] == 1
    probe = np.full(24, -0.5, dtype=np.float32)
    db.add([(probe, {"tail": True})])
    got = db.query(q, preliminary_top_k=500, final_top_k=3)
    info = db.resident_info()
    assert info["masked_rows"] == 1 and info["tail_rows"] == 1
    assert victim not in got["ids"]
    want = _spark_results(db, [q], 500, 3)[0]
    assert got["ids"] == want["ids"]
    assert got["cosine_similarity"] == want["cosine_similarity"]


def test_tight_prelim_semantics(trained_db, corpus):
    """Saturated-prelim caveat pinned (resident.query docstring): with
    trained-row deletes the Spark path lets dead ids occupy stage-1
    prelim slots (dropped only at the stage-2 join), while the masked
    snapshot prelim-cuts over LIVE rows only — so under a tight
    preliminary_top_k the mask matches a fresh rebuild, which can hold
    MORE live results than the slot-starved Spark answer."""
    db = trained_db
    q = corpus[0]
    db.disable_resident_serving()
    before = db.query(q, preliminary_top_k=10, final_top_k=10)
    assert len(before["ids"]) == 10  # prelim==k: results ARE the prelim slots

    assert db.enable_resident_serving() is True
    victims = before["ids"][:9]
    db.remove(victims)
    masked = db.query(q, preliminary_top_k=10, final_top_k=10)
    assert db.resident_info()["masked_rows"] == 9
    assert not set(victims) & set(masked["ids"])
    assert len(masked["ids"]) == 10  # live-row prelim cut: full k returned

    spark_after = _spark_results(db, [q], 10, 10)[0]
    assert not set(victims) & set(spark_after["ids"])
    # the 9 dead ids still held their stage-1 slots on the Spark path
    assert len(spark_after["ids"]) < 10

    db.enable_resident_serving()  # fresh full rebuild over live rows
    assert db.resident_info()["masked_rows"] == 0
    rebuilt = db.query(q, preliminary_top_k=10, final_top_k=10)
    assert masked["ids"] == rebuilt["ids"]
    assert masked["cosine_similarity"] == rebuilt["cosine_similarity"]


def test_resident_dense_deletes_force_rebuild(trained_db, corpus):
    """Past _REBUILD_DEAD_FRACTION the mask refuses and the serve path
    falls through to a full rebuild (RAM reclaimed, mask cleared)."""
    db = trained_db
    assert db.enable_resident_serving() is True
    q = corpus[1]
    db.query(q, final_top_k=3)
    victims = list(range(700))  # >10% of 6000
    db.remove(victims)
    got = db.query(q, preliminary_top_k=500, final_top_k=3)
    info = db.resident_info()
    assert info["rows"] == 6000 - 700 and info["masked_rows"] == 0
    want = _spark_results(db, [q], 500, 3)[0]
    assert got["ids"] == want["ids"]
    assert got["cosine_similarity"] == want["cosine_similarity"]


def test_resident_budget_and_filter_fallback(trained_db, corpus):
    db = trained_db
    # a 10-byte budget cannot hold the snapshot -> stays on Spark path
    assert db.enable_resident_serving(max_bytes=10) is False
    assert db.resident_info() is None
    res = db.query(corpus[0], final_top_k=3)
    assert len(res["ids"]) == 3
    # metadata_filter always takes the Spark path, resident or not
    assert db.enable_resident_serving() is True
    res = db.query(
        corpus[0], final_top_k=3,
        metadata_filter="get_json_object(metadata, '$.i') = '0'",
    )
    assert res["ids"] and all(
        m == {"i": 0} for m in res["metadata"]
    )


def test_resident_batch_routing(trained_db, corpus):
    """Big batches route to Spark (query_batch_local -> None): the
    resident serve is single-core with no batch amortization, so beyond
    ~_RESIDENT_MAX_PAIRS estimated gather pairs the Spark path wins."""
    db = trained_db
    assert db.enable_resident_serving() is True
    params = db.index_params
    rows_per_q = params["n_probe"] * max(1, 6000 // params["num_clusters"])
    q_over = db._RESIDENT_MAX_PAIRS // rows_per_q + 1
    assert db.query_batch_local(corpus[:1]) is not None
    big = np.repeat(corpus[:1], min(q_over, 4096), axis=0)
    assert db.query_batch_local(big) is None


def test_resident_concurrent_adds(trained_db):
    """Queries keep succeeding (resident or Spark fallback, both correct)
    while another thread mutates the DB; the snapshot converges to
    include the adds. Also exercises the lock discipline: staleness
    resolution must not deadlock against the mutator's path lock."""
    import threading

    db = trained_db
    assert db.enable_resident_serving() is True
    probe = np.full(24, 0.5, dtype=np.float32)
    added: list[int] = []
    err: list[Exception] = []

    def mutate():
        try:
            for _ in range(3):
                added.extend(db.add([(probe, {"storm": True})]))
        except Exception as e:  # pragma: no cover - fails the test below
            err.append(e)

    t = threading.Thread(target=mutate)
    t.start()
    for _ in range(5):
        res = db.query(probe, final_top_k=3)
        assert len(res["ids"]) == 3
    t.join()
    assert not err
    final = db.query(probe, final_top_k=3)
    assert final["ids"][0] in added  # exact-match adds outrank everything
    assert final["cosine_similarity"][0] == pytest.approx(1.0, abs=1e-6)


def test_resident_sees_other_handle_mutations(spark, trained_db, corpus):
    """A remove() through ANOTHER handle of the same path must stale the
    snapshot: the fingerprint check reads the (memoized) on-disk
    manifest, not just this handle's in-memory copy."""
    db = trained_db
    assert db.enable_resident_serving() is True
    q = corpus[1]
    victim = db.query(q, final_top_k=3)["ids"][0]
    import os

    other = VectorDB(spark, db.name, base_path=os.path.dirname(db.path))
    other.remove([victim])
    after = db.query(q, final_top_k=3)
    assert victim not in after["ids"]


def test_resident_refuses_deleted_db(spark, tmp_path, corpus):
    """A handle outliving delete() must not keep serving from RAM."""
    from mindb_spark.core.validation import ValidationError

    db = VectorDB(spark, "deadres", base_path=str(tmp_path))
    db.add([(v, {}) for v in corpus[:5100]])
    db.train(use_two_level_clustering=False)
    assert db.enable_resident_serving() is True
    db.delete()
    with pytest.raises(ValidationError, match="deleted"):
        db.query(corpus[0], final_top_k=3)


def test_resident_tail_budget(spark, tmp_path, corpus):
    """A post-train add storm must not blow the byte budget through the
    tail collect: the refresh/rebuild bound includes the tail."""
    db = VectorDB(spark, "tailbudget", base_path=str(tmp_path))
    db.add([(v, {}) for v in corpus[:5100]])
    db.train(use_two_level_clustering=False)
    from mindb_spark.core.resident import ResidentSnapshot

    d = 24
    base = ResidentSnapshot.estimate_bytes(5100, d, db._load_artifacts().m)
    # budget fits the indexed part + a small tail, not a large one
    budget = base + ResidentSnapshot.estimate_tail_bytes(100, d)
    assert db.enable_resident_serving(max_bytes=budget) is True
    db.add([(corpus[0], {}) for _ in range(500)])  # tail bound >> 100 rows
    assert db.query_batch_local(corpus[:1]) is None  # over budget -> Spark
    assert db.resident_info() is None  # disabled, no rebuild storm


def test_resident_untrained_returns_false(spark, tmp_path):
    db = VectorDB(spark, "untrained", base_path=str(tmp_path))
    rng = np.random.default_rng(1)
    db.add([(v, {}) for v in rng.normal(size=(50, 8)).astype(np.float32)])
    assert db.enable_resident_serving() is False
    assert db.resident_info() is None


def _count_spark_repairs(monkeypatch) -> dict:
    """Count the snapshot's Spark repairs (refresh_tail, refresh_deletes,
    build) for the rest of the test."""
    from mindb_spark.core.resident import ResidentSnapshot as RS

    calls = dict.fromkeys(("refresh_tail", "refresh_deletes", "build"), 0)

    def counted(name, fn):
        def run(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return run

    monkeypatch.setattr(RS, "refresh_tail", counted("refresh_tail", RS.refresh_tail))
    monkeypatch.setattr(
        RS, "refresh_deletes", counted("refresh_deletes", RS.refresh_deletes)
    )
    monkeypatch.setattr(RS, "build", classmethod(counted("build", RS.build.__func__)))
    return calls


def test_write_through_matches_rebuild_and_spark(spark, trained_db, corpus, monkeypatch):
    """The pinning handle's own adds and removes are applied to the
    snapshot in place. After every step of a seeded random sequence of
    adds, tail removes and trained-row removes, its answers (ids and
    float64 scores) are bit-equal to a fresh rebuild and to the Spark
    path, and no Spark refresh or rebuild ran. A second handle's add
    still goes through refresh_tail."""
    import os

    from mindb_spark.core.resident import ResidentSnapshot

    db = trained_db
    assert db.enable_resident_serving() is True
    # a handle without a snapshot answers through the Spark path
    other = VectorDB(spark, db.name, base_path=os.path.dirname(db.path))
    calls = _count_spark_repairs(monkeypatch)
    none = dict.fromkeys(calls, 0)
    rng = np.random.default_rng(5)
    queries = corpus[rng.choice(corpus.shape[0], 2, replace=False)]
    queries = queries + 0.1 * rng.normal(size=queries.shape).astype(np.float32)
    tail: list[int] = []
    kinds = ["add", "add", "remove_trained", "add", "remove_tail",
             "remove_trained", "add", "remove_tail"]
    rng.shuffle(kinds[1:])  # start with an add so a tail exists

    def check(step):
        got = db.query_batch_local(queries, 500, 5)
        assert calls == none, (step, calls)
        fresh = ResidentSnapshot.build(db, None).query(queries, 500, 5)
        assert got == fresh, step  # ids, metadata and float64 scores
        for q, g in zip(queries, got):
            s = other.query(q, preliminary_top_k=500, final_top_k=5)
            assert s["ids"] == g["ids"], step
            assert s["cosine_similarity"] == g["cosine_similarity"], step
        calls.update(none)

    for step, kind in enumerate(kinds):
        if kind == "add" or (kind == "remove_tail" and not tail):
            # near-copies of the queries, so tail rows reach the top 5
            n = int(rng.integers(1, 5))
            vecs = queries[rng.integers(0, len(queries), n)]
            vecs = vecs + 0.05 * rng.normal(size=vecs.shape).astype(np.float32)
            tail += db.add([(v, {"step": step}) for v in vecs])
        elif kind == "remove_tail":
            victim = tail.pop(int(rng.integers(len(tail))))
            assert db.remove([victim]) == [victim]
        else:
            # a query's current best trained row plus two random ones
            best = next(
                i for i in db.query(queries[step % 2], final_top_k=20)["ids"]
                if i < corpus.shape[0]
            )
            victims = [best] + [int(i) for i in rng.integers(0, corpus.shape[0], 2)]
            db.remove(victims)
        check(step)
    info = db.resident_info()
    assert info["masked_rows"] > 0 and info["tail_rows"] == len(tail)
    assert info["rows"] == corpus.shape[0]  # never rebuilt

    other.add([(queries[0], {"other": True})])
    got = db.query_batch_local(queries, 500, 5)
    assert calls == dict(none, refresh_tail=1)
    assert got == ResidentSnapshot.build(db, None).query(queries, 500, 5)


def test_write_through_budget_overflow_leaves_snapshot_stale(spark, tmp_path, corpus, monkeypatch):
    """An own-handle add that grows the tail bound past the budget is not
    written through: the snapshot stays stale, and the query path's
    repairs refuse and disable it (no rebuild storm)."""
    from mindb_spark.core.resident import ResidentSnapshot

    db = VectorDB(spark, "wtbudget", base_path=str(tmp_path))
    db.add([(v, {}) for v in corpus[:5100]])
    db.train(use_two_level_clustering=False)
    d = corpus.shape[1]
    budget = ResidentSnapshot.estimate_bytes(
        5100, d, db._load_artifacts().m
    ) + ResidentSnapshot.estimate_tail_bytes(10, d)
    assert db.enable_resident_serving(max_bytes=budget) is True
    calls = _count_spark_repairs(monkeypatch)
    db.add([(corpus[0], {})])  # fits: written through
    pinned = db._resident
    assert pinned.tail_ids.size == 1 and calls["refresh_tail"] == 0
    db.add([(corpus[1], {}) for _ in range(20)])  # tail bound 21 > 10
    assert db._resident is pinned  # untouched, now stale
    assert pinned.fingerprint != ResidentSnapshot.manifest_fingerprint(db._manifest)
    assert db.query_batch_local(corpus[:1]) is None  # over budget -> Spark
    assert db.resident_info() is None
    assert calls == {"refresh_tail": 1, "refresh_deletes": 1, "build": 1}


def test_write_through_dense_delete_falls_back_to_rebuild(trained_db, corpus, monkeypatch):
    """An own-handle remove that pushes the dead fraction past
    _REBUILD_DEAD_FRACTION is not written through; the next query
    rebuilds, exactly as for another handle's delete."""
    db = trained_db
    assert db.enable_resident_serving() is True
    calls = _count_spark_repairs(monkeypatch)
    db.remove(list(range(100)))  # sparse: masked in place
    pinned = db._resident
    assert db.resident_info()["masked_rows"] == 100
    db.remove(list(range(100, 700)))  # 700 of 6000 dead > 10%
    assert db._resident is pinned
    q = corpus[1]
    got = db.query(q, preliminary_top_k=500, final_top_k=3)
    assert calls == {"refresh_tail": 1, "refresh_deletes": 1, "build": 1}
    info = db.resident_info()
    assert info["rows"] == 6000 - 700 and info["masked_rows"] == 0
    want = _spark_results(db, [q], 500, 3)[0]
    assert got["ids"] == want["ids"]
    assert got["cosine_similarity"] == want["cosine_similarity"]


def test_add_and_resident_query_with_arrow_disabled(spark, tmp_path, corpus, monkeypatch):
    """Neither the add path nor the resident snapshot (build, write-through
    and the refresh_deletes scan after another handle's remove) depends
    on spark.sql.execution.arrow.pyspark.enabled."""
    from mindb_spark.core.resident import ResidentSnapshot

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        db = VectorDB(spark, "arrowoff", base_path=str(tmp_path))
        db.add([(v, {"i": int(i)}) for i, v in enumerate(corpus[:5100])])
        db.train(use_two_level_clustering=False)
        assert db.enable_resident_serving() is True
        new = db.add([(corpus[3], {"tail": True})])
        got = db.query(corpus[3], preliminary_top_k=200, final_top_k=2)
        assert sorted(got["ids"]) == sorted([3, new[0]])
        db.remove([3])
        got = db.query(corpus[3], preliminary_top_k=200, final_top_k=2)
        assert got["ids"][0] == new[0] and 3 not in got["ids"]
        want = _spark_results(db, [corpus[3]], 200, 2)[0]
        assert got["ids"] == want["ids"]
        assert got["cosine_similarity"] == want["cosine_similarity"]
        # a trained-row remove through a second handle: the pinned
        # snapshot revalidates through refresh_deletes' id scan
        assert db.enable_resident_serving() is True
        queries = corpus[[5, 7]]
        VectorDB(spark, "arrowoff", base_path=str(tmp_path)).remove([5])
        calls = _count_spark_repairs(monkeypatch)
        got = db.query_batch_local(queries, 200, 2)
        assert (calls["refresh_deletes"], calls["build"]) == (1, 0)
        assert 5 not in got[0]["ids"] and db.resident_info()["masked_rows"] == 1
        assert got == ResidentSnapshot.build(db, None).query(queries, 200, 2)
    finally:
        spark.conf.set(key, prev)


def test_remove_during_pinned_build_never_resurrects(spark, tmp_path, corpus, monkeypatch):
    """A remove that lands while a training build runs: the build reads
    exactly its pinned version (the rows that remove deletes included,
    the version's own earlier delete excluded), the pinned directory is
    released after the build, and the removed ids never come back on the
    Spark path or the resident path."""
    import os

    import mindb_spark.core.heuristics as H
    from mindb_spark.index import build as B

    monkeypatch.setattr(H, "FLAT_INDEX_CUTOFF", 100)
    db = VectorDB(spark, "pinrm", base_path=str(tmp_path))
    db.add([(v, {"i": int(i)}) for i, v in enumerate(corpus[:1000])])
    assert db.remove([1]) == [1]  # the pinned version has its own deletion file
    pinned = db._data_dir
    victims = [0, 2, 3]
    seen = {}
    build_index = B.build_index

    def build_with_remove(snapshot, *args, **kwargs):
        assert db.remove(victims) == victims
        seen["ids"] = {r.id for r in snapshot.select("id").collect()}
        seen["pinned_kept"] = os.path.isdir(pinned)
        return build_index(snapshot, *args, **kwargs)

    monkeypatch.setattr(B, "build_index", build_with_remove)
    db.train(use_two_level_clustering=False, covering=True, recall_target=None)
    assert seen == {"ids": set(range(1000)) - {1}, "pinned_kept": True}
    assert not os.path.exists(pinned)
    gone = {1, *victims}
    live = set(range(1000)) - gone
    assert {r.id for r in db.vectors().select("id").collect()} == live
    assert db.num_vectors_fast == len(live)
    assert db.info()["num_trained_vectors_removed"] == len(victims)
    queries = corpus[sorted(gone)]
    want = [db.query(q, preliminary_top_k=200, final_top_k=10) for q in queries]
    assert db.enable_resident_serving() is True
    got = db.query_batch_local(queries, 200, 10)
    for g, w in zip(got, want):
        assert not gone & set(w["ids"]) and not gone & set(g["ids"])
        assert g["ids"] == w["ids"]
        assert g["cosine_similarity"] == w["cosine_similarity"]
    db.delete()


def _spark_snapshot(db):
    """Reference arrays from the Spark plan the snapshot was once
    collected with: codes at or below the watermark, deduplicated by id,
    joined to ``vectors()``, ordered by (cluster_id, id); the tail is
    ``vectors()`` above the watermark, in id order."""
    import os

    from pyspark.sql import functions as F

    from mindb_spark import arrowkit as AK

    codes = db.spark.read.parquet(os.path.join(db._index_dir, "codes"))
    cols = ["cluster_id", "id", "code"] + (["bterm"] if "bterm" in codes.columns else [])
    wm = db._manifest["max_trained_id"]
    live = db.vectors().select("id", "vector", "metadata")
    t = (
        codes.select(*cols).where(F.col("id") <= wm).dropDuplicates(["id"])
        .join(live, "id").orderBy("cluster_id", "id").toArrow()
    )
    tail = live.where(F.col("id") > wm).orderBy("id").toArrow()
    return {
        "ids": t.column("id").to_numpy(),
        "codes": AK.fixed_width_matrix(t.column("code")),
        "bterm": t.column("bterm").to_numpy() if "bterm" in cols else None,
        "vectors": AK.fixed_width_matrix(t.column("vector")).astype(np.float64),
        "metadata": t.column("metadata").to_pylist(),
        "tail_ids": tail.column("id").to_numpy(),
        "tail_vectors": AK.fixed_width_matrix(tail.column("vector")).astype(np.float64),
        "tail_metadata": tail.column("metadata").to_pylist(),
    }


def _assert_snapshot_matches_spark(db):
    from mindb_spark.core.resident import ResidentSnapshot

    snap = ResidentSnapshot.build(db, None)
    want = _spark_snapshot(db)
    for name, ref in want.items():
        got = getattr(snap, name)
        if name == "bterm" and ref is None:
            continue
        if name.endswith("metadata"):
            assert list(got) == ref, name
        else:
            assert got.dtype == ref.dtype and np.array_equal(got, ref), name
    assert snap.live_mask is None and snap.ids.size
    return snap


@pytest.mark.parametrize("covering", [True, False])
@pytest.mark.parametrize("arrow", ["true", "false"])
def test_file_built_snapshot_matches_spark_plan(spark, tmp_path, corpus, covering, arrow):
    """A snapshot read from the version's files holds the same arrays, bit
    for bit, as the Spark codes ⋈ vectors() plan: on a version with a
    deletion file and a tail, with a codes file copied (duplicate codes
    rows), and after compact() folded the deletion file. The trained rows
    come from Spark-written files whose ``metadata`` is ``not null``, the
    tail from Arrow-written ones where it is nullable."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        db = VectorDB(spark, "filebuilt", base_path=str(tmp_path))
        rows = [(v.tolist(),) for v in corpus[:5200]]
        db.add_dataframe(spark.createDataFrame(rows, "vector array<float>"))
        spark_file = glob.glob(os.path.join(db._data_dir, "part-*.parquet"))[0]
        assert not pq.read_schema(spark_file).field("metadata").nullable
        db.train(use_two_level_clustering=False, covering=covering)
        db.add([(v, {"tail": int(i)}) for i, v in enumerate(corpus[5200:5230])])
        assert len(db.remove([3, 17, 400, 5201])) == 4
        assert os.path.exists(os.path.join(db._data_dir, "_deleted", "ids.parquet"))
        snap = _assert_snapshot_matches_spark(db)
        assert snap.ids.size == 5197 and snap.tail_ids.size == 29

        src = sorted(glob.glob(os.path.join(db._index_dir, "codes", "*", "*.parquet")))[0]
        shutil.copyfile(src, os.path.join(os.path.dirname(src), "part-copy.parquet"))
        assert _assert_snapshot_matches_spark(db).ids.size == 5197

        db.compact()
        assert not os.path.exists(os.path.join(db._data_dir, "_deleted"))
        assert _assert_snapshot_matches_spark(db).ids.size == 5197
    finally:
        spark.conf.set(key, prev)


def test_snapshot_build_and_refreshes_run_no_spark_job(spark, trained_db, corpus):
    """build, refresh_tail and refresh_deletes read the version's files
    and run no Spark job. A sentinel job run afterwards in another group
    shows the status tracker has seen every earlier job before the group
    is checked."""
    import os
    import time
    import uuid

    from mindb_spark.core.resident import ResidentSnapshot

    db = trained_db
    other = VectorDB(spark, db.name, base_path=os.path.dirname(db.path))
    sc = spark.sparkContext
    group, sentinel = (f"{p}-{uuid.uuid4().hex}" for p in ("resident", "sentinel"))
    try:
        sc.setJobGroup(group, "resident snapshot")
        snap = ResidentSnapshot.build(db, None)
        other.add([(corpus[0], {"tail": True})])
        snap = snap.refresh_tail(db)
        assert snap is not None and snap.tail_ids.size == 1
        other.remove([5, 6])
        snap = snap.refresh_deletes(db)
        assert snap is not None and int((~snap.live_mask).sum()) == 2
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


def test_remove_between_pin_and_read_defers_the_old_version(spark, trained_db, corpus, monkeypatch):
    """A snapshot repair pins the version it reads. A second handle's
    remove that lands between the pin and the read makes the next version
    but leaves the pinned directory in place; the repair reads it to the
    end, and the directory is reaped when the pin is released."""
    import os

    import mindb_spark.core.database as D

    db = trained_db
    assert db.enable_resident_serving() is True
    other = VectorDB(spark, db.name, base_path=os.path.dirname(db.path))
    other.add([(corpus[0], {"tail": True})])  # stales the snapshot: adds only
    pinned = db._data_dir
    victim = 11
    seen = {}
    read_live = D._read_live

    def remove_then_read(data_dir, *args, **kwargs):
        seen.setdefault("dirs", set()).add(data_dir)
        if "kept" not in seen:
            seen["kept"] = None  # the remove reads through here too
            assert other.remove([victim]) == [victim]
            seen["kept"] = os.path.isdir(pinned) and pinned in db._pins
        return read_live(data_dir, *args, **kwargs)

    monkeypatch.setattr(D, "_read_live", remove_then_read)
    calls = _count_spark_repairs(monkeypatch)
    q = corpus[victim]
    # the repair read the pinned version, so its fingerprint is already
    # stale when it ends: this call is served by Spark
    assert db.query_batch_local(q[None, :], 500, 3) is None
    assert seen == {"kept": True, "dirs": {pinned}}
    assert calls == dict(refresh_tail=1, refresh_deletes=0, build=0)
    assert not os.path.exists(pinned) and not db._pins and not db._deferred_rm
    got = db.query_batch_local(q[None, :], 500, 3)[0]
    assert victim not in got["ids"] and db.resident_info()["masked_rows"] == 1
