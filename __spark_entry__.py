"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship batch-kNN query at sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY §2 +
the training-pipeline operator families); ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible one. Column names and rounding are
aligned between both sides (the driver hash-compares values).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

JACCARD_K = 3
JACCARD_MAX_DF = 100  # df-cut: drop shingles shared by > N docs (fan-out bound)
MINHASH_HASHES = 16
MINHASH_BANDS = 8
SIM_TAU = 0.35
NEAR_DUP_TAU = 0.5


# --------------------------------------------------------------------- util
def _fl6(col):
    """Cross-engine-stable 6-dp quantization: floor(x*1e6)/1e6.

    Spark's round() (BigDecimal HALF_UP over the exact binary expansion) and
    DuckDB's round() (multiply-based) disagree on half-boundary doubles;
    floor over the identical IEEE product is bit-stable across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _fl2(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ts physical type has drifted across testdata
    regenerations (int64 nanos vs timestamp[us]); read_events adapts."""
    from mindb_spark.sources import read_events

    return read_events(spark, sf_dir)


def _normalized_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindb_spark.functions.vector import l2_normalize

    return _emb(spark, sf_dir).select(
        "vec_id", l2_normalize("embedding", "double").alias("vector")
    )


def _query_vectors(spark: SparkSession, sf_dir: str, n: int = 8):
    rows = (
        _emb(spark, sf_dir).where(F.col("vec_id") < n).orderBy("vec_id").collect()
    )
    return [(r.vec_id, r.embedding) for r in rows]


# ------------------------------------------------------------------ queries
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact batch kNN (partial-top-k path) on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    from mindb_spark.operators.topk import knn_batch

    corpus = _normalized_emb(spark, sf_dir)
    queries = _query_vectors(spark, sf_dir, n=4)
    out = knn_batch(corpus, queries, 10, id_col="vec_id")
    return out.select(
        "query_id", "vec_id", _fl6("cosine_similarity").alias("score")
    )


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: exact kNN, single query (vec_id=0), top 10."""
    from mindb_spark.operators.topk import knn

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).first().embedding
    out = knn(emb, q, 10, id_col="vec_id", vector_col="embedding", assume_normalized=False)
    return out.select("vec_id", _fl6("cosine_similarity").alias("score"))


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact kNN: top 5 per query for queries vec_id < 8."""
    from mindb_spark.operators.topk import knn_batch

    corpus = _normalized_emb(spark, sf_dir)
    out = knn_batch(corpus, _query_vectors(spark, sf_dir, 8), 5, id_col="vec_id")
    return out.select(
        "query_id", "vec_id", _fl6("cosine_similarity").alias("score")
    )


def q_ann_rerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 2 of the two-stage ANN path (exact rerank, ``ivf.rerank_exact``
    — the same code ``ivf.search`` runs after the compressed probe;
    reference two-stage semantics mindb.py:368-420) driven with a PINNED
    candidate set so it becomes DuckDB-oracle-checkable (VERDICT r10 #8):
    queries = embeddings vec_id < 8, candidates = every vec_id % 7 == 0
    for every query. Given a fixed candidate set the stage is
    deterministic exact math — broadcast einsum scoring, crash-dup
    window, (score desc, id asc) tie-break, top-10 cut — and must
    hash-match SQL's exact-cosine top-10 over the same rows. Converts the
    ANN family's final stage from a rows-only check into a true value
    oracle; stage 1 (the approximate probe) stays covered by the
    embedded recall pins."""
    import numpy as np

    from mindb_spark.index.ivf import rerank_exact

    corpus = _normalized_emb(spark, sf_dir)
    qs = _query_vectors(spark, sf_dir, 8)
    qids = np.array([qid for qid, _ in qs], dtype=np.int64)
    qmat = np.array([v for _, v in qs], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    cands = (
        spark.range(8).select(F.col("id").alias("query_id"))
        .crossJoin(
            corpus.where(F.col("vec_id") % 7 == 0).select("vec_id")
        )
    )
    out = rerank_exact(cands, corpus, qids, qmat, 10, id_col="vec_id")
    return out.select(
        "query_id", "vec_id", _fl6("cosine_similarity").alias("score")
    )


def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine similarity join above SIM_TAU."""
    from mindb_spark.operators.similarity import cosine_pairs

    out = cosine_pairs(
        _emb(spark, sf_dir), SIM_TAU, id_col="vec_id", vector_col="embedding"
    )
    return out.select("id_a", "id_b", _fl6("cosine_similarity").alias("score"))


def q_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 ingest math: L2 norm + first normalized component per vector."""
    from mindb_spark.functions.vector import l2_norm, l2_normalize

    return _emb(spark, sf_dir).select(
        "vec_id",
        _fl6(l2_norm("embedding")).alias("l2_norm"),
        _fl6(F.element_at(l2_normalize("embedding", "double"), 1)).alias("first_component"),
    )


_ANN_CACHE: dict = {}

# Per-entry recall-gate observability: the similarity_join_lsh/ivf entries
# write their lane's gate_report here ({gate_pairs, n_bands|n_assign,
# expected|measured_pair_recall}) so bench.py can record what the gates
# actually escalated to alongside the measured pair recall.
GATE_REPORTS: dict = {}


def _ann_index(
    spark: SparkSession, sf_dir: str, two_level: bool = False,
    fresh: bool = False, covering: bool = False,
):
    """Build (or reuse) the IVF-PQ index for a testdata dir.

    Cached per (sf_dir, strategy) so the query entries measure steady-state
    search, not repeated builds; ``fresh=True`` forces a rebuild (the build
    benchmark path).
    """
    import shutil

    from mindb_spark.core.heuristics import resolve_index_params
    from mindb_spark.index.build import build_index

    key = (sf_dir, two_level, covering)
    if not fresh and key in _ANN_CACHE:
        return _ANN_CACHE[key]
    emb = _normalized_emb(spark, sf_dir)
    n = emb.count()
    d = len(emb.select("vector").first()[0])
    params = resolve_index_params(n, d)
    n_buckets = min(16, params.num_clusters)
    tag = ("twolevel" if two_level else "subsample") + ("-cov" if covering else "")
    idx_dir = os.path.join(
        "/tmp/mindb_ann_cache", os.path.basename(sf_dir.rstrip("/")), tag
    )
    shutil.rmtree(idx_dir, ignore_errors=True)
    artifacts, _ = build_index(
        emb, params, idx_dir, id_col="vec_id", n_buckets=n_buckets,
        use_two_level=two_level,
        carry_cols=("vector",) if covering else (),
        total_rows=n, dim=d,
    )
    _ANN_CACHE[key] = (artifacts, os.path.join(idx_dir, "codes"), n_buckets)
    return _ANN_CACHE[key]


def _ann_search(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    n_probe: int | None = None,
    **kw,
) -> DataFrame:
    """Two-stage ANN search. ``n_probe=None`` uses the reference heuristic
    (``get_n_probe`` — the selective plan that runs at 100x scale)."""
    import numpy as np

    from mindb_spark.index import ivf

    artifacts, codes_path, n_buckets = _ann_index(spark, sf_dir, **kw)
    # RAW embeddings: corpus normalization happens inside the Arrow rerank
    # kernel (vectorized numpy), not as an interpreted l2_normalize
    # projection re-evaluated per candidate row after the join
    emb = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("vector"))
    codes = spark.read.parquet(codes_path)
    queries = [
        (qid, np.array(v, dtype=np.float64))
        for qid, v in _query_vectors(spark, sf_dir, n_queries)
    ]
    out = ivf.search(
        codes, emb, artifacts, queries,
        preliminary_top_k=500, final_top_k=10, n_probe=n_probe,
        max_trained_id=None, id_col="vec_id", n_buckets=n_buckets,
        assume_normalized=False,
    )
    return out.select("query_id", "vec_id", _fl6("cosine_similarity").alias("score"))


def _sf_fallback_probe(spark: SparkSession, sf_dir: str) -> int:
    """Structureless-sf fallback ONLY: the synthetic sf embeddings are
    near-uniform (64-d, no cluster signal), so the reference's nprobe
    heuristic — tuned for real embedding distributions — under-probes
    (measured cell-recall@10: 0.90 at the heuristic's cells vs 0.98 at
    80%). Naturally clustered corpora use the heuristic default; the
    bench measures that selective plan on the clustered 30k corpus."""
    artifacts, _, _ = _ann_index(spark, sf_dir)
    return max(1, int(0.8 * artifacts.num_clusters))


def _assert_exact_cosine_scores(
    spark: SparkSession, sf_dir: str, rows, id_cols, score_col, tau=None, tol=1e-5
):
    """Entry-embedded proof for rows-only entries: every emitted score is
    the TRUE cosine of the referenced vectors (recomputed driver-side
    from the raw table), and >= tau when given. Cheap — only the emitted
    pairs' vectors are fetched (broadcast-style id filter), never the
    corpus cross product."""
    import numpy as np

    if not rows:
        return
    ids = {int(getattr(r, c)) for r in rows for c in id_cols}
    fetched = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id").isin(sorted(ids)))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in fetched}
    missing = ids - set(vecs)
    assert not missing, (
        f"emitted ids absent from the embeddings table: {sorted(missing)[:10]}"
        " — a result row references a vector that does not exist"
    )
    for r in rows:
        a = vecs[int(getattr(r, id_cols[0]))]
        b = vecs[int(getattr(r, id_cols[1]))]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        got = float(getattr(r, score_col))
        assert abs(true_cos - got) < tol, (
            f"score {got} != true cosine {true_cos} for {r}"
        )
        if tau is not None:
            assert got >= tau - tol, f"pair below threshold {tau}: {r}"


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6-O8: two-stage IVF-PQ query (probe + exact rerank).

    Not SQL-expressible (trained index) — driver records rows-only, so
    the entry embeds its own proof: emitted scores are re-verified
    driver-side as TRUE cosines of the referenced vectors (the stage-2
    exact-rerank contract), per-query result count == k, no duplicate
    ids. Recall evidence lives in ann_clustered_query (entry-asserted
    >= 0.97) and bench's recall probes.
    """
    out = _ann_search(
        spark, sf_dir, n_queries=4, n_probe=_sf_fallback_probe(spark, sf_dir)
    ).localCheckpoint()
    rows = out.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    assert all(len(v) == 10 for v in by_q.values()), "dup ids or short result"
    _assert_exact_cosine_scores(spark, sf_dir, rows, ("query_id", "vec_id"), "score")
    return out


def q_ann_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13-O18: full index build (subsampling strategy); returns the codes
    table. Rows-only check, so the entry embeds its own invariants: one
    code row per corpus vector (count equality, distinct ids) and every
    cluster assignment within [0, num_clusters)."""
    artifacts, codes_path, _ = _ann_index(spark, sf_dir, fresh=True)
    codes = spark.read.parquet(codes_path).select("vec_id", "cluster_id")
    stats = codes.agg(
        F.count("*").alias("n"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.min("cluster_id").alias("cmin"),
        F.max("cluster_id").alias("cmax"),
    ).first()
    n_corpus = _emb(spark, sf_dir).count()
    assert stats["n"] == stats["n_ids"] == n_corpus, (
        f"codes table {stats} != corpus {n_corpus}"
    )
    assert stats["cmin"] is not None, "codes table is empty"
    assert 0 <= stats["cmin"] and stats["cmax"] < artifacts.num_clusters
    return codes


def q_ann_build_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16: two-level clustering build variant. Rows-only check with the
    same embedded invariants as q_ann_build."""
    artifacts, codes_path, _ = _ann_index(spark, sf_dir, two_level=True, fresh=True)
    codes = spark.read.parquet(codes_path).select("vec_id", "cluster_id")
    stats = codes.agg(
        F.count("*").alias("n"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.min("cluster_id").alias("cmin"),
        F.max("cluster_id").alias("cmax"),
    ).first()
    n_corpus = _emb(spark, sf_dir).count()
    assert stats["n"] == stats["n_ids"] == n_corpus, (
        f"codes table {stats} != corpus {n_corpus}"
    )
    assert stats["cmin"] is not None, "codes table is empty"
    assert 0 <= stats["cmin"] and stats["cmax"] < artifacts.num_clusters
    return codes


def q_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state two-stage ANN batch search against the cached index
    (structureless-sf probe fallback; the heuristic selective plan is the
    first-class ann_clustered_query entry). Rows-only — embedded proof:
    emitted scores re-verified as true cosines, k results per query."""
    out = _ann_search(
        spark, sf_dir, n_queries=16, n_probe=_sf_fallback_probe(spark, sf_dir)
    ).localCheckpoint()
    rows = out.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    assert all(len(v) == 10 for v in by_q.values()), "dup ids or short result"
    _assert_exact_cosine_scores(spark, sf_dir, rows, ("query_id", "vec_id"), "score")
    return out


_CLUSTERED_CACHE: dict = {}


def _clustered_eval_corpus(spark: SparkSession):
    """Deterministic 30k x 64 clustered eval corpus + trained index at
    reference heuristics (FIXTURES.md recipe; the reference's own eval
    scale, test_full_eval.py:75-81). The sf embeddings are structureless
    by construction, so heuristic-probe recall must be demonstrated on a
    corpus WITH cluster signal — this is the plan-of-record substrate.
    Cached in-process: query entries measure steady-state search."""
    import numpy as np

    from mindb_spark.core.heuristics import resolve_index_params
    from mindb_spark.index.build import build_index

    if "fixture" in _CLUSTERED_CACHE:
        return _CLUSTERED_CACHE["fixture"]
    import pyarrow as pa

    from mindb_spark.arrowkit import list_array

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(32, 64)) * 4.0
    assign = rng.integers(0, 32, size=30_000)
    mat = (centers[assign] + rng.normal(size=(30_000, 64))).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    # Arrow ship: the list-of-tuples path pickles 30k x 64 doubles row by
    # row through py4j (~5 s). A typed pyarrow Table with an explicit
    # schema crosses as columnar batches and works with
    # spark.sql.execution.arrow.pyspark.enabled on or off (a pandas frame
    # of ndarray cells fails with it off).
    vdf = spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(np.arange(30_000, dtype=np.int64)), list_array(mat)],
            names=["id", "vector"],
        ),
        "id long, vector array<double>",
    ).localCheckpoint()
    params = resolve_index_params(30_000, 64)
    idx_dir = "/tmp/mindb_ann_cache/clustered30k"
    import shutil

    shutil.rmtree(idx_dir, ignore_errors=True)
    # total_rows/dim derived from the data in scope (ADVICE r12): if the
    # fixture shape changes, the index trains with the right n/d
    artifacts, _ = build_index(
        vdf, params, idx_dir, n_buckets=16,
        total_rows=mat.shape[0], dim=mat.shape[1],
    )
    codes = spark.read.parquet(os.path.join(idx_dir, "codes"))
    _CLUSTERED_CACHE["fixture"] = (vdf, mat, codes, artifacts, params)
    return _CLUSTERED_CACHE["fixture"]


def q_ann_clustered_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP ANN row: two-stage IVF-PQ search at the HEURISTIC probe
    budget (``get_n_probe`` — the selective plan that runs at 100x
    scale) on the clustered 30k x 64 eval corpus, mirroring the
    reference's recall bar (test_full_eval.py:75-81: recall@50 > 0.97 on
    a ~30k corpus). The entry ASSERTS recall@50 >= 0.97 against exact
    numpy brute force before returning, so this row exists in the
    driver's artifacts only when the recall contract holds; the measured
    recall is emitted as a column. Independent of sf_dir by design (the
    sf embeddings carry no cluster signal — FIXTURES.md)."""
    import numpy as np

    from mindb_spark.index import ivf

    vdf, mat, codes, artifacts, params = _clustered_eval_corpus(spark)
    rng = np.random.default_rng(17)
    q_idx = rng.integers(0, mat.shape[0], size=64)
    qmat = mat[q_idx] + 0.05 * rng.normal(size=(64, 64))
    queries = [(int(i), qmat[i]) for i in range(64)]
    out = ivf.search(
        codes, vdf, artifacts, queries,
        preliminary_top_k=500, final_top_k=50,
        n_probe=params.n_probe,  # the reference heuristic — NOT a fallback
        max_trained_id=None, n_buckets=16,
    ).localCheckpoint()
    rows = out.collect()
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    gt = np.argsort(-(mat @ qn.T), axis=0)[:50].T
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.id)
    recall = float(
        np.mean([len(by_q.get(i, set()) & set(gt[i].tolist())) / 50 for i in range(64)])
    )
    assert recall >= 0.97, (
        f"heuristic-probe recall@50 {recall:.4f} < 0.97 "
        f"(n_probe={params.n_probe}/{params.num_clusters})"
    )
    return out.select(
        "query_id",
        F.col("id").alias("vec_id"),
        _fl6("cosine_similarity").alias("score"),
        F.lit(round(recall, 4)).alias("recall_at_50"),
        F.lit(params.n_probe).alias("n_probe"),
    )


def q_ann_fused_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused covering-index query (round-5 small-Q scale path): the codes
    table stores each row's exact vector (build_index carry_cols), and a
    small batch exact-reranks INSIDE the pruned stage-1 scan — no
    stage-2 full-table fetch (mindb_spark/index/ivf.py, search()'s fused
    branch). Not SQL-expressible; the entry embeds a THREE-part proof:
    (1) every emitted score is the TRUE cosine of the referenced raw
    vectors (driver-recomputed), (2) per-query count == k with no dups,
    (3) the fused output is IDENTICAL (ids AND float-exact scores) to
    the classic two-stage path on the same index."""
    import numpy as np

    from mindb_spark.index import ivf

    artifacts, codes_path, n_buckets = _ann_index(spark, sf_dir, covering=True)
    # NORMALIZED vectors table: the covering build stored normalized
    # vectors, so both paths score identical float32 values — the basis
    # of the exact-equality proof below
    emb = _normalized_emb(spark, sf_dir)
    codes = spark.read.parquet(codes_path)
    qv = [
        (qid, np.asarray(v, dtype=np.float64))
        for qid, v in _query_vectors(spark, sf_dir, 4)
    ]
    kw = dict(
        preliminary_top_k=500, final_top_k=10,
        n_probe=_sf_fallback_probe(spark, sf_dir),
        max_trained_id=None, id_col="vec_id", n_buckets=n_buckets,
    )
    out = ivf.search(codes, emb, artifacts, qv, **kw).localCheckpoint()
    rows = out.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    assert all(len(v) == 10 for v in by_q.values()), "dup ids or short result"
    classic = {
        (r.query_id, r.vec_id): r.cosine_similarity
        for r in ivf.search(
            codes, emb, artifacts, qv, rescore_from_codes=False, **kw
        ).collect()
    }
    fusedr = {(r.query_id, r.vec_id): r.cosine_similarity for r in rows}
    assert fusedr == classic, "fused != two-stage on a live covering index"
    _assert_exact_cosine_scores(
        spark, sf_dir, rows, ("query_id", "vec_id"), "cosine_similarity"
    )
    return out.select(
        "query_id", "vec_id", _fl6("cosine_similarity").alias("score")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindb_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir)).select("fingerprint", "doc_id", "dup_count")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated dataset itself: first doc id per exact-dup group,
    all columns preserved (left-semi join against the keeper set)."""
    from mindb_spark.operators.dedup import dedup_exact_survivors

    out = dedup_exact_survivors(_docs(spark, sf_dir))
    return out.select("doc_id", "lang", "source", "n_chars")


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with the default stop-shingle df-cut wired in —
    the benched plan is the bounded-fan-out variant (the oracle mirrors the
    cut, so the candidate set matches)."""
    from mindb_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), NEAR_DUP_TAU, k=JACCARD_K,
        max_shingle_freq=JACCARD_MAX_DF,
    )
    return out.select("id_a", "id_b", _fl6("jaccard").alias("jaccard"))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle lane: hash_family="md5" explicitly (the library default is
    the xxhash64 scale lane since round 10) so DuckDB reproduces the
    banding bit-for-bit."""
    from mindb_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        _docs(spark, sf_dir), NEAR_DUP_TAU,
        k=JACCARD_K, num_hashes=MINHASH_HASHES, n_bands=MINHASH_BANDS,
        hash_family="md5",
    )
    return out.select("id_a", "id_b", _fl6("jaccard").alias("jaccard"))


def q_dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-lane MinHash-LSH (round 9): hash_family="xxhash64" — shingles
    are 64-bit xxhash64 fingerprints of token windows, no shingle string
    and no md5 anywhere in the plan (operators/dedup.py::
    _signatures_from_hashes). xxhash64 is Spark-specific, so DuckDB
    cannot reproduce THIS lane's banding; the embedded proof asserts the
    verified pair set (ids AND exact-Jaccard values) equals the md5
    lane's, and since round 12 the entry therefore shares the md5 lane's
    bit-exact oracle (VERDICT r11 #5) — the driver hash-matches values,
    and any divergence between the hash families fails the gate."""
    from mindb_spark.operators.dedup import minhash_lsh_pairs

    kw = dict(k=JACCARD_K, num_hashes=MINHASH_HASHES, n_bands=MINHASH_BANDS)
    out = minhash_lsh_pairs(
        _docs(spark, sf_dir), NEAR_DUP_TAU, hash_family="xxhash64", **kw
    ).select(
        "id_a", "id_b", _fl6("jaccard").alias("jaccard")
    ).localCheckpoint()
    fast = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    md5 = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            _docs(spark, sf_dir), NEAR_DUP_TAU, hash_family="md5", **kw
        )
        .select("id_a", "id_b", _fl6("jaccard").alias("jaccard"))
        .collect()
    }
    assert fast == md5, (
        f"fast lane diverged from md5 lane: {len(fast)} vs {len(md5)} pairs"
    )
    return out


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (higher threshold than simjoin)."""
    from mindb_spark.operators.similarity import cosine_pairs

    out = cosine_pairs(
        _emb(spark, sf_dir), 0.45, id_col="vec_id", vector_col="embedding"
    )
    return out.select("id_a", "id_b", _fl6("cosine_similarity").alias("score"))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup grouping: Jaccard pair edges -> connected
    components (per-task union-find contraction, then large-/small-star
    rounds). Oracle: DuckDB recursive CTE over the identical edge set.
    Also registered as ``dedup_components_star``."""
    from mindb_spark.operators.dedup import near_dup_components

    out = near_dup_components(
        _docs(spark, sf_dir), NEAR_DUP_TAU, k=JACCARD_K,
        max_shingle_freq=JACCARD_MAX_DF,
    )
    return out.select(F.col("id").alias("doc_id"), "component")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (md5-derived bits — engine-portable, so the
    DuckDB oracle recomputes the exact signatures; the banding is a
    no-false-negative pigeonhole, so banded output == brute-force output).

    hamming <= 3 over 64 bits — the standard near-dup radius; the
    pigeonhole banding then uses 4 chunks of 16 bits, whose buckets stay
    sparse (an 8-bit chunking floods the candidate join).
    """
    from mindb_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindb_spark.operators.textops import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindb_spark.operators.textops import quality_features

    return quality_features(_docs(spark, sf_dir))


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindb_spark.operators.textops import detect_language

    return detect_language(_docs(spark, sf_dir))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindb_spark.operators.textops import fingerprints

    return fingerprints(_docs(spark, sf_dir))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition stats (boilerplate/spam filter)."""
    from mindb_spark.operators.textops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / IPv4s / phones) with removal counts."""
    from mindb_spark.operators.textops import scrub_pii

    return scrub_pii(_docs(spark, sf_dir))


def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composed curation pipeline over documents — the shape a
    pre-training data job actually runs: language-ID -> quality gate ->
    exact dedup (first-id survivor) -> per-(lang, source) corpus stats.

    Single declarative plan: Catalyst fuses the language/quality
    projections into one pass over the scan, the dedup is one hash
    aggregate, and the final rollup is a second; only doc_id/text/lang/
    source/n_chars are read (column pruning).
    """
    from mindb_spark.functions.text import tokens
    from mindb_spark.operators.dedup import dedup_exact_survivors
    from mindb_spark.operators.textops import language_columns, quality_columns
    from mindb_spark.session import widen

    docs = _docs(spark, sf_dir)
    # language + quality are PER-ROW projections: fuse them onto the
    # survivor rows (column builders) instead of shuffle-joining three
    # per-doc frames — one dedup shuffle is the whole exchange budget.
    # Round 12 (guide §4.4 analog): the old WHERE on the computed
    # lang/quality columns was pushed below the projection, re-deriving
    # the tokenize regex ~20x per row inside the pushed filter (measured
    # in plans/r12/pipeline_curation_before.txt). Restructured so the
    # token array materializes ONCE per row (its own projection — non-
    # cheap, multiply-referenced, so CollapseProject keeps it) and the
    # quality gate becomes CONDITIONAL AGGREGATION (count/sum/avg over
    # WHEN(ok, x)) + a post-agg filter on the group key, which nothing
    # can push back into the scan. widen first so the per-row work runs
    # at driver parallelism on a small file (no-op at cluster scale).
    tokd = widen(dedup_exact_survivors(docs)).select(
        "source", "text", tokens("text").alias("_toks")
    )
    lang = language_columns("text", toks=F.col("_toks"))
    qual = quality_columns("text", toks=F.col("_toks"))
    per_doc = tokd.select(
        "source",
        lang["detected_lang"].alias("detected_lang"),
        qual["quality_score"].alias("quality_score"),
        qual["n_tokens"].alias("n_tokens"),
    )
    ok = F.col("quality_score") >= 0.5
    return (
        per_doc.groupBy("detected_lang", "source")
        .agg(
            F.count(F.when(ok, True)).alias("n_docs"),
            F.sum(F.when(ok, F.col("n_tokens"))).alias("total_tokens"),
            _fl6(F.avg(F.when(ok, F.col("quality_score")))).alias("avg_quality"),
        )
        # single non-splittable predicate: a bare `detected_lang == 'en'`
        # conjunct is a group-key filter that Catalyst pushes back through
        # the aggregate and both projections, re-deriving the tokenize
        # regex inside a scan-level filter — the WHEN form references the
        # aggregate output n_docs, so the whole predicate stays above the
        # agg (where it filters a handful of group rows)
        .where(F.when(F.col("n_docs") > 0, F.col("detected_lang") == "en")
               .otherwise(F.lit(False)))
    )


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified mixture draw over documents (seeded,
    engine-portable md5 ordering — the oracle replays the same draw)."""
    from mindb_spark.operators.sampling import stratified_sample_exact

    out = stratified_sample_exact(
        _docs(spark, sf_dir), "lang", {"en": 120, "de": 80, "fr": 40}, seed=7
    )
    return out.select("doc_id", "lang")


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset shard assignment for sequence packing (scale-safe
    two-phase prefix sum, no global single-task window)."""
    from mindb_spark.operators.sampling import assign_token_shards
    from mindb_spark.operators.textops import token_counts

    toks = token_counts(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    return assign_token_shards(toks, budget=4096)


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General aggregation surface (TPC-H Q1 shape) over lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _fl2(F.sum("l_quantity")).alias("sum_qty"),
            _fl2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _fl2(F.sum(disc)).alias("sum_disc_price"),
            _fl6(F.avg("l_quantity")).alias("avg_qty"),
            _fl6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + top-k: top 10 customers by order revenue."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("_rev"))
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .orderBy(F.desc("_rev"), "c_custkey")
        .limit(10)
        .select("c_custkey", "c_name", _fl2(F.col("_rev")).alias("revenue"))
    )


def q_window_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: top-3 events per user by value."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type", F.col("value"), "rn")
    )


def q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filtered exact kNN (the reference's declared next feature):
    attribute filter pushed into the scan, then top-k over survivors."""
    from mindb_spark.operators.topk import knn

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).first().embedding
    filtered = emb.where(F.col("label") == 3)
    out = knn(filtered, q, 10, id_col="vec_id", vector_col="embedding",
              assume_normalized=False, extra_cols=("label",))
    return out.select("vec_id", "label", _fl6("cosine_similarity").alias("score"))


_FILTERED_TRAINED_DB: dict = {}


def _filtered_trained_db(spark: SparkSession, sf_dir: str):
    """A genuinely IVF-TRAINED VectorDB over the sf embeddings, cached per
    sf_dir. The raw tables are below FLAT_INDEX_CUTOFF (5000), so the
    corpus is the embeddings replicated x11 with per-replica circular
    shifts — norm-preserving and SQL-expressible (DuckDB list slicing), so
    the oracle reproduces every replica exactly. Ids are assigned by
    ``add`` in list order: id = replica*N + vec_id."""
    if sf_dir in _FILTERED_TRAINED_DB:
        return _FILTERED_TRAINED_DB[sf_dir]
    import shutil

    import numpy as np

    from mindb_spark.core.database import VectorDB

    rows = _emb(spark, sf_dir).orderBy("vec_id").collect()
    base = np.array([r.embedding for r in rows], dtype=np.float64)
    labels = [int(r.label) for r in rows]
    n = base.shape[0]
    path = os.path.join(
        "/tmp/mindb_filtered_trained", os.path.basename(sf_dir.rstrip("/"))
    )
    shutil.rmtree(path, ignore_errors=True)
    db = VectorDB(spark, "filtered_trained", base_path=path)
    data = []
    for rep in range(11):
        rolled = np.roll(base, -rep, axis=1)
        # ndarray rows, not .tolist() (round 13): add() accepts arrays and
        # converts f64->f32 at the same point the list path did, so the
        # stored values are identical — this skips 55k list round-trips
        data.extend(
            (rolled[i], {"label": labels[i], "bucket": int(i % 25)})
            for i in range(n)
        )
    db.add(data)
    db.train()
    assert db.is_trained, "replicated corpus must clear FLAT_INDEX_CUTOFF"
    _FILTERED_TRAINED_DB[sf_dir] = (db, base)
    return _FILTERED_TRAINED_DB[sf_dir]


def q_filtered_knn_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity-routed filtered kNN on a TRAINED index (the reference's
    declared next feature, README "Metadata", on the trained path): a 4%
    metadata filter routes to EXACT kNN over the filtered subset — a
    post-filtered probe would rank mostly-discarded candidates and starve
    below k — so results are exact and oracle-checkable while the DB is
    genuinely IVF-trained. Embedded invariant: the exact route was taken."""
    db, base = _filtered_trained_db(spark, sf_dir)
    out = db.query_df(
        base[1], preliminary_top_k=50, final_top_k=40,
        metadata_filter="get_json_object(metadata, '$.bucket') = '0'",
    )
    assert db._last_filter_route[0] == "exact", db._last_filter_route
    return out.select(
        "id",
        F.get_json_object("metadata", "$.label").cast("int").alias("label"),
        _fl6("cosine_similarity").alias("score"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest event per customer at each order's date.

    Union + carry-forward window plan — one shuffle, |left| output rows,
    no inequality-join fan-out.
    """
    from mindb_spark.operators.temporal import asof_join
    from mindb_spark.sources import normalize_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = normalize_ts(
        spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", F.col("o_orderdate").alias("ts")
        )
    )
    events = _events(spark, sf_dir).select("user_id", "ts", "event_id").withColumnRenamed(
        "user_id", "o_custkey"
    )
    out = asof_join(
        orders, events, on="o_custkey", right_cols=("event_id",), right_tiebreak="event_id"
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("event_id_asof").alias("last_event_id"),
        F.unix_timestamp("ts_asof").alias("last_event_epoch"),
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation: ROLLUP over (returnflag, linestatus)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_fl2(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: (urgent ∩ high-value) ∪ (low-value ∖ urgent) customers."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.where(F.col("o_totalprice") > 300000).select("o_custkey")
    low = orders.where(F.col("o_totalprice") < 10000).select("o_custkey")
    return (
        urgent.intersect(high)
        .unionAll(low.subtract(urgent))
        .distinct()
        .withColumnRenamed("o_custkey", "custkey")
    )


def q_similarity_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine self-join via random-hyperplane LSH (the linear
    scale path). 6-bit base config with the round-10 recall GATE: a seeded
    sample's exact pairs are simulated against the ACTUAL seeded planes
    and the band count raised until measured pair recall >= 0.95 at the
    0.45 threshold (VERDICT r9 #2). Seeded → deterministic; rows-only
    check (the banding is not SQL-expressible). Round 11: ``cert_key``
    identifies the corpus (the parquet path) so repeat calls — the
    bench's second timed pass, the sim-compare probe — reuse the
    certified band count with zero gate jobs (VERDICT r10 #3)."""
    from mindb_spark.operators.similarity import cosine_pairs_lsh

    emb = _emb(spark, sf_dir)
    d = len(emb.select("embedding").first()[0])
    report = GATE_REPORTS.setdefault("similarity_join_lsh", {})
    report.clear()
    out = cosine_pairs_lsh(
        emb, 0.45, dim=d, id_col="vec_id", vector_col="embedding",
        n_bits=6, n_bands=16, seed=42,
        pair_recall_target=0.95, gate_report=report,
        cert_key=f"{sf_dir}/embeddings.parquet",
    ).select(
        "id_a", "id_b", _fl6("cosine_similarity").alias("score")
    ).localCheckpoint()
    # embedded subset-of-exact proof (rows-only entry): every emitted pair
    # is a TRUE >= tau pair with its exact cosine as the score — i.e.
    # lsh_pairs ⊆ exact_pairs with equal scores, checked without running
    # the quadratic exact join (per-pair recompute over the emitted set)
    _assert_exact_cosine_scores(
        spark, sf_dir, out.collect(), ("id_a", "id_b"), "score", tau=0.45
    )
    return out


def q_embed_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation: element-wise mean embedding per label
    (chunk->document pooling shape). Fully oracle-checked including the
    full array payload, emitted as scalar (label, pos, value) rows —
    posexploded so the driver's pandas canonicalizer (which cannot hash
    list cells) can sort/hash it; 6-dp quantized on both sides."""
    from mindb_spark.operators.similarity import mean_pool_vectors

    out = mean_pool_vectors(_emb(spark, sf_dir), "label", "embedding")
    return out.select(
        "label", F.posexplode("mean_vector").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + F.lit(1)).cast("long").alias("pos"),
        _fl6("v").alias("value"),
    )


def q_similarity_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine self-join bucketed by a learned k-means coarse
    quantizer with multi-probe assignment — the data-adaptive linear
    scale path (vs the random-plane LSH twin). The round-10 recall GATE
    simulates the learned buckets on a seeded sample's exact pairs and
    raises n_assign until measured pair recall >= 0.95 (VERDICT r9 #2).
    Seeded/deterministic; rows-only check (learned buckets are not
    SQL-expressible); subset-of-exact + recall evidence in
    tests/test_topk.py."""
    from mindb_spark.operators.similarity import cosine_pairs_ivf

    report = GATE_REPORTS.setdefault("similarity_join_ivf", {})
    report.clear()
    out = cosine_pairs_ivf(
        _emb(spark, sf_dir), 0.45, id_col="vec_id", vector_col="embedding",
        n_assign=4, seed=42,
        pair_recall_target=0.95, gate_report=report,
        cert_key=f"{sf_dir}/embeddings.parquet",
    ).select(
        "id_a", "id_b", _fl6("cosine_similarity").alias("score")
    ).localCheckpoint()
    # embedded subset-of-exact proof — see q_similarity_join_lsh
    _assert_exact_cosine_scores(
        spark, sf_dir, out.collect(), ("id_a", "id_b"), "score", tau=0.45
    )
    return out


def q_similarity_join_lsh_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH lane in escalate-to-COMPLETE mode — a TRUE value oracle
    for the approximate machinery (round 12, VERDICT r11 #5, the
    ann_rerank_fixed recipe applied to the similarity family): with
    ``pair_recall_target=1.0`` and the 8192-row gate sample covering the
    whole oracle-scale corpus, the gate's driver-side simulation of the
    ACTUAL seeded hyperplanes measures the lane's REALIZED recall
    exactly (sample == corpus ⇒ measured == realized), and escalates
    ``n_bands`` until no qualifying pair can be missed. The emitted set
    is then provably the exact >= 0.45 pair set with exact-verified
    cosines, so DuckDB's O(n^2) exact join hash-matches the FULL lane —
    banding, bucket shuffle, packed-bucket GEMM verify and all. The
    benched 0.95-target entries keep their operating point; this entry
    exists to value-check the machinery end to end. (At bench scale the
    sample no longer covers the corpus and completeness would fall back
    to certification — the entry is an oracle-scale proof by design.)"""
    from mindb_spark.operators.similarity import cosine_pairs_lsh

    emb = _emb(spark, sf_dir)
    d = len(emb.select("embedding").first()[0])
    report = GATE_REPORTS.setdefault("similarity_join_lsh_full", {})
    report.clear()
    out = cosine_pairs_lsh(
        emb, 0.45, dim=d, id_col="vec_id", vector_col="embedding",
        n_bits=6, n_bands=16, seed=42,
        pair_recall_target=1.0, max_bands=1024, gate_report=report,
        cert_key=f"{sf_dir}/embeddings.parquet#full",
    ).select("id_a", "id_b", _fl6("cosine_similarity").alias("score"))
    # the oracle contract needs COMPLETE recall; an inconclusive gate
    # (no qualifying pair in the sample == none in the corpus) is the
    # one other acceptable state (both sides then emit zero rows)
    measured = report.get("measured_pair_recall")
    assert measured in (None, 1.0), (
        f"escalate-to-complete failed: measured recall {measured} < 1.0"
    )
    return out


def q_similarity_join_ivf_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of ``similarity_join_lsh_full``: learned-quantizer lane
    with ``pair_recall_target=1.0``; termination is GUARANTEED because
    ``max_assign`` equals ``n_cells`` — worst-case escalation assigns
    every vector to every cell, which cannot miss a pair — and at the
    oracle scale (sample == corpus) the gate stops exactly when realized
    recall reaches 1.0, usually far earlier. Hash-matches the exact
    O(n^2) SQL join; value-oracles k-means cell assignment, multi-probe
    explode and the packed-bucket verify GEMM end to end."""
    from mindb_spark.operators.similarity import cosine_pairs_ivf

    report = GATE_REPORTS.setdefault("similarity_join_ivf_full", {})
    report.clear()
    out = cosine_pairs_ivf(
        _emb(spark, sf_dir), 0.45, id_col="vec_id", vector_col="embedding",
        n_cells=16, n_assign=2, max_assign=16, seed=42,
        pair_recall_target=1.0, gate_report=report,
        cert_key=f"{sf_dir}/embeddings.parquet#full",
    ).select("id_a", "id_b", _fl6("cosine_similarity").alias("score"))
    measured = report.get("measured_pair_recall")
    assert measured in (None, 1.0), (
        f"escalate-to-complete failed: measured recall {measured} < 1.0"
    )
    return out


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (applyInPandasWithState): first occurrence
    per fingerprint survives across micro-batches. Drained with
    availableNow, the emitted set equals batch exact-dedup — which is the
    SQL oracle."""
    import tempfile

    from mindb_spark.streaming import (
        run_stream_to_memory,
        stream_shuffle_partitions,
        streaming_dedup,
    )

    raw = (
        spark.readStream.schema(
            spark.read.option("pathGlobFilter", "documents.parquet").parquet(sf_dir).schema
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # emit_text=False: this entry consumes only (doc_id, fingerprint) —
    # the document text must not cross the opaque Python boundary twice
    # (guide §4). State-store width derived from input size, not the
    # session's batch shuffle default (guide §2).
    out = streaming_dedup(raw, emit_text=False)
    name = "stream_dedup_entry"
    # floor at core count: applyInPandasWithState makes one Python call
    # per fingerprint group — width IS that work's CPU parallelism
    parts = stream_shuffle_partitions(
        spark, f"{sf_dir}/documents.parquet",
        floor=spark.sparkContext.defaultParallelism,
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(
            out, name, ckpt, output_mode="append", shuffle_partitions=parts
        )
    return spark.table(name).select("doc_id", "fingerprint").localCheckpoint()


def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup at ingest (round 10): documents stream in
    (3 micro-batches via maxFilesPerTrigger=1) and each batch is
    MinHash-LSH banded against a fixed corpus index
    (streaming/ingest.py::corpus_minhash_index /
    near_dup_against_corpus), candidates exact-Jaccard verified — the
    streaming extension of `dedup_incremental` (which is
    exact-fingerprint only). md5 lane so the DuckDB oracle reproduces
    the banding bit-for-bit: the oracle is the batch minhash SQL
    restricted to (corpus, new) cross pairs, which the stream must
    equal exactly because signatures and buckets are seedless pure
    functions of the text."""
    import tempfile

    from mindb_spark.streaming.ingest import (
        corpus_minhash_index,
        stream_near_dup,
    )

    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") < INCR_DEDUP_CUTOFF)
    new = docs.where(F.col("doc_id") >= INCR_DEDUP_CUTOFF)
    kw = dict(k=JACCARD_K, num_hashes=MINHASH_HASHES, n_bands=MINHASH_BANDS,
              hash_family="md5")
    bands, sets = corpus_minhash_index(corpus, **kw)
    bands, sets = bands.persist(), sets.persist()
    with tempfile.TemporaryDirectory() as tmp:
        src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
        new.repartition(3).write.parquet(src)
        raw = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_near_dup(
            raw, bands, sets, NEAR_DUP_TAU, sink, ckpt, **kw
        )
        q.awaitTermination()
        out = spark.read.parquet(sink).select(
            "new_id", "corpus_id", _fl6("jaccard").alias("jaccard")
        ).localCheckpoint(eager=True)
    bands.unpersist()
    sets.unpersist()
    return out


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata (size/digest/mime sniff), all JVM expressions.

    documents.text cast to binary stands in for an image/audio payload —
    the operators only see opaque bytes either way.
    """
    from mindb_spark.multimodal import binary_metadata

    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return binary_metadata(payloads)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode pipeline over binary payloads (stub kernel).

    Rows-only check: the fake decode is numpy-deterministic but not
    SQL-expressible.
    """
    from mindb_spark.multimodal import decode_images

    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = decode_images(payloads)
    return out.select(
        "doc_id", "height", "width", "channels",
        _fl6(F.element_at("features", 1)).alias("f0"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing (one-to-many mapInPandas explode,
    stub codec): every 10th 4096-byte chunk as a frame row. Content is
    verified via an 8-byte hex fingerprint + exact frame length (the
    oracle slices the hex expansion of the same payload)."""
    from mindb_spark.multimodal import sample_frames

    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = sample_frames(payloads, every_n=10)
    return out.select(
        "doc_id",
        "frame_no",
        F.hex(F.expr("substring(frame, 1, 8)")).alias("frame_hex8"),
        F.length("frame").cast("long").alias("frame_bytes"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (stub kernel: payload passthrough + target
    dims recorded). Oracle verifies dims, payload length and an 8-byte
    hex fingerprint of the re-emitted content."""
    from mindb_spark.multimodal import resize_images

    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = resize_images(payloads, target=(64, 48))
    return out.select(
        "doc_id", "height", "width",
        F.hex(F.expr("substring(content, 1, 8)")).alias("content_hex8"),
        F.length("content").cast("long").alias("content_bytes"),
    )


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode over opaque payloads (documents.text as binary) via
    the raw u8-PCM interpretation — a TOTAL, deterministic decode whose
    rms / zero-crossing-rate / peak are true per-byte functions of the
    payload, so the whole output (features included) is SQL-expressible
    and oracle-checked (the oracle recomputes them from the hex
    expansion of the same bytes). Real WAV-header parsing (PCM
    8/16/24/32-bit + IEEE float, stdlib-only) is pytest-pinned in
    tests/test_audio.py."""
    from mindb_spark.multimodal import decode_audio

    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = decode_audio(payloads)
    return out.select(
        "doc_id", "sample_rate", "channels", "n_samples",
        _fl6("duration_sec").alias("duration_sec"),
        _fl6("rms").alias("rms"),
        _fl6("zcr").alias("zcr"),
        _fl6("peak").alias("peak"),
    )


def q_multimodal_mpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio (MP3-family) container metadata — the curation lane of
    the compressed-audio gap (VERDICT r10 #7). Per document a VALID
    MPEG-1 Layer III CBR frame sequence is synthesized on executors with
    bitrate / sample rate / channels / frame count all deterministic
    functions of doc_id (frame grammar per ISO 11172-3 §2.4;
    multimodal/mpegaudio.py), then ``audio_container_meta`` walks the
    frame grammar back. The oracle recomputes every field
    arithmetically from doc_id, so the parser must invert the generator
    exactly. Real-encoder validation (a third-party MPEG-2 Layer III
    file) is pytest-pinned in tests/test_mpegaudio.py; PCM decode of
    compressed audio stays env-gated (columns.py)."""
    from mindb_spark.multimodal import audio_container_meta
    from mindb_spark.multimodal.columns import synthesize_cbr_mpeg
    from mindb_spark.session import ship_package

    ship_package(spark)
    docs = synthesize_cbr_mpeg(_docs(spark, sf_dir))
    out = audio_container_meta(docs)
    return out.select(
        "doc_id", "format", "sample_rate", "channels", "n_frames",
        _fl6("duration_sec").alias("duration_sec"),
        _fl6("bitrate_kbps_mean").alias("bitrate_kbps"),
    )


def q_multimodal_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC / OGG-Vorbis / MP4 container metadata — the round-11
    curation lanes for the remaining media gaps (multimodal/
    containers.py: STREAMINFO fields, page-walk granule duration, BMFF
    box walk). Per document a deterministic container payload is
    synthesized (id % 3 picks the format, every header field is id
    arithmetic), BOTH public lanes run distributed
    (``audio_container_meta`` + ``video_container_meta``), and their
    unified projection must match the oracle's arithmetic recomputation
    exactly. Zero/empty sentinels instead of NULLs keep the value-hash
    comparison type-stable."""
    from mindb_spark.multimodal import audio_container_meta, video_container_meta
    from mindb_spark.multimodal.columns import synthesize_media_containers
    from mindb_spark.session import ship_package

    ship_package(spark)
    docs = synthesize_media_containers(_docs(spark, sf_dir)).localCheckpoint()
    a = audio_container_meta(docs).select(
        "doc_id",
        F.col("format").alias("a_fmt"),
        F.col("sample_rate").alias("a_rate"),
        F.col("channels").alias("a_ch"),
        F.col("n_frames").alias("a_total"),
        F.col("duration_sec").alias("a_dur"),
    )
    v = video_container_meta(docs).select(
        "doc_id",
        F.col("format").alias("v_fmt"),
        F.col("duration_sec").alias("v_dur"),
        F.col("width").alias("v_w"),
        F.col("height").alias("v_h"),
        F.col("codec").alias("v_codec"),
        F.col("n_frames").alias("v_frames"),
        F.col("fps").alias("v_fps"),
        F.col("bitrate_kbps").alias("v_kbps"),
    )
    out = a.join(v, "doc_id")
    # null-safe: v_fmt is NULL for audio rows, and ~(NULL == 'mp4') is
    # NULL under SQL three-valued logic, which would zero every audio
    # field through the when()s below
    is_mp4 = F.col("v_fmt").eqNullSafe(F.lit("mp4"))
    return out.select(
        "doc_id",
        F.when(is_mp4, F.col("v_fmt")).otherwise(F.col("a_fmt")).alias("format"),
        F.coalesce(F.when(~is_mp4, F.col("a_rate")), F.lit(0)).cast("int").alias("sample_rate"),
        F.coalesce(F.when(~is_mp4, F.col("a_ch")), F.lit(0)).cast("int").alias("channels"),
        F.coalesce(F.when(~is_mp4, F.col("a_total")), F.lit(0)).cast("long").alias("total_samples"),
        _fl6(F.when(is_mp4, F.col("v_dur")).otherwise(F.col("a_dur"))).alias("duration_sec"),
        F.coalesce(F.col("v_w"), F.lit(0)).cast("int").alias("width"),
        F.coalesce(F.col("v_h"), F.lit(0)).cast("int").alias("height"),
        F.coalesce(F.col("v_codec"), F.lit("")).alias("codec"),
        # round-12 sample-table fields (mdhd/stts/stsz walk): zero
        # sentinels on non-mp4 rows keep the hash type-stable
        F.coalesce(F.col("v_frames"), F.lit(0)).cast("long").alias("n_frames"),
        _fl6(F.coalesce(F.col("v_fps"), F.lit(0.0))).alias("fps"),
        _fl6(F.coalesce(F.col("v_kbps"), F.lit(0.0))).alias("bitrate_kbps"),
    )


def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame extraction (`no_oracle`: LZW decoding is
    not SQL-expressible, so the entry embeds a bit-exact round-trip
    proof instead). Per document (32 sampled), a deterministic 3-frame
    8x6 animation is synthesized from the doc's text bytes, then
    `sample_frames(fake=False)` explodes it on executors — stdlib LZW
    decode, full GIF89a compositing, PNG re-encode per frame
    (multimodal/gif.py, multimodal/png.py). Proof: every emitted PNG
    frame is decoded driver-side and compared bit-exactly against the
    independently recomputed composited frame. Output: per-frame dims +
    mean pixel value (float, 6dp)."""
    import numpy as np
    import pandas as pd

    from mindb_spark.multimodal import sample_frames
    from mindb_spark.multimodal.gif import decode_gif_frames, encode_gif_animation
    from mindb_spark.multimodal.png import decode_png

    def _payload(doc_id: int, text: str) -> bytes:
        rng = np.random.default_rng(doc_id + len(text))
        pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
        frames = [pal[rng.integers(0, 4, (8, 6))] for _ in range(3)]
        return encode_gif_animation(frames)

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 16 == 0)
        .limit(32)
        .select("doc_id", "text")
    )

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": [
                    _payload(int(i), t)
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            })

    payloads = docs.mapInPandas(build, schema="doc_id long, content binary")
    out = sample_frames(payloads, every_n=1, fake=False).localCheckpoint()

    # embedded proof: recompute each doc's composited frames driver-side
    # and demand bit-exact equality with the executor-emitted PNGs
    src = {int(r.doc_id): r.text for r in docs.collect()}
    seen: dict[int, int] = {}
    for r in out.collect():
        expected = decode_gif_frames(_payload(r.doc_id, src[r.doc_id]))
        got = decode_png(bytes(r.frame))
        assert (got == expected[r.frame_no]).all(), (
            f"frame mismatch doc={r.doc_id} frame={r.frame_no}"
        )
        seen[r.doc_id] = seen.get(r.doc_id, 0) + 1
    assert seen and all(v == 3 for v in seen.values()), "frame count != 3"

    def summarize(batches):
        for pdf in batches:
            dims = [decode_png(bytes(p)).shape for p in pdf["frame"]]
            means = [
                float(decode_png(bytes(p)).mean()) for p in pdf["frame"]
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "frame_no": pdf["frame_no"],
                "height": [d[0] for d in dims],
                "width": [d[1] for d in dims],
                "mean_px": [round(m, 6) for m in means],
            })

    return out.mapInPandas(
        summarize,
        schema="doc_id long, frame_no int, height int, width int, mean_px double",
    )


def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode (`no_oracle`: DCT entropy coding is not
    SQL-expressible; the entry embeds a machine-checked proof instead).
    Per document (32 sampled), a deterministic image is synthesized and
    encoded as baseline JPEG (multimodal/jpeg.py — stdlib Huffman + DCT,
    Annex K tables), then `decode_images(fake=False)` decodes it on
    executors. Proof: flat-color payloads (even doc rank) must decode
    BIT-EXACTLY; gradient payloads (odd rank) must reach PSNR > 40 dB
    against the source — both recomputed driver-side. Output: dims +
    8-bin pixel histogram features."""
    import numpy as np
    import pandas as pd

    from mindb_spark.multimodal import decode_images
    from mindb_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    def _img(doc_id: int) -> np.ndarray:
        if (doc_id // 16) % 2 == 0:
            return np.full((16, 24, 3), (doc_id * 37) % 256, dtype=np.uint8)
        yy, xx = np.mgrid[0:24, 0:16]
        return np.stack(
            [(yy * 3 + doc_id) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256],
            axis=-1,
        ).astype(np.uint8)

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 16 == 0)
        .limit(32)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": [
                    encode_jpeg(_img(int(i)), quality=95) for i in pdf["doc_id"]
                ],
            })

    payloads = docs.mapInPandas(build, schema="doc_id long, content binary")
    out = decode_images(payloads, fake=False).localCheckpoint()

    rows = out.collect()
    assert rows, "no documents sampled"
    for r in rows:
        img = _img(r.doc_id)
        assert (r.height, r.width, r.channels) == (*img.shape[:2], 3)
        dec = decode_jpeg(encode_jpeg(img, quality=95))
        if (r.doc_id // 16) % 2 == 0:
            assert (dec == img).all(), f"flat decode not exact doc={r.doc_id}"
        else:
            err = np.mean((dec.astype(float) - img.astype(float)) ** 2)
            psnr = 99.0 if err == 0 else 10 * np.log10(255.0**2 / err)
            assert psnr > 40, f"psnr {psnr:.1f} doc={r.doc_id}"
        flat = dec.reshape(-1)
        hist = np.bincount(flat >> 5, minlength=8) / flat.size
        assert np.allclose(np.array(r.features), hist, atol=1e-12), (
            f"feature histogram mismatch doc={r.doc_id}"
        )
    return out.select(
        "doc_id", "height", "width", "channels",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
    )


def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling from an actual video container
    (`no_oracle`: MJPEG entropy coding is not SQL-expressible; the entry
    embeds a bit-exact proof instead). Per document (16 sampled), a
    deterministic 4-frame MJPEG AVI is muxed (multimodal/avi.py — RIFF
    chunks around stdlib-JPEG frames), then `sample_frames(fake=False)`
    demuxes and decodes it on executors. Proof: every emitted PNG frame
    equals the independently demuxed+decoded frame bit-exactly. Output:
    per-frame dims + mean pixel value."""
    import numpy as np
    import pandas as pd

    from mindb_spark.multimodal import sample_frames
    from mindb_spark.multimodal.avi import decode_avi_frames, encode_avi_mjpeg
    from mindb_spark.multimodal.png import decode_png

    def _payload(doc_id: int) -> bytes:
        yy, xx = np.mgrid[0:16, 0:24]
        frames = [
            np.stack(
                [(yy * 3 + doc_id + 17 * i) % 256, (xx * 2) % 256,
                 ((yy + xx) * 2 + i) % 256],
                axis=-1,
            ).astype(np.uint8)
            for i in range(4)
        ]
        return encode_avi_mjpeg(frames, fps=8, quality=93)

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 32 == 0)
        .limit(16)
        .select("doc_id")
    )

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": [_payload(int(i)) for i in pdf["doc_id"]],
            })

    payloads = docs.mapInPandas(build, schema="doc_id long, content binary")
    out = sample_frames(payloads, every_n=2, fake=False).localCheckpoint()

    rows = out.collect()
    assert rows, "no documents sampled"
    per_doc: dict[int, int] = {}
    for r in rows:
        expected = decode_avi_frames(_payload(r.doc_id))
        got = decode_png(bytes(r.frame))
        assert (got == expected[r.frame_no]).all(), (
            f"frame mismatch doc={r.doc_id} frame={r.frame_no}"
        )
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert all(v == 2 for v in per_doc.values()), "expected frames 0 and 2"

    def summarize(batches):
        for pdf in batches:
            imgs = [decode_png(bytes(p)) for p in pdf["frame"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "frame_no": pdf["frame_no"],
                "height": [im.shape[0] for im in imgs],
                "width": [im.shape[1] for im in imgs],
                "mean_px": [round(float(im.mean()), 6) for im in imgs],
            })

    return out.mapInPandas(
        summarize,
        schema="doc_id long, frame_no int, height int, width int, mean_px double",
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user (lag + cumsum window)."""
    from mindb_spark.operators.temporal import session_stats

    return session_stats(_events(spark, sf_dir), gap_seconds=1800)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: clicks within the hour after each error by
    the same user (equi-join on (key, bucket) + precise filter — no
    nested-loop inequality join)."""
    from mindb_spark.operators.temporal import range_join

    ev = _events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("k"),
        F.unix_timestamp("ts").alias("lo"),
        (F.unix_timestamp("ts") + 3600).alias("hi"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("k"),
        F.unix_timestamp("ts").alias("pt"),
    )
    out = range_join(clicks, errors, "pt", "lo", "hi", on="k", bucket_width=3600)
    return out.select("error_id", "click_id", F.col("k").alias("user_id"))


def q_window_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames: per-user rolling 1-hour event count and
    value sum (range frame over event-time seconds — frame membership is
    time-defined, so results are tie-order-independent)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("es"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        _fl6(F.sum("value").over(w)).alias("value_last_hour"),
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: top 50 tokens (vocabulary analysis) —
    explode -> hash count -> TakeOrderedAndProject, deterministic token
    tie-break."""
    from mindb_spark.functions.text import tokens

    return (
        _docs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


def q_agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (continuous interpolation) over lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        _fl6(F.expr("percentile(l_extendedprice, 0.5)")).alias("p50"),
        _fl6(F.expr("percentile(l_extendedprice, 0.95)")).alias("p95"),
        _fl6(F.avg("l_extendedprice")).alias("mean_price"),
    )


def q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: watermarked tumbling-window agg over events,
    drained with availableNow. Unified batch/stream semantics make this
    oracle-checkable: the SQL equivalent is a plain GROUP BY date_trunc."""
    import tempfile

    from mindb_spark.streaming import run_stream_to_memory, windowed_event_counts

    from mindb_spark.sources import normalize_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    raw = normalize_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = windowed_event_counts(raw, window="1 hour", watermark="1 hour")
    name = "win_counts_entry"
    from mindb_spark.streaming import stream_shuffle_partitions

    parts = stream_shuffle_partitions(spark, f"{sf_dir}/events.parquet")
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(agg, name, ckpt, shuffle_partitions=parts)
    return spark.table(name).select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "event_type",
        "n_events",
        _fl6(F.col("sum_value")).alias("sum_value"),
    ).localCheckpoint()


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: click -> purchase
    attribution per user within 30 minutes. Both sides carry event-time
    watermarks so join state expires (bounded memory on an unbounded
    stream); unified semantics make the identical batch join the oracle."""
    import tempfile

    from mindb_spark.sources import normalize_ts
    from mindb_spark.streaming import interval_join_attribution, run_stream_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema

    def _stream() -> DataFrame:
        return normalize_ts(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    out = interval_join_attribution(
        _stream().where(F.col("event_type") == "click"),
        _stream().where(F.col("event_type") == "purchase"),
        window="30 minutes",
        watermark="1 hour",
    )
    name = "interval_join_entry"
    # a stateful stream-stream join materializes one state store per
    # shuffle partition PER SIDE; the width is baked into the (fresh)
    # checkpoint. Round 12: derived from input size (guide §2) instead of
    # the round-10 constant 8 — same idea, scale-adaptive.
    from mindb_spark.streaming import stream_shuffle_partitions

    parts = stream_shuffle_partitions(spark, f"{sf_dir}/events.parquet")
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(
            out, name, ckpt, output_mode="append", shuffle_partitions=parts
        )
    return spark.table(name).localCheckpoint()


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via built-in session windows,
    drained with availableNow (complete mode). Unified batch/stream
    semantics make it oracle-checkable: the SQL twin rebuilds the sessions
    with a strictly-greater-than gap break on exact-microsecond epochs
    (an event at exactly prev+gap merges — pinned by the unit test)."""
    import tempfile

    from mindb_spark.sources import normalize_ts
    from mindb_spark.streaming import run_stream_to_memory, sessionized_event_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    raw = normalize_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = sessionized_event_stats(raw, gap="30 minutes", watermark="1 hour")
    name = "stream_sessions_entry"
    from mindb_spark.streaming import stream_shuffle_partitions

    parts = stream_shuffle_partitions(spark, f"{sf_dir}/events.parquet")
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(agg, name, ckpt, shuffle_partitions=parts)
    return spark.table(name).select(
        "user_id", "session_start_us", "session_end_us", "n_events",
        _fl6(F.col("sum_value")).alias("sum_value"),
    ).localCheckpoint()


CONTAM_BENCH_MOD = 41  # docs with doc_id % 41 == 0 play the held-out benchmark
CONTAM_K = 4
INCR_DEDUP_CUTOFF = 400  # doc_id >= cutoff is the "new batch"


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: distinct word-4-gram overlap of every
    corpus doc against a (broadcast) benchmark shingle set."""
    from mindb_spark.operators.corpus import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return ngram_contamination(corpus, bench, k=CONTAM_K)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup shape: classify a new batch against the existing
    corpus by canonical fingerprint (corpus wins; min-id wins in-batch)."""
    from mindb_spark.operators.corpus import incremental_dedup

    docs = _docs(spark, sf_dir)
    existing = docs.where(F.col("doc_id") < INCR_DEDUP_CUTOFF)
    batch = docs.where(F.col("doc_id") >= INCR_DEDUP_CUTOFF)
    return incremental_dedup(existing, batch)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level training-data dedup (Lee et al. 2022): per doc,
    the number of maximal duplicated spans and the exact token count
    inside corpus-duplicated 6-token windows. Two shuffles total
    (window-hash count, per-doc island merge); all JVM expressions."""
    from mindb_spark.operators.dedup import duplicate_span_stats

    return duplicate_span_stats(_docs(spark, sf_dir), k=6, min_count=2)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by tf-idf (linear idf — engine-portable)."""
    from mindb_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), top_n=3)


def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM document scoring (pseudo-perplexity filter)."""
    from mindb_spark.operators.corpus import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (seeded md5 permutation,
    two-phase prefix sum — no single-task global window)."""
    from mindb_spark.operators.sampling import global_shuffle

    return global_shuffle(_docs(spark, sf_dir).select("doc_id"), seed=42)


def _sq_grid(spark: SparkSession, sf_dir: str):
    from mindb_spark.index.sq import sq_train

    emb = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("vector"))
    return emb, *sq_train(emb, "vector")


def q_sq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization of the embeddings table (4x compression);
    emitted as per-vector scalar digests so the oracle hash-compares the
    full code arrays without array-typed columns."""
    from mindb_spark.index.sq import sq_encode

    emb, mins, maxs = _sq_grid(spark, sf_dir)
    codes = sq_encode(emb, mins, maxs, vec_col="vector")
    return codes.select(
        "vec_id",
        F.aggregate(
            F.col("codes").cast("array<long>"), F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("code_sum"),
        F.md5(
            F.array_join(F.transform("codes", lambda c: c.cast("string")), ",")
        ).alias("code_checksum"),
    )


def q_sq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 top-10: integerized query weights x stored codes —
    exact integer scores, bit-reproducible by the SQL oracle."""
    from mindb_spark.index.sq import query_weights, sq_encode, sq_search

    emb, mins, maxs = _sq_grid(spark, sf_dir)
    codes = sq_encode(emb, mins, maxs, vec_col="vector")
    qrows = emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    queries = [
        (r.vec_id, query_weights([float(x) for x in r.vector], mins, maxs))
        for r in qrows
    ]
    return sq_search(codes, queries, k=10, id_col="vec_id")


def q_bq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary quantization search (beyond-reference, the tier below
    SQ8): sign-bit words -> Hamming top-50 -> exact-cosine top-10 for 8
    corpus queries. Stage 1 is integer xor/bit_count — bit-identical in
    the DuckDB oracle — and stage 2's cosine is 6-dp-quantized like every
    other scored entry."""
    from mindb_spark.index.bq import bq_encode, bq_knn

    emb = _emb(spark, sf_dir)
    qrows = emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    enc = bq_encode(emb, dim=64)
    out = bq_knn(enc, emb, queries, dim=64, k=10, rerank=50)
    return out.select("query_id", "vec_id", _fl6("score").alias("score"))


FUNNEL_STEPS = ("view", "click", "purchase")
BM25_TERMS = ("hash", "scan", "table")
CHUNK_SIZE = 256
CHUNK_OVERLAP = 32
QUALITY_BINS = 10


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_window_lag_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window surface: per-user inter-event gaps and value deltas
    over a (ts, event_id)-total-ordered stream — the session-feature /
    time-series-diff shape. One hash shuffle on user_id."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "value", F.unix_micros("ts").alias("_us")
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (F.col("_us") - F.lag("_us").over(w)).alias("gap_us"),
        _fl6(F.col("value") - F.lag("value").over(w)).alias("value_delta"),
    )


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: per-user event counts spread across one column per
    event type (explicit value list — no extra distinct-values job, the
    form that scales), plus a total."""
    ev = _events(spark, sf_dir)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )
    total = None
    for t in EVENT_TYPES:
        c = F.col(t)
        total = c if total is None else total + c
    return out.select(
        "user_id",
        *[F.col(t).cast("long").alias(f"n_{t}") for t in EVENT_TYPES],
        total.cast("long").alias("n_total"),
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (lang, source): all four grouping levels in
    one pass (the grouping-sets surface; rollup is covered separately)."""
    docs = _docs(spark, sf_dir)
    return docs.cube("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_multi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (region -> nation -> customer/supplier ->
    orders -> lineitem) with the co-nation constraint, revenue per nation.
    Dimension chain broadcasts; the two fact tables shuffle once each."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "ASIA")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_fl2(F.sum(rev)).alias("revenue"))
    )


def q_join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface (TPC-H Q22 family): customers with NO order before
    1996 — left_anti against the date-filtered orders scan (filter pushed
    down, then one semi-structured hash join, no correlated subquery)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < "1996-01-01"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup (date-function family): orders per month with
    revenue. Month emitted as a string key — timezone-free and bit-stable
    across engines (epoch math on NTZ timestamps is session-tz-dependent)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            _fl2(F.sum("o_totalprice")).alias("revenue"),
        )
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value (bucket = floor(v/50)*50):
    the one-pass distribution profile a pipeline runs before choosing
    filter thresholds. Pure arithmetic + one hash aggregate."""
    ev = _events(spark, sf_dir)
    bucket = (F.floor(F.col("value") / F.lit(50.0)) * F.lit(50.0)).alias("bucket")
    return ev.groupBy(bucket).agg(
        F.count("*").alias("n_events"),
        _fl6(F.avg("value")).alias("avg_value"),
    )


def q_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (TPC-H Q17 family): customers with
    an account balance above their NATION's average. Decorrelated the
    Spark-idiomatic way — the per-group average is a window over the same
    scan (ONE shuffle, no self-join, no per-row subquery); the oracle
    states the window form directly (engines decorrelate to exactly
    this)."""
    from pyspark.sql import Window

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_nationkey")
    return (
        c.withColumn("_nav", F.avg("c_acctbal").over(w))
        .where(F.col("c_acctbal") > F.col("_nav"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_above"),
            _fl2(F.max("c_acctbal")).alias("max_bal"),
        )
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join: events (5 hot event_type keys —
    maximal skew) against a per-type dimension. Semantics are exactly the
    plain join (the oracle); only the physical key distribution differs."""
    from mindb_spark.operators.joins import salted_join

    ev = _events(spark, sf_dir).select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("n_of_type"))
    return salted_join(ev, dim, "event_type", salt_from="event_id", n_salt=16)


def q_sql_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered SQL-function surface (Spark 4 SQL UDFs — pure
    Catalyst bodies, no Python) driven through spark.sql itself."""
    from mindb_spark.functions.registry import register_sql_functions

    register_sql_functions(spark)
    _docs(spark, sf_dir).createOrReplaceTempView("entry_docs")
    _emb(spark, sf_dir).createOrReplaceTempView("entry_emb")
    return spark.sql(
        """
        select d.doc_id,
               text_fingerprint(d.text) as fp,
               text_token_count(d.text) as n_tokens,
               floor(vec_dot(cast(e.embedding as array<double>),
                             cast(e.embedding as array<double>))
                     * 1000000 + 0.5) / 1000000 as sq_norm
        from entry_docs d join entry_emb e on d.doc_id = e.vec_id
        """
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep document chunking: fixed-size char windows with overlap,
    zero-shuffle per-row expressions."""
    from mindb_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide quality binning (curriculum/mixture lever)."""
    from mindb_spark.operators.corpus import quality_deciles

    return quality_deciles(_docs(spark, sf_dir), n_bins=QUALITY_BINS)


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel over the event stream."""
    from mindb_spark.operators.analytics import funnel_counts

    return funnel_counts(_events(spark, sf_dir), list(FUNNEL_STEPS))


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-day cohort retention table (integer epoch-day math)."""
    from mindb_spark.operators.analytics import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir), max_offset_days=30)


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-family keyword search (rational idf) — top 20 documents."""
    from mindb_spark.operators.search import bm25_scores

    scored = bm25_scores(_docs(spark, sf_dir), list(BM25_TERMS))
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select("doc_id", "n_matched_terms", _fl6("score").alias("score"))
    )


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the exact-cosine vector
    ranking (query = vec 0) with the BM25 keyword ranking — the modern
    vector+keyword composition. Both input lists are top-50; output is the
    fused top-10."""
    from pyspark.sql import Window

    from mindb_spark.functions.vector import dot_literal
    from mindb_spark.operators.search import bm25_scores, rrf_fuse

    q = _emb(spark, sf_dir).where(F.col("vec_id") == 0).first().embedding
    import math

    nrm = math.sqrt(sum(float(x) * float(x) for x in q))
    vec = _normalized_emb(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        dot_literal("vector", [float(x) / nrm for x in q]).alias("_s"),
    )
    # top-50 via TakeOrderedAndProject, then rank the (bounded) 50 rows
    vtop = vec.orderBy(F.desc("_s"), "doc_id").limit(50)
    w = Window.orderBy(F.desc("_s"), "doc_id")
    vrank = vtop.select("doc_id", F.row_number().over(w).alias("rank"))

    ktop = (
        bm25_scores(_docs(spark, sf_dir), list(BM25_TERMS))
        .orderBy(F.desc("score"), "doc_id")
        .limit(50)
    )
    wk = Window.orderBy(F.desc("score"), "doc_id")
    krank = ktop.select("doc_id", F.row_number().over(wk).alias("rank"))

    fused = rrf_fuse(vrank, krank, k=60)
    return (
        fused.orderBy(F.desc("rrf_score"), "doc_id")
        .limit(10)
        .select("doc_id", _fl6("rrf_score").alias("rrf_score"), "in_both")
    )


#: entries with no SQL oracle (rows-only driver check) — pinned inside the
#: driver's 50-entry window every round so the weaker check still runs
_PINNED_NO_ORACLE = (
    "ann_ivfpq",
    "ann_build",
    "ann_build_twolevel",
    "ann_query",
    "ann_clustered_query",
    "ann_fused_query",
    "similarity_join_lsh",
    "similarity_join_ivf",
    "multimodal_gif_frames",
    "multimodal_jpeg",
    "multimodal_video",
)


def _rotate_for_driver_window(
    entries: dict[str, Callable], window: int = 50
) -> dict[str, Callable]:
    """Deterministic round-keyed rotation of the driver's 50-entry window.

    The correctness driver snapshots only the FIRST ``window`` dict
    entries each round.  Hand-curating that order (rounds 3-5) let 29
    green entries silently age out of driver coverage; this makes the
    rotation mechanical: (a) the no-oracle entries are pinned in-window
    (their rows-only check has no local substitute), then (b) every
    oracle entry is ordered by the LAST round it appeared in a
    ``CORRECTNESS_r*.json`` artifact, least-recently-certified first —
    so brand-new entries (never certified, last_seen = -1) enter the
    window immediately and every oracle entry re-certifies within
    ceil(n_oracle / (window - pinned)) = 2 rounds.  Ties break on entry
    name, so the order is stable across invocations in the same round.
    """
    import glob
    import json
    import re as _re

    root = os.path.dirname(os.path.abspath(__file__))
    last_seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for key in rows:
            last_seen[key] = max(last_seen.get(key, -1), rnd)
    pinned = [k for k in _PINNED_NO_ORACLE if k in entries]
    rest = sorted(
        (k for k in entries if k not in _PINNED_NO_ORACLE),
        key=lambda k: (last_seen.get(k, -1), k),
    )
    return {k: entries[k] for k in pinned + rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order is rotated by _rotate_for_driver_window (the driver
    # snapshots only the first 50 entries); the literal order below is
    # just grouping by family.
    return _rotate_for_driver_window({
        # -- no-oracle entries (rows-only driver check; must stay in-window)
        "ann_ivfpq": q_ann_ivfpq,
        "ann_build": q_ann_build,
        "ann_build_twolevel": q_ann_build_twolevel,
        "ann_query": q_ann_query,
        "ann_clustered_query": q_ann_clustered_query,
        "ann_fused_query": q_ann_fused_query,
        "similarity_join_lsh": q_similarity_join_lsh,
        "similarity_join_ivf": q_similarity_join_ivf,
        # -- round-12 value oracles for the approximate machinery
        # (VERDICT r11 #5): escalate-to-complete lanes hash-matched
        # against the exact O(n^2) join; dedup_minhash_fast shares the
        # md5 lane's oracle (its embedded proof pins pair-set equality)
        "similarity_join_lsh_full": q_similarity_join_lsh_full,
        "similarity_join_ivf_full": q_similarity_join_ivf_full,
        # -- entries rotated into the driver window in round 5
        "dedup_incremental": q_dedup_incremental,
        "tfidf_top_terms": q_tfidf_top_terms,
        "text_logprob": q_text_logprob,
        "shuffle_order": q_shuffle_order,
        "sq_encode": q_sq_encode,
        "sq_knn": q_sq_knn,
        "event_funnel": q_event_funnel,
        "retention_cohorts": q_retention_cohorts,
        "keyword_search": q_keyword_search,
        "hybrid_search_rrf": q_hybrid_search_rrf,
        "chunk_docs": q_chunk_docs,
        "quality_deciles": q_quality_deciles,
        "salted_join": q_salted_join,
        "sql_functions": q_sql_functions,
        "multi_join_revenue": q_multi_join_revenue,
        "join_anti_customers": q_join_anti_customers,
        "above_avg_balance": q_above_avg_balance,
        "orders_by_month": q_orders_by_month,
        "value_histogram": q_value_histogram,
        "pivot_events": q_pivot_events,
        "agg_cube": q_agg_cube,
        "window_lag_deltas": q_window_lag_deltas,
        # -- one representative per family proven in rounds 3-4
        "knn_topk": q_knn_topk,
        "similarity_join": q_similarity_join,
        "vector_normalize": q_vector_normalize,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_minhash_fast": q_dedup_minhash_fast,
        "dedup_embedding": q_dedup_embedding,
        "dedup_components": q_dedup_components,
        "text_quality": q_text_quality,
        # -- round-5 additions, never driver-checked before: in-window
        "dedup_spans": q_dedup_spans,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_gif_frames": q_multimodal_gif_frames,
        "multimodal_jpeg": q_multimodal_jpeg,
        "multimodal_video": q_multimodal_video,
        "bq_knn": q_bq_knn,
        "agg_pricing_summary": q_agg_pricing_summary,
        "window_top_events": q_window_top_events,
        "sessionize": q_sessionize,
        "stream_window_agg": q_stream_window_agg,
        "multimodal_meta": q_multimodal_meta,
        "embed_mean_pool": q_embed_mean_pool,
        # ---------------- entries 51+ (proven in r03/r04 driver artifacts;
        # ---------------- re-verified locally via tools/check_contract.py;
        # ---------------- stream_dedup moved here in r5 to make window
        # ---------------- room for ann_fused_query — streaming keeps
        # ---------------- stream_window_agg as its in-window row)
        "stream_dedup": q_stream_dedup,
        "stream_near_dup": q_stream_near_dup,
        "join_top_customers": q_join_top_customers,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "text_tokens": q_text_tokens,
        "pipeline_curation": q_pipeline_curation,
        "sample_mixture": q_sample_mixture,
        "knn_batch": q_knn_batch,
        "ann_rerank_fixed": q_ann_rerank_fixed,
        "multimodal_mpeg_meta": q_multimodal_mpeg_meta,
        "multimodal_container_meta": q_multimodal_container_meta,
        "filtered_knn": q_filtered_knn,
        "filtered_knn_trained": q_filtered_knn_trained,
        "dedup_survivors": q_dedup_survivors,
        # same connected-components path as dedup_components; the key
        # stays because the driver's keys are additions-only
        "dedup_components_star": q_dedup_components,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "text_repetition": q_text_repetition,
        "text_pii_scrub": q_text_pii_scrub,
        "pack_shards": q_pack_shards,
        "window_rolling": q_window_rolling,
        "top_tokens": q_top_tokens,
        "range_join": q_range_join,
        "agg_quantiles": q_agg_quantiles,
        "stream_sessionize": q_stream_sessionize,
        "stream_interval_join": q_stream_interval_join,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_resize": q_multimodal_resize,
        "asof_join": q_asof_join,
        "agg_rollup": q_agg_rollup,
        "set_ops": q_set_ops,
        "contamination_check": q_contamination_check,
    })


# ----------------------------------------------------------------- oracles
_NORM_EMB_CTE = """
emb as (
  select vec_id,
         list_transform(embedding, x -> x::DOUBLE / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) v
  from embeddings
)
"""

_SHINGLE_CTE = r"""
toks as (
  select doc_id, regexp_extract_all(text, '\S+') t from documents
),
sh as (
  select doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) shingles
  from toks where len(t) >= 3
),
ex as (
  select doc_id, unnest(shingles) shingle, len(shingles) n from sh
),
inter as (
  select a.doc_id id_a, b.doc_id id_b, count(*) i,
         any_value(a.n) na, any_value(b.n) nb
  from ex a join ex b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
),
jac as (
  select id_a, id_b, i * 1.0 / (na + nb - i) j from inter
)
"""


# BM25 scoring replayed with every literal forced to DOUBLE (DuckDB parses
# bare decimal literals as DECIMAL, whose exact arithmetic diverges from
# Spark's IEEE doubles in later digits) and the per-term sum applied in
# sorted-term order, matching operators/search.py::bm25_scores exactly.
def _bm25_sql(terms: tuple[str, ...]) -> str:
    ts = sorted(terms)
    term_list = ", ".join(f"'{t}'" for t in ts)
    pivots = ",\n         ".join(
        f"sum(case when term = '{t}' then s end) s{i}" for i, t in enumerate(ts)
    )
    total = " + ".join(f"coalesce(s{i}, 0.0::DOUBLE)" for i in range(len(ts)))
    return rf"""
tok as (
  select doc_id, lower(unnest(regexp_extract_all(text, '\S+'))) term from documents
),
dl as (select doc_id, count(*) dl from tok group by 1),
stats as (
  select (select count(distinct doc_id) from documents)::DOUBLE n,
         (select sum(dl)::DOUBLE / count(*) from dl) avgdl
),
tf as (
  select doc_id, term, count(*) tf from tok
  where term in ({term_list}) group by 1, 2
),
dfq as (select term, count(*) df from tf group by 1),
persc as (
  select tf.doc_id, tf.term,
         (stats.n - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE)
           * tf.tf * 2.2::DOUBLE
           / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE
              + 0.75::DOUBLE * dl.dl / stats.avgdl)) s
  from tf join dfq using (term) join dl using (doc_id) cross join stats
),
bm25 as (
  select doc_id, count(*) n_matched_terms,
         {pivots}
  from persc group by doc_id
),
bm25s as (
  select doc_id, n_matched_terms, {total} score from bm25
)
"""


# SQ8 grid + codes, replayed from the raw embeddings exactly as
# index/sq.py computes them (same IEEE op order; see sq.py docstrings)
_SQ_CTE = """
expl as (
  select vec_id, generate_subscripts(embedding, 1) pos, unnest(embedding)::DOUBLE x
  from embeddings
),
grid as (
  select pos, min(x) mn, max(x) mx from expl group by pos
),
codes as (
  select vec_id, pos,
         case when mx = mn then 0
              else greatest(0, least(255, floor((x - mn) * 255.0 / (mx - mn) + 0.5)::INTEGER))
         end c
  from expl join grid using (pos)
)
"""


def _minhash_sql(cross_cutoff: int | None = None) -> str:
    # Kirsch-Mitzenmacher double hashing, mirroring
    # operators.dedup._signatures_from_shingled: ONE md5 per shingle,
    # h_i = (a + i*b) mod 2^48 with a = hex[1..12], b = hex[17..28] forced
    # odd. 48-bit halves keep a + 15*b < 2^52 (DuckDB errors on BIGINT
    # overflow; Spark would silently wrap).
    mod = 1 << 48
    mins = ",\n         ".join(
        f"min((a + {i} * b) % {mod}) h{i}" for i in range(MINHASH_HASHES)
    )
    r = MINHASH_HASHES // MINHASH_BANDS
    bands = ",\n    ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"h{b * r + i}" for i in range(r))
        + f")) b{b}"
        for b in range(MINHASH_BANDS)
    )
    band_rows = " union all ".join(
        f"select doc_id, {b} band, b{b} bucket from sigs" for b in range(MINHASH_BANDS)
    )
    return f"""
with {_SHINGLE_CTE.strip().rstrip()},
sigsrc as (
  select doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT a,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT b0
  from ex
),
sigmins as (
  select doc_id, {mins}
  from (select doc_id, a, b0 + 1 - (b0 % 2) b from sigsrc) group by doc_id
),
sigs as (
  select doc_id,
    {bands}
  from sigmins
),
bandrows as ({band_rows}),
cand as (
  select distinct a.doc_id id_a, b.doc_id id_b
  from bandrows a join bandrows b using (band, bucket)
  where {"a.doc_id < " + str(cross_cutoff) + " and b.doc_id >= " + str(cross_cutoff)
         if cross_cutoff is not None else "a.doc_id < b.doc_id"}
)
select {"c.id_b as new_id, c.id_a as corpus_id"
        if cross_cutoff is not None else "c.id_a, c.id_b"},
       floor(j.j * 1000000 + 0.5) / 1000000 as jaccard
from cand c join jac j on c.id_a = j.id_a and c.id_b = j.id_b
where j.j >= {NEAR_DUP_TAU}
"""


def _simhash_sql(max_hamming: int = 3) -> str:
    """Brute-force SimHash oracle: recompute the 64 md5-derived majority
    bits per doc (bit j = bit (j%4) of hex char 16-(j//4) — the big-endian
    uint64 layout of the Spark side's conv(substring(md5,1,16),16,10)),
    then all-pairs hamming. The Spark banding has no false negatives
    (pigeonhole), so banded output == this brute force."""
    nib = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
    sums = ",\n         ".join(
        f"sum(({nib.format(p=16 - j // 4)} >> {j % 4}) & 1) b{j}" for j in range(64)
    )
    gbits = ",\n         ".join(
        f"coalesce(case when 2 * b{j} > n then 1 else 0 end, 0) g{j}" for j in range(64)
    )
    diff = " + ".join(f"(case when a.g{j} <> b.g{j} then 1 else 0 end)" for j in range(64))
    return rf"""
with toks as (
  select doc_id, md5(t) h
  from (select doc_id, unnest(regexp_extract_all(text, '\S+')) t from documents)
),
agg as (
  select doc_id, count(*) n,
         {sums}
  from toks group by doc_id
),
sig as (
  select d.doc_id,
         {gbits}
  from (select doc_id from documents) d left join agg using (doc_id)
),
pairs as (
  select a.doc_id id_a, b.doc_id id_b, ({diff})::INTEGER hamming
  from sig a join sig b on a.doc_id < b.doc_id
)
select id_a, id_b, hamming from pairs where hamming <= {max_hamming}
"""


_DECODE_SQL = r"""
with h as (
  select doc_id,
         md5(text) m,
         hex(encode(text)) hx,
         octet_length(encode(text)) n
  from documents
),
nibs as (
  select doc_id, n, hx,
         strpos('0123456789abcdef', substr(m, 1, 1)) - 1 d0h,
         strpos('0123456789abcdef', substr(m, 2, 1)) - 1 d0l,
         strpos('0123456789abcdef', substr(m, 3, 1)) - 1 d1h,
         strpos('0123456789abcdef', substr(m, 4, 1)) - 1 d1l
  from h
)
select doc_id,
       (16 + (d0h * 16 + d0l) % 64)::INTEGER as height,
       (16 + (d1h * 16 + d1l) % 64)::INTEGER as width,
       3::INTEGER as channels,
       case when n = 0 then 0.0
            else floor((len([i for i in range(n) if substr(hx, 2 * i + 1, 1) in ('0', '1')]) * 1.0 / n)
                       * 1000000 + 0.5) / 1000000
       end as f0
from nibs
"""


_STOPWORDS_SQL = "['the','and','of','to','in','is','that','it','with','for','a','an','on','at','by','be','as','are','was']"
_LANG_SQL = {
    "en": "['the','and','of','to','in','is','that','it','with','for']",
    "es": "['el','la','de','que','y','en','los','del','se','las']",
    "de": "['der','die','und','das','von','zu','mit','den','ist','nicht']",
    "fr": "['le','la','les','de','et','des','est','une','dans','que']",
}


def _oracle_sql_base() -> dict[str, str]:
    lang_counts = ",\n         ".join(
        f"len(list_filter(toks, s -> list_contains({arr}, lower(s)))) c_{lang}"
        for lang, arr in sorted(_LANG_SQL.items())
    )
    return {
        "knn_topk": f"""
with {_NORM_EMB_CTE.strip()},
q as (select v qv from emb where vec_id = 0)
select e.vec_id, floor(list_dot_product(e.v, q.qv) * 1000000 + 0.5) / 1000000 as score
from emb e cross join q
order by list_dot_product(e.v, q.qv) desc, e.vec_id
limit 10
""",
        "knn_batch": f"""
with {_NORM_EMB_CTE.strip()},
q as (select vec_id query_id, v qv from emb where vec_id < 8),
scored as (
  select q.query_id, e.vec_id, list_dot_product(e.v, q.qv) s
  from emb e cross join q
),
ranked as (
  select *, row_number() over (partition by query_id order by s desc, vec_id) rn
  from scored
)
select query_id, vec_id, floor(s * 1000000 + 0.5) / 1000000 as score from ranked where rn <= 5
""",
        "multimodal_container_meta": """
select doc_id,
       case doc_id % 3 when 0 then 'flac' when 1 then 'ogg-vorbis'
            else 'mp4' end as format,
       (case when doc_id % 3 < 2
             then [32000, 44100, 48000][((doc_id // 3) % 3) + 1]
             else 0 end)::INTEGER as sample_rate,
       (case when doc_id % 3 < 2 then 1 + doc_id % 2 else 0 end)::INTEGER
           as channels,
       (case when doc_id % 3 < 2 then 1000 * (1 + doc_id % 7)
             else 0 end)::BIGINT as total_samples,
       floor(case when doc_id % 3 < 2
                  then (1000 * (1 + doc_id % 7)) * 1.0
                       / [32000, 44100, 48000][((doc_id // 3) % 3) + 1]
                  else (500 + 250 * (doc_id % 10)) / 1000.0 end
             * 1000000 + 0.5) / 1000000 as duration_sec,
       (case when doc_id % 3 = 2 then 320 + 64 * (doc_id % 5)
             else 0 end)::INTEGER as width,
       (case when doc_id % 3 = 2 then 240 + 48 * (doc_id % 5)
             else 0 end)::INTEGER as height,
       case when doc_id % 3 = 2 then 'avc1' else '' end as codec,
       (case when doc_id % 3 = 2 then 24 + 12 * (doc_id % 6)
             else 0 end)::BIGINT as n_frames,
       floor((case when doc_id % 3 = 2
              then (24 + 12 * (doc_id % 6)) * 600.0
                   / (300 + 150 * (doc_id % 10))
              else 0 end) * 1000000 + 0.5) / 1000000 as fps,
       floor((case when doc_id % 3 = 2
              then (24 + 12 * (doc_id % 6)) * (800 + 200 * (doc_id % 4))
                   * 8 * 600.0 / (300 + 150 * (doc_id % 10)) / 1000
              else 0 end) * 1000000 + 0.5) / 1000000 as bitrate_kbps
from documents
""",
        "multimodal_mpeg_meta": """
select doc_id,
       'mpeg1-layer3' as format,
       ([44100, 48000, 32000][(doc_id % 3) + 1])::INTEGER as sample_rate,
       (1 + doc_id % 2)::INTEGER as channels,
       (3 + doc_id % 5)::BIGINT as n_frames,
       floor((3 + doc_id % 5) * 1152.0 / ([44100, 48000, 32000][(doc_id % 3) + 1])
             * 1000000 + 0.5) / 1000000 as duration_sec,
       floor(([64, 128, 192, 320][(doc_id % 4) + 1])::DOUBLE
             * 1000000 + 0.5) / 1000000 as bitrate_kbps
from documents
""",
        "ann_rerank_fixed": f"""
with {_NORM_EMB_CTE.strip()},
q as (select vec_id query_id, v qv from emb where vec_id < 8),
cand as (select vec_id, v from emb where vec_id % 7 = 0),
scored as (
  select q.query_id, c.vec_id, list_dot_product(c.v, q.qv) s
  from cand c cross join q
),
ranked as (
  select *, row_number() over (partition by query_id order by s desc, vec_id) rn
  from scored
)
select query_id, vec_id, floor(s * 1000000 + 0.5) / 1000000 as score from ranked where rn <= 10
""",
        "similarity_join": f"""
with {_NORM_EMB_CTE.strip()}
select a.vec_id id_a, b.vec_id id_b, floor(list_dot_product(a.v, b.v) * 1000000 + 0.5) / 1000000 as score
from emb a join emb b on a.vec_id < b.vec_id
where list_dot_product(a.v, b.v) >= {SIM_TAU}
""",
        "vector_normalize": """
select vec_id,
       floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 as l2_norm,
       floor(embedding[1]::DOUBLE / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 as first_component
from embeddings
""",
        "dedup_exact": r"""
select md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) as fingerprint,
       min(doc_id) as doc_id, count(*) as dup_count
from documents
group by 1
""",
        "dedup_spans": r"""
with toks as (
  select doc_id, regexp_extract_all(text, '\S+') t from documents
),
sh as (
  select doc_id, u.pos as pos, u.w as w from (
    select doc_id,
           unnest([{'pos': i - 1, 'w': array_to_string(t[i:i+5], ' ')}
                   for i in range(1, len(t) - 6 + 2)]) u
    from toks
  )
),
dup as (
  select doc_id, pos from (
    select doc_id, pos, count(*) over (partition by w) c from sh
  ) where c >= 2
),
brk as (
  select doc_id, pos,
         case when pos > lag(pos) over (partition by doc_id order by pos) + 6
              then 1 else 0 end as b
  from dup
),
isl as (
  select doc_id, pos,
         sum(b) over (partition by doc_id order by pos
                      rows unbounded preceding) as span_id
  from brk
),
spans as (
  select doc_id, span_id, min(pos) as span_start, max(pos) + 6 as span_end
  from isl group by 1, 2
)
select doc_id, count(*)::BIGINT as n_spans,
       sum(span_end - span_start)::BIGINT as dup_tokens
from spans group by 1
""",
        "dedup_survivors": r"""
with keep as (
  select min(doc_id) doc_id
  from documents
  group by md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
)
select d.doc_id, d.lang, d.source, d.n_chars
from documents d semi join keep using (doc_id)
""",
        "dedup_jaccard": f"""
with {_SHINGLE_CTE.strip()},
stop as (
  select shingle from ex group by shingle having count(*) > {JACCARD_MAX_DF}
),
exf as (select * from ex anti join stop using (shingle)),
interf as (
  select a.doc_id id_a, b.doc_id id_b, count(*) i,
         any_value(a.n) na, any_value(b.n) nb
  from exf a join exf b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
),
jacf as (
  select id_a, id_b, i * 1.0 / (na + nb - i) j from interf
)
select id_a, id_b, floor(j * 1000000 + 0.5) / 1000000 as jaccard from jacf where j >= {NEAR_DUP_TAU}
""",
        "dedup_minhash": _minhash_sql(),
        # round 12 (VERDICT r11 #5): the fast lane's embedded proof pins
        # its verified pair set (ids AND values) equal to the md5 lane's,
        # so the md5 lane's bit-exact banding oracle is ITS oracle too —
        # converting the entry from rows-only to hash-matched; any future
        # divergence between the hash families fails the driver gate
        "dedup_minhash_fast": _minhash_sql(),
        "dedup_components": f"""
with recursive {_SHINGLE_CTE.strip()},
stop as (
  select shingle from ex group by shingle having count(*) > {JACCARD_MAX_DF}
),
exf as (select * from ex anti join stop using (shingle)),
interf as (
  select a.doc_id id_a, b.doc_id id_b, count(*) i,
         any_value(a.n) na, any_value(b.n) nb
  from exf a join exf b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
),
pairs as (
  select id_a, id_b from interf where i * 1.0 / (na + nb - i) >= {NEAR_DUP_TAU}
),
und as (
  select id_a a, id_b b from pairs union select id_b, id_a from pairs
),
lab(node, lbl) as (
  select distinct a, a from und
  union
  select u.b, l.lbl from lab l join und u on u.a = l.node
)
select node as doc_id, min(lbl) as component from lab group by node
""",
        "dedup_simhash": _simhash_sql(max_hamming=3),
        "multimodal_decode": _DECODE_SQL,
        "multimodal_resize": """
select doc_id,
       64::INTEGER as height,
       48::INTEGER as width,
       substr(hex(encode(text)), 1, 16) as content_hex8,
       octet_length(encode(text))::BIGINT as content_bytes
from documents
""",
        "multimodal_frames": """
with h as (
  select doc_id, hex(encode(text)) hx, octet_length(encode(text)) n
  from documents
),
f as (
  select doc_id, n, hx,
         unnest(range(0, greatest((n + 4095) // 4096, 1), 10)) fno
  from h
)
select doc_id,
       fno::INTEGER as frame_no,
       substr(hx, fno * 8192 + 1, 16) as frame_hex8,
       (least((fno + 1) * 4096, n) - fno * 4096)::BIGINT as frame_bytes
from f
""",
        "multimodal_audio": """
with h as (
  select doc_id, hex(encode(text)) hx, octet_length(encode(text)) n
  from documents
),
b as (
  select doc_id, n, unnest(range(0, n)) i, hx
  from h
),
s as (
  select doc_id, n, i,
         (('0x' || substring(hx, 2*i + 1, 2))::INT - 128) / 128.0 x
  from b
),
lagged as (
  select doc_id, n, x,
         case when x < 0 then 1 else 0 end sgn,
         lag(case when x < 0 then 1 else 0 end)
           over (partition by doc_id order by i) prev_sgn
  from s
),
agg as (
  select doc_id, any_value(n) n,
         sqrt(avg(x * x)) rms,
         max(abs(x)) peak,
         sum(case when prev_sgn is not null and sgn != prev_sgn
                  then 1 else 0 end) crossings
  from lagged group by doc_id
)
select h.doc_id,
       8000::INTEGER as sample_rate,
       1::INTEGER as channels,
       h.n::BIGINT as n_samples,
       floor(h.n / 8000.0 * 1000000.0 + 0.5) / 1000000.0 as duration_sec,
       floor(coalesce(agg.rms, 0.0) * 1000000.0 + 0.5) / 1000000.0 as rms,
       floor(coalesce(case when agg.n > 1 then agg.crossings / (agg.n - 1.0)
                           else 0.0 end, 0.0) * 1000000.0 + 0.5) / 1000000.0 as zcr,
       floor(coalesce(agg.peak, 0.0) * 1000000.0 + 0.5) / 1000000.0 as peak
from h left join agg using (doc_id)
""",
        "dedup_embedding": f"""
with {_NORM_EMB_CTE.strip()}
select a.vec_id id_a, b.vec_id id_b, floor(list_dot_product(a.v, b.v) * 1000000 + 0.5) / 1000000 as score
from emb a join emb b on a.vec_id < b.vec_id
where list_dot_product(a.v, b.v) >= 0.45
""",
        # round 12 (VERDICT r11 #5): the escalate-to-complete approximate
        # lanes provably emit the exact >= 0.45 pair set at oracle scale
        # (gate sample == corpus ⇒ measured recall == realized; entries
        # assert measured == 1.0), so the exact O(n^2) join is their
        # value oracle — banding/quantizing machinery included.
        "similarity_join_lsh_full": f"""
with {_NORM_EMB_CTE.strip()}
select a.vec_id id_a, b.vec_id id_b, floor(list_dot_product(a.v, b.v) * 1000000 + 0.5) / 1000000 as score
from emb a join emb b on a.vec_id < b.vec_id
where list_dot_product(a.v, b.v) >= 0.45
""",
        "similarity_join_ivf_full": f"""
with {_NORM_EMB_CTE.strip()}
select a.vec_id id_a, b.vec_id id_b, floor(list_dot_product(a.v, b.v) * 1000000 + 0.5) / 1000000 as score
from emb a join emb b on a.vec_id < b.vec_id
where list_dot_product(a.v, b.v) >= 0.45
""",
        "text_tokens": r"""
select doc_id,
       len(regexp_extract_all(text, '\S+'))::BIGINT as n_tokens,
       len(list_filter(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'),
                       t -> regexp_matches(t, '\S')))::BIGINT as n_subtokens
from documents
""",
        "text_quality": rf"""
with t as (
  select doc_id,
         regexp_extract_all(text, '\S+') toks,
         length(text) n_chars,
         len(regexp_extract_all(text, '\S+')) n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) punct
  from documents
),
m as (
  select doc_id, n_chars, n_tokens,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / greatest(n_tokens, 1) avg_tok,
         punct * 1.0 / greatest(n_chars, 1) punct_ratio,
         len(list_filter(toks, s -> list_contains({_STOPWORDS_SQL}, lower(s)))) * 1.0 / greatest(n_tokens, 1) stop_ratio,
         len(list_filter(toks, s -> list_contains({_STOPWORDS_SQL}, lower(s)))) stop_hits
  from t
)
select doc_id,
       n_chars::BIGINT as n_chars,
       n_tokens::BIGINT as n_tokens,
       round(avg_tok, 6) as avg_token_len,
       round(punct_ratio, 6) as punct_ratio,
       round(stop_ratio, 6) as stopword_ratio,
       round(least(n_tokens / 64.0, 1.0)
             * (case when avg_tok >= 2.0 and avg_tok <= 12.0 then 1.0 else 0.5 end)
             * (case when stop_hits > 0 then 1.0 else 0.7 end), 6) as quality_score
from m
""",
        "text_langid": rf"""
with t as (
  select doc_id, regexp_extract_all(text, '\S+') toks from documents
),
c as (
  select doc_id,
         {lang_counts}
  from t
),
m as (
  select doc_id, c_de, c_en, c_es, c_fr, greatest(c_de, c_en, c_es, c_fr) best from c
)
select doc_id,
       case when best = 0 then 'und'
            when c_de = best then 'de'
            when c_en = best then 'en'
            when c_es = best then 'es'
            else 'fr' end as detected_lang,
       best::BIGINT as marker_hits
from m
""",
        "text_fingerprint": r"""
select doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) as fingerprint
from documents
""",
        "text_repetition": r"""
with toks as (
  select doc_id, unnest(regexp_extract_all(text, '\S+')) t from documents
),
pt as (select doc_id, t, count(*) c from toks group by 1, 2),
ag as (select doc_id, sum(c) n, count(*) nd, max(c) topc from pt group by 1),
ln as (
  select doc_id,
         len(string_split(text, chr(10))) nl,
         len(list_distinct(string_split(text, chr(10)))) ndl
  from documents
)
select l.doc_id,
       coalesce(a.n, 0)::BIGINT as n_tokens,
       round(coalesce(a.nd * 1.0 / a.n, 0), 6) as distinct_token_ratio,
       round(coalesce(a.topc * 1.0 / a.n, 0), 6) as top_token_ratio,
       round(1.0 - l.ndl * 1.0 / l.nl, 6) as dup_line_ratio
from ln l left join ag a using (doc_id)
""",
        "text_pii_scrub": r"""
with s as (
  select doc_id,
         text t0,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') t1
  from documents
),
s2 as (
  select doc_id, t0, t1,
         regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') t2
  from s
)
select doc_id,
       regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') as clean_text,
       len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT as n_emails,
       len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT as n_ips,
       len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::BIGINT as n_phones
from s2
""",
        "pipeline_curation": rf"""
with keep as (
  select min(doc_id) doc_id
  from documents
  group by md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
),
t as (
  select d.doc_id, d.source, regexp_extract_all(d.text, '\S+') toks
  from documents d semi join keep using (doc_id)
),
m as (
  select doc_id, source, len(toks) n_tokens,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / greatest(len(toks), 1) avg_tok,
         len(list_filter(toks, s -> list_contains({_STOPWORDS_SQL}, lower(s)))) stop_hits,
         {lang_counts}
  from t
),
q as (
  select doc_id, source, n_tokens,
         round(least(n_tokens / 64.0, 1.0)
               * (case when avg_tok >= 2.0 and avg_tok <= 12.0 then 1.0 else 0.5 end)
               * (case when stop_hits > 0 then 1.0 else 0.7 end), 6) quality_score,
         greatest(c_de, c_en, c_es, c_fr) best, c_de, c_en, c_es, c_fr
  from m
),
l as (
  select *, case when best = 0 then 'und'
                 when c_de = best then 'de'
                 when c_en = best then 'en'
                 when c_es = best then 'es'
                 else 'fr' end detected_lang
  from q
)
select detected_lang, source,
       count(*) as n_docs,
       sum(n_tokens)::BIGINT as total_tokens,
       floor(avg(quality_score) * 1000000 + 0.5) / 1000000 as avg_quality
from l
where detected_lang = 'en' and quality_score >= 0.5
group by 1, 2
""",
        "embed_mean_pool": """
with ex as (
  select label, unnest(range(1, len(embedding) + 1)) as pos, embedding
  from embeddings
),
vals as (select label, pos, embedding[pos]::DOUBLE x from ex)
select label, pos::BIGINT as pos,
       floor(avg(x) * 1000000 + 0.5) / 1000000 as value
from vals group by 1, 2
""",
        "sample_mixture": """
with r as (
  select doc_id, lang,
         row_number() over (
           partition by lang
           order by md5(concat('7', ':', doc_id)), doc_id
         ) rn
  from documents
)
select doc_id, lang from r
where (lang = 'de' and rn <= 80)
   or (lang = 'en' and rn <= 120)
   or (lang = 'fr' and rn <= 40)
""",
        "pack_shards": r"""
with t as (
  select doc_id, len(regexp_extract_all(text, '\S+'))::BIGINT n_tokens
  from documents
),
s as (
  select doc_id, n_tokens,
         (sum(n_tokens) over (order by doc_id rows unbounded preceding) - n_tokens)::BIGINT as "offset"
  from t
)
select doc_id, n_tokens, "offset", ("offset" // 4096)::BIGINT as shard_id
from s
""",
        "agg_pricing_summary": """
select l_returnflag, l_linestatus,
       floor(sum(l_quantity) * 100 + 0.5) / 100 as sum_qty,
       floor(sum(l_extendedprice) * 100 + 0.5) / 100 as sum_base_price,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 as sum_disc_price,
       floor(avg(l_quantity) * 1000000 + 0.5) / 1000000 as avg_qty,
       floor(avg(l_discount) * 1000000 + 0.5) / 1000000 as avg_disc,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02 00:00:00'
group by l_returnflag, l_linestatus
""",
        "join_top_customers": """
with rev as (
  select o_custkey, sum(o_totalprice) r from orders group by o_custkey
)
select c.c_custkey, c.c_name, floor(rev.r * 100 + 0.5) / 100 as revenue
from rev join customer c on rev.o_custkey = c.c_custkey
order by rev.r desc, c.c_custkey
limit 10
""",
        "filtered_knn": f"""
with {_NORM_EMB_CTE.strip()},
q as (select v qv from emb where vec_id = 0),
f as (select e.vec_id, e.v, b.label from emb e join embeddings b using (vec_id) where b.label = 3)
select f.vec_id, f.label,
       floor(list_dot_product(f.v, q.qv) * 1000000 + 0.5) / 1000000 as score
from f cross join q
order by list_dot_product(f.v, q.qv) desc, f.vec_id
limit 10
""",
        # the trained-path entry's corpus is the embeddings replicated x11
        # with per-replica circular shifts (norm-preserving); ids follow the
        # entry's add order: id = replica * N + vec_id. Normalization runs
        # AFTER the roll, mirroring the ingest path's math on the rolled
        # vector. The 4% bucket filter routes to the exact-subset scan, so
        # the trained index never perturbs the values.
        "filtered_knn_trained": f"""
with {_NORM_EMB_CTE.strip()},
q as (select v qv from emb where vec_id = 1),
n as (select count(*) c from embeddings),
rolled as (
  select (r.range * n.c + b.vec_id)::BIGINT as id,
         (b.embedding[r.range+1:] || b.embedding[1:r.range]) as rv,
         b.label
  from embeddings b cross join range(11) r cross join n
  where b.vec_id % 25 = 0
),
rep as (
  select id, label,
         list_transform(rv, x -> x::DOUBLE / sqrt(list_dot_product(rv::DOUBLE[], rv::DOUBLE[]))) as v
  from rolled
)
select rep.id, rep.label::INT as label,
       floor(list_dot_product(rep.v, q.qv) * 1000000 + 0.5) / 1000000 as score
from rep cross join q
order by list_dot_product(rep.v, q.qv) desc, rep.id
limit 40
""",
        "asof_join": """
select o.o_orderkey, o.o_custkey,
       q.event_id as last_event_id,
       floor(epoch(q.ts))::BIGINT as last_event_epoch
from orders o
left join lateral (
  select e.event_id, e.ts
  from events e
  where e.user_id = o.o_custkey and e.ts <= o.o_orderdate
  order by e.ts desc, e.event_id desc
  limit 1
) q on true
""",
        "agg_rollup": """
select coalesce(l_returnflag, 'ALL') as returnflag,
       coalesce(l_linestatus, 'ALL') as linestatus,
       floor(sum(l_quantity) * 100 + 0.5) / 100 as sum_qty,
       count(*) as n
from lineitem
group by rollup (l_returnflag, l_linestatus)
""",
        "set_ops": """
select distinct custkey from (
  (select o_custkey custkey from orders where o_orderpriority = '1-URGENT'
   intersect
   select o_custkey from orders where o_totalprice > 300000)
  union all
  (select o_custkey from orders where o_totalprice < 10000
   except
   select o_custkey from orders where o_orderpriority = '1-URGENT')
)
""",
        "sessionize": """
with g as (
  select user_id, ts, floor(epoch(ts))::BIGINT es,
         case when floor(epoch(ts)) - floor(epoch(lag(ts) over (partition by user_id order by ts))) > 1800
                or lag(ts) over (partition by user_id order by ts) is null
              then 1 else 0 end brk
  from events
),
s as (
  select user_id, es,
         (sum(brk) over (partition by user_id order by ts rows unbounded preceding) - 1)::BIGINT session_id
  from g
)
select user_id, session_id,
       min(es) as session_start,
       max(es) as session_end,
       count(*) as n_events
from s group by 1, 2
""",
        "range_join": """
select er.event_id as error_id, c.event_id as click_id, er.user_id
from events er
join events c
  on er.user_id = c.user_id
 and er.event_type = 'error' and c.event_type = 'click'
 and floor(epoch(c.ts)) >= floor(epoch(er.ts))
 and floor(epoch(c.ts)) < floor(epoch(er.ts)) + 3600
""",
        "window_rolling": """
with e as (
  select event_id, user_id, floor(epoch(ts))::BIGINT es, value from events
)
select event_id, user_id,
       count(*) over w as n_last_hour,
       floor(sum(value) over w * 1000000 + 0.5) / 1000000 as value_last_hour
from e
window w as (partition by user_id order by es range between 3600 preceding and current row)
""",
        "top_tokens": r"""
select t as token, count(*) as n
from (select unnest(regexp_extract_all(text, '\S+')) t from documents)
group by t
order by n desc, t
limit 50
""",
        "agg_quantiles": """
select l_returnflag,
       floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000 as p50,
       floor(quantile_cont(l_extendedprice, 0.95) * 1000000 + 0.5) / 1000000 as p95,
       floor(avg(l_extendedprice) * 1000000 + 0.5) / 1000000 as mean_price
from lineitem
group by 1
""",
        "stream_near_dup": _minhash_sql(cross_cutoff=INCR_DEDUP_CUTOFF),
        "stream_dedup": r"""
select min(doc_id) as doc_id,
       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) as fingerprint
from documents
group by 2
""",
        "multimodal_meta": """
select doc_id,
       length(text)::BIGINT as size_bytes,
       md5(text) as content_md5,
       case when substring(text, 1, 4) = 'GIF8' then 'image/gif'
            when substring(text, 1, 2) = 'BM' then 'image/bmp'
            when substring(text, 1, 4) = '%PDF' then 'application/pdf'
            when substring(text, 1, 4) = 'RIFF'
              then (case when substring(text, 9, 4) = 'AVI '
                         then 'video/x-msvideo' else 'audio/wav' end)
            when substring(text, 1, 3) = 'ID3' then 'audio/mpeg'
            else 'application/octet-stream' end as mime
from documents
""",
        "stream_window_agg": """
select epoch(date_trunc('hour', ts))::BIGINT as window_epoch,
       event_type,
       count(*) as n_events,
       floor(sum(value) * 1000000 + 0.5) / 1000000 as sum_value
from events
group by 1, 2
""",
        "stream_sessionize": """
with g as (
  select user_id, value, epoch_us(ts) us,
         case when epoch_us(ts) - epoch_us(lag(ts) over w) > 1800 * 1000000
                or lag(ts) over w is null
              then 1 else 0 end brk
  from events
  window w as (partition by user_id order by ts)
),
s as (
  select user_id, value, us,
         sum(brk) over (partition by user_id order by us rows unbounded preceding) sid
  from g
)
select user_id,
       min(us)::BIGINT as session_start_us,
       (max(us) + 1800 * 1000000)::BIGINT as session_end_us,
       count(*) as n_events,
       floor(sum(value) * 1000000 + 0.5) / 1000000 as sum_value
from s
group by user_id, sid
""",
        "stream_interval_join": """
select c.user_id,
       c.event_id as click_id,
       p.event_id as purchase_id,
       (floor(epoch(p.ts)) - floor(epoch(c.ts)))::BIGINT as lag_seconds
from events c
join events p
  on c.user_id = p.user_id
 and c.event_type = 'click' and p.event_type = 'purchase'
 and p.ts > c.ts and p.ts <= c.ts + interval 30 minute
""",
        "window_top_events": """
with ranked as (
  select user_id, event_id, event_type, value,
         row_number() over (partition by user_id order by value desc, event_id) rn
  from events
)
select user_id, event_id, event_type, value, rn
from ranked where rn <= 3
""",
        "contamination_check": rf"""
with toks as (
  select doc_id, regexp_extract_all(text, '\S+') t from documents
),
sh as (
  select doc_id,
         list_distinct([array_to_string(t[i:i+{CONTAM_K - 1}], ' ')
                        for i in range(1, len(t) - {CONTAM_K - 2})]) s
  from toks where len(t) >= {CONTAM_K}
),
ex as (select doc_id, unnest(s) shingle from sh),
bench as (select distinct shingle from ex where doc_id % {CONTAM_BENCH_MOD} = 0),
corp as (select doc_id, shingle from ex where doc_id % {CONTAM_BENCH_MOD} <> 0),
hits as (
  select c.doc_id, count(*) n,
         sum(case when b.shingle is not null then 1 else 0 end) h
  from corp c left join bench b using (shingle) group by 1
)
select d.doc_id,
       coalesce(n, 0)::BIGINT as n_shingles,
       coalesce(h, 0)::BIGINT as n_contaminated,
       round(coalesce(h, 0) / greatest(coalesce(n, 0), 1), 6) as contamination_rate
from (select doc_id from documents where doc_id % {CONTAM_BENCH_MOD} <> 0) d
left join hits using (doc_id)
""",
        "dedup_incremental": rf"""
with fp as (
  select doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) fingerprint
  from documents
),
corp as (select distinct fingerprint from fp where doc_id < {INCR_DEDUP_CUTOFF}),
b as (
  select doc_id, fingerprint,
         min(doc_id) over (partition by fingerprint) first_id
  from fp where doc_id >= {INCR_DEDUP_CUTOFF}
)
select b.doc_id, b.fingerprint,
       case when c.fingerprint is not null then 'dup_of_corpus'
            when b.doc_id <> b.first_id then 'dup_in_batch'
            else 'novel' end as status
from b left join corp c using (fingerprint)
""",
        "tfidf_top_terms": r"""
with tok as (
  select doc_id, lower(unnest(regexp_extract_all(text, '\S+'))) term from documents
),
tf as (select doc_id, term, count(*) tf from tok group by 1, 2),
dfq as (select term, count(*) df from tf group by 1),
nd as (select count(distinct doc_id) n from documents),
scored as (
  select tf.doc_id, tf.term, tf.tf, dfq.df,
         round(tf.tf * (select n from nd)::DOUBLE / dfq.df, 6) tfidf_score
  from tf join dfq using (term)
),
ranked as (
  select *, row_number() over (partition by doc_id order by tfidf_score desc, term) rn
  from scored
)
select doc_id, term, tf, df, tfidf_score, rn::INTEGER as rank
from ranked where rn <= 3
""",
        "text_logprob": r"""
with tok as (
  select doc_id, lower(unnest(regexp_extract_all(text, '\S+'))) term from documents
),
tf as (select doc_id, term, count(*) tf from tok group by 1, 2),
tc as (select term, sum(tf) c from tf group by 1),
tot as (select sum(c) t from tc)
select tf.doc_id,
       sum(tf.tf)::BIGINT as n_tokens,
       round(sum(tf.tf * ln(tc.c::DOUBLE)) / sum(tf.tf)
             - ln((select t from tot)::DOUBLE), 6) as avg_logprob
from tf join tc using (term)
group by tf.doc_id
""",
        "shuffle_order": r"""
select doc_id,
       (row_number() over (order by md5('42:' || doc_id::VARCHAR), doc_id) - 1)::BIGINT as pos
from documents
""",
        "sq_encode": f"""
with {_SQ_CTE.strip()}
select vec_id,
       sum(c)::BIGINT as code_sum,
       md5(string_agg(c::VARCHAR, ',' order by pos)) as code_checksum
from codes group by vec_id
""",
        "bq_knn": """
with enc as (
  select vec_id,
    list_sum([case when embedding[i] > 0 then (1::BIGINT << (i-1)) else 0::BIGINT end
              for i in range(1, 33)]) w0,
    list_sum([case when embedding[i+32] > 0 then (1::BIGINT << (i-1)) else 0::BIGINT end
              for i in range(1, 33)]) w1
  from embeddings
),
q as (select vec_id query_id, w0 qw0, w1 qw1 from enc where vec_id < 8),
ham as (
  select q.query_id, e.vec_id,
         bit_count(xor(e.w0, q.qw0)) + bit_count(xor(e.w1, q.qw1)) h
  from enc e cross join q
),
cand as (
  select query_id, vec_id from (
    select *, row_number() over (partition by query_id order by h, vec_id) rn
    from ham
  ) where rn <= 50
),
qv as (
  select vec_id query_id, embedding::DOUBLE[] qv from embeddings where vec_id < 8
),
scored as (
  select c.query_id, c.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qv, q.qv))) s
  from cand c
  join embeddings e using (vec_id)
  join qv q using (query_id)
)
select query_id, vec_id, floor(s * 1000000 + 0.5) / 1000000 as score
from (
  select *, row_number() over (partition by query_id order by s desc, vec_id) rn
  from scored
) where rn <= 10
""",
        "sq_knn": f"""
with {_SQ_CTE.strip()},
qw as (
  select e.vec_id query_id, e.pos,
         floor((g.mx - g.mn) / 255.0 * e.x * 1048576.0 + 0.5)::BIGINT w
  from expl e join grid g using (pos)
  where e.vec_id < 4
),
scores as (
  select q.query_id, c.vec_id, sum(q.w * c.c)::BIGINT s
  from codes c join qw q using (pos)
  group by 1, 2
),
ranked as (
  select *, row_number() over (partition by query_id order by s desc, vec_id) rn
  from scores
)
select query_id, vec_id, s as qscore from ranked where rn <= 10
""",
        "event_funnel": f"""
with e as (select user_id u, event_type t, epoch_us(ts) us from events),
s0 as (select u, min(us) tt from e where t = '{FUNNEL_STEPS[0]}' group by 1),
s1 as (
  select e.u, min(e.us) tt from e join s0 on e.u = s0.u
  where e.t = '{FUNNEL_STEPS[1]}' and e.us > s0.tt group by 1
),
s2 as (
  select e.u, min(e.us) tt from e join s1 on e.u = s1.u
  where e.t = '{FUNNEL_STEPS[2]}' and e.us > s1.tt group by 1
)
select 0 step_no, '{FUNNEL_STEPS[0]}' step, (select count(*) from s0) n_users
union all
select 1, '{FUNNEL_STEPS[1]}', (select count(*) from s1)
union all
select 2, '{FUNNEL_STEPS[2]}', (select count(*) from s2)
""",
        "retention_cohorts": """
with d as (
  select distinct user_id u, epoch_us(ts) // 86400000000 ed from events
),
c as (select u, min(ed) cohort_day from d group by 1)
select c.cohort_day, (d.ed - c.cohort_day)::INTEGER day_offset, count(*) n_users
from d join c using (u)
where d.ed - c.cohort_day <= 30
group by 1, 2
""",
        "keyword_search": f"""
with {_bm25_sql(BM25_TERMS).strip()}
select doc_id, n_matched_terms,
       floor(score * 1000000 + 0.5) / 1000000 as score
from bm25s
order by bm25s.score desc, doc_id
limit 20
""",
        "hybrid_search_rrf": f"""
with {_NORM_EMB_CTE.strip()},
{_bm25_sql(BM25_TERMS).strip()},
q as (select v qv from emb where vec_id = 0),
vs as (
  select e.vec_id doc_id, list_dot_product(e.v, q.qv) s from emb e cross join q
),
vr as (
  select doc_id, row_number() over (order by s desc, doc_id) r from vs
  qualify r <= 50
),
kr as (
  select doc_id, row_number() over (order by score desc, doc_id) r from bm25s
  qualify r <= 50
),
fused as (
  select doc_id,
         (case when vr.r is not null
               then 1.0::DOUBLE / (60.0::DOUBLE + vr.r) else 0.0::DOUBLE end
          + case when kr.r is not null
                 then 1.0::DOUBLE / (60.0::DOUBLE + kr.r) else 0.0::DOUBLE end)
           rrf_score,
         (vr.r is not null and kr.r is not null) in_both
  from vr full outer join kr using (doc_id)
)
select doc_id, floor(rrf_score * 1000000 + 0.5) / 1000000 as rrf_score, in_both
from fused order by fused.rrf_score desc, doc_id limit 10
""",
        "chunk_docs": f"""
with base as (
  select doc_id, text, length(text) n from documents
  where length(text) > 0
),
st as (
  select doc_id, text,
         generate_series(1, greatest(n - {CHUNK_OVERLAP}, 1),
                         {CHUNK_SIZE - CHUNK_OVERLAP}) ss
  from base
),
e as (
  select doc_id, text,
         generate_subscripts(ss, 1) - 1 chunk_no, unnest(ss) stt
  from st
)
select doc_id,
       chunk_no::INTEGER as chunk_no,
       stt::INTEGER as "start",
       substr(text, stt, {CHUNK_SIZE}) as chunk_text,
       length(substr(text, stt, {CHUNK_SIZE}))::INTEGER as chunk_len
from e
""",
        "quality_deciles": rf"""
with t as (
  select doc_id,
         regexp_extract_all(text, '\S+') toks,
         length(text) n_chars,
         len(regexp_extract_all(text, '\S+')) n_tokens
  from documents
),
m as (
  select doc_id, n_tokens,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / greatest(n_tokens, 1) avg_tok,
         len(list_filter(toks, s -> list_contains({_STOPWORDS_SQL}, lower(s)))) stop_hits
  from t
),
s as (
  select doc_id,
         round(least(n_tokens / 64.0, 1.0)
               * (case when avg_tok >= 2.0 and avg_tok <= 12.0 then 1.0 else 0.5 end)
               * (case when stop_hits > 0 then 1.0 else 0.7 end), 6) q
  from m
),
b as (
  select doc_id, q, ntile({QUALITY_BINS}) over (order by q desc, doc_id) bin
  from s
)
select bin, count(*) n_docs, min(q) min_score, max(q) max_score
from b group by bin
""",
        "salted_join": """
with dim as (select event_type, count(*) n_of_type from events group by 1)
select e.event_id, e.event_type, d.n_of_type
from events e join dim d using (event_type)
""",
        "sql_functions": r"""
select d.doc_id,
       md5(lower(trim(regexp_replace(d.text, '\s+', ' ', 'g')))) as fp,
       len(regexp_extract_all(d.text, '\S+'))::BIGINT as n_tokens,
       floor(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
             * 1000000 + 0.5) / 1000000 as sq_norm
from documents d join embeddings e on d.doc_id = e.vec_id
""",
        "multi_join_revenue": """
select n_name,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 as revenue
from customer
join orders on c_custkey = o_custkey
join lineitem on l_orderkey = o_orderkey
join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
where r_name = 'ASIA'
  and o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01'
group by n_name
""",
        "join_anti_customers": """
select c_custkey, c_name
from customer c
where not exists (
  select 1 from orders o
  where o.o_custkey = c.c_custkey and o.o_orderdate < '1996-01-01'
)
""",
        "above_avg_balance": """
with w as (
  select c_nationkey, c_acctbal,
         avg(c_acctbal) over (partition by c_nationkey) nav
  from customer
)
select c_nationkey,
       count(*) as n_above,
       floor(max(c_acctbal) * 100.0 + 0.5) / 100.0 as max_bal
from w where c_acctbal > nav
group by c_nationkey
""",
        "orders_by_month": """
select strftime(o_orderdate, '%Y-%m') as month,
       count(*) as n_orders,
       floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 as revenue
from orders
group by 1
""",
        "value_histogram": """
select floor(value / 50.0) * 50.0 as bucket,
       count(*) as n_events,
       floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 as avg_value
from events
group by 1
""",
        "pivot_events": f"""
select user_id,
       {", ".join(f"sum(case when event_type = '{t}' then 1 else 0 end)::BIGINT as n_{t}" for t in EVENT_TYPES)},
       ({" + ".join(f"sum(case when event_type = '{t}' then 1 else 0 end)" for t in EVENT_TYPES)})::BIGINT as n_total
from events
group by user_id
""",
        "agg_cube": """
select lang, source, count(*) as n_docs, sum(n_chars)::BIGINT as total_chars
from documents
group by cube(lang, source)
""",
        "window_lag_deltas": """
with e as (select event_id, user_id, value, epoch_us(ts) us from events)
select event_id, user_id,
       lag(event_id) over w as prev_event_id,
       (us - lag(us) over w)::BIGINT as gap_us,
       floor((value - lag(value) over w) * 1000000 + 0.5) / 1000000 as value_delta
from e
window w as (partition by user_id order by us, event_id)
""",
    }


def oracle_sql() -> dict[str, str]:
    sql = _oracle_sql_base()
    # both component keys run the one connected-components path
    sql["dedup_components_star"] = sql["dedup_components"]
    return sql
