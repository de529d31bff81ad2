"""Document deduplication operators for training-data pipelines.

Beyond-reference capability (the reference dedups nothing; these are the
standard LLM-corpus cleaning passes), built Spark-first:

- ``dedup_exact``            — hash-groupBy on a canonical fingerprint
- ``ngram_jaccard_pairs``    — exact n-gram Jaccard via shingle equi-join
- ``minhash_lsh_pairs``      — MinHash signatures + banded LSH candidates,
                               exact-Jaccard verified
- ``simhash_pairs``          — 64-bit SimHash, banded hamming candidates
- embedding near-dup         — ``operators.similarity.cosine_pairs[_lsh]``

Portability: the exact operators are defined purely in terms of md5 /
regexp / array primitives so an independent SQL engine (DuckDB) reproduces
them bit-for-bit — that's the correctness oracle. MinHash double-hashes
one md5 per shingle (Kirsch-Mitzenmacher: h_i = (a + i*b) mod 2^48 over
the digest's hex halves), which is engine-agnostic (no reliance on
Spark's xxhash64 vs DuckDB's hash).

Scale notes
-----------
- Exact dedup is one hash aggregation on a 32-char key: map-side partial
  aggregation + one shuffle of (fingerprint, id) — optimal.
- The shingle equi-join shuffles (shingle, id) pairs; shingle frequency
  skew (stop-shingles) is the hazard at 100 TB — ``max_shingle_freq``
  drops shingles occurring in more than N docs (standard df-cut), which
  bounds the join fan-out. AQE skew-join handles the remainder.
- MinHash LSH shuffles only (band, bucket-hash, id) — constant per doc —
  then verifies candidates; this is THE scalable text near-dup path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mindb_spark.functions.text import (
    exploded_shingle_hashes,
    exploded_word_shingles,
    fingerprint,
)
from mindb_spark.session import widen


def dedup_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: str = "min",
) -> DataFrame:
    """Exact dedup on canonical text. Returns (fingerprint, kept id, dup count).

    Keeps the min (default) or max id per group — deterministic across
    engines. One aggregation; no window, no sort.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(agg.alias(id_col), F.count("*").alias("dup_count"))
    )


def dedup_exact_survivors(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deduplicated dataset itself (all columns, first id per dup group).

    Anti-join on the LOSER ids, not semi-join on the keep ids (round 8):
    the keep set is ~the whole corpus, so the old ``left_semi`` outgrew
    ``autoBroadcastJoinThreshold`` and SortMergeJoin-shuffled every full
    row — measured at 5.1M docs the curation pipeline's shuffle jumped
    48x (0.05 -> 2.4 GB of text) crossing that threshold
    (tools/dedup_scale_probe.py, PERF_NOTES round 8). The loser set is
    only the duplicate rows — EMPTY on a clean corpus, small at normal
    dup rates — so the anti join broadcasts and the full rows never
    shuffle; the worst case (extreme dup rate) degrades to the one
    full-row shuffle the old plan always paid. Loser ids come from one
    narrow (fingerprint, id) exchange + a rank-within-group filter.

    On a LARGE input the loser side is materialized eagerly
    (localCheckpoint + count) to pick broadcast EXPLICITLY: leaving the
    choice to AQE still paid the full-row shuffle WRITE, because AQE
    submits both SortMergeJoin child stages before it can observe the
    tiny build side and convert (measured: wall 100 -> 45 s at 5.1M
    docs but shuffle bytes unchanged; the explicit broadcast removes
    the 2.4 GB write too). The count guard keeps the driver safe on
    pathological mostly-dup corpora: past ~4M loser ids the plain join
    (and its honest full-row shuffle) is the right plan anyway. Small
    inputs (optimizer size estimate under 64 MB — a free file-size
    read, no job) skip the eager job and broadcast unconditionally:
    losers are bounded by the input, and the extra count/checkpoint
    measured ~1 s of pure overhead at bench scale.

    Skew note for 100 TB: a boilerplate mega-group puts its (48-byte)
    pairs through one window task — linear in the group, and only ids,
    not text; the aggregate in ``dedup_exact`` stays the skew-free path
    when only counts/survivor ids are needed.

    PRECONDITION (round-9 ADVICE): ``id_col`` must uniquely identify
    rows. The anti-join drops every row whose id appears in the loser
    set, so if two ROWS share one id and one copy ranks ``row_number >
    1`` inside its fingerprint group, BOTH rows are dropped (the old
    semi-join would have kept both). With unique ids — the contract the
    engine's own ingest guarantees (O3 gapless allocation) — the two
    formulations agree on every row.

    Null-id rows are always KEPT, explicitly: a null never equals
    anything in an anti-join, and a row without an identity cannot be
    deduplicated against one. (The pre-round-8 semi-join silently
    DROPPED them — nulls don't match in a semi-join either.) The loser
    side filters nulls up front so the documented behavior holds even
    if a future join strategy treats null keys differently; pinned by
    ``tests/test_dedup.py::test_survivors_null_and_unique_id_contract``.
    """
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    losers = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .where(F.col(id_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select(id_col)
    )
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        est = None
    if est is not None and est < (64 << 20):
        return df.join(F.broadcast(losers), id_col, "left_anti")
    losers = losers.localCheckpoint()
    if losers.count() <= 4_000_000:  # ~32 MB of ids: broadcast-safe
        losers = F.broadcast(losers)
    return df.join(losers, id_col, "left_anti")


def _cooccur_pair_rows(
    lists: DataFrame, ids_col: str = "_ids", pair_fn=None, carry: tuple = ()
) -> DataFrame:
    """One row per (id_a < id_b) pair from each row's SORTED id array.

    Round 12 (guide §2.3/§2.4): the classic candidate/intersection
    formulation self-joins the exploded (id, key) table on the key —
    which shuffles every exploded row TWICE (once per join side) and
    then discards half the generated pairs to the ``id_a < id_b``
    filter. Grouping ids per key first (``collect_list`` — ONE exchange
    of the same rows) and generating the c(c-1)/2 ordered pairs in
    place emits exactly the surviving pairs: half the fan-out, half the
    heavy shuffle.

    Round 13 (guide §5, VERDICT r12 #2): pair generation is TWO staged
    Generates, not one — the round-12 ``flatten(transform(...))`` built
    the ENTIRE c(c-1)/2 pair array inside a single row before exploding,
    so one degenerate group (a hot LSH band bucket, a constant simhash
    chunk — neither has a frequency cap) of c members held O(c²) structs
    on one task's heap. Posexploding the LEFT element first keeps every
    intermediate row O(c): the carried array once, plus one O(c) suffix
    slice per left element; the explode streams the pairs out. The
    emitted pair set is unchanged. (The collect_list buffer itself stays
    O(c) per group — the linear floor any grouped formulation pays.)

    ``pair_fn(x, y) -> struct`` customizes the emitted pair payload (the
    SimHash lane carries both signatures through); the default emits
    ``struct(id_a, id_b)``. ``carry`` names extra columns of ``lists``
    to keep on every pair row.
    """
    if pair_fn is None:
        def pair_fn(x, y):
            return F.struct(x.alias("id_a"), y.alias("id_b"))
    ids = F.col(ids_col)
    left = lists.select(
        *carry, ids.alias("_pids"), F.posexplode(ids).alias("_li", "_lx")
    )
    # elements strictly after the left element's 0-based position _li:
    # 1-based start _li + 2; slice clamps the over-long length
    suffix = F.slice(
        F.col("_pids"), F.col("_li") + F.lit(2), F.size(F.col("_pids"))
    )
    pairs = F.transform(suffix, lambda y: pair_fn(F.col("_lx"), y))
    return left.select(*carry, F.explode(pairs).alias("_p")).select(
        *carry, "_p.*"
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(_id, shingle): one exploded row per distinct shingle of each doc.
    See ``exploded_word_shingles`` for the plan rationale (widen-first,
    tokens materialized before the shingle transform, bare Generate)."""
    return exploded_word_shingles(df, id_col, text_col, k, out_id="_id")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-k-shingle Jaccard similarity join: pairs >= threshold.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over DISTINCT shingle sets.
    Fully declarative (explode → equi-join → agg), hence oracle-checkable.

    Shingles travel as 64-bit xxhash64 fingerprints of the token windows
    (round 9): every quantity this operator emits — distinct-set sizes,
    intersection counts, jaccard — is invariant under any injective
    mapping of shingles, and 64-bit fingerprints are injective on a
    corpus's shingle set with probability 1 − ~s²/2⁶⁵. Unlike the
    MinHash SIGNATURE values (which expose the hash function and
    therefore keep an md5 lane for the oracle), nothing here depends on
    WHICH hash — so the oracle (DuckDB, computing from shingle strings)
    still matches bit-for-bit while the persisted rows, the self-join
    shuffle, and the join keys shrink from ~(k·word)-char strings to 8
    bytes (the equi-join is the dominant shuffle at corpus scale).

    Plan: the exploded (doc, shingle) table is persisted (a few bytes per
    shingle; memory-and-disk), so the shingle pipeline runs ONCE and both
    sides of the shingle equi-join plus the set-size aggregate read the
    cache — Spark does not reuse exchanges across self-join sides, so
    without the persist the whole scan+regex pipeline re-runs per
    consumer. All joins/aggregations are plain codegen'd hash operators
    (no higher-order functions, which execute interpreted).

    ``max_shingle_freq`` df-cuts stop-shingles before the join — the
    skew/fan-out bound that matters at corpus scale, since a shingle
    shared by c docs contributes c(c-1)/2 join rows.
    """
    cached = exploded_shingle_hashes(df, id_col, text_col, k).persist()
    # eager pin (round 9): persist() is lazy, and the self-join's two
    # sides are submitted as CONCURRENT stages — each would compute the
    # full shingle pipeline before either populates the cache (the
    # duplicate-stage pattern the 10.2M probe exposed in the minhash
    # verify path). One count populates the cache before any consumer.
    cached.count()
    try:
        # per-doc distinct-set sizes, from the SAME cached rows — and before
        # the df-cut: |A| counts all shingles even when stop-shingles are
        # excluded from the join.
        shingled = cached
        sizes = shingled.groupBy("_id").agg(F.count("*").alias("_n"))
        if max_shingle_freq is not None:
            # round 13 (ADVICE r12, guide §5): the df-cut must bound
            # AGGREGATION memory, not just the pair fan-out — cutting on
            # the grouped list's size (round 12) let a stop-shingle
            # shared by c docs grow a c-element collect_list buffer
            # before being discarded. Cut BEFORE the grouping: the hot
            # set (df > max) is tiny by the Zipf tail (≤ rows/max keys
            # even adversarially), so an anti-join against it drops
            # stop-shingle rows ahead of the wide operation; AQE turns
            # the join into a broadcast at runtime when the hot side is
            # as small as it always is. Emitted pairs are identical (df
            # == grouped-list size by construction).
            hot = (
                shingled.groupBy("shingle")
                .agg(F.count("*").alias("_df"))
                .where(F.col("_df") > max_shingle_freq)
                .select("shingle")
            )
            shingled = shingled.join(hot, "shingle", "left_anti")
        # round 12: ONE exchange groups each shingle's doc ids and the
        # ordered pairs are generated in place (the old shape paid a
        # two-sided equi-self-join of the exploded rows; see
        # _cooccur_pair_rows)
        lists = (
            shingled.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
            .where(F.size("_ids") > 1)
        )
        inter = (
            _cooccur_pair_rows(lists)
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("intersection"))
        )
        sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
        sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
        out = (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("intersection")
                    / (F.col("_na") + F.col("_nb") - F.col("intersection"))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        # eager materialization so the cache can be released before return:
        # the survivor pairs are tiny relative to the exploded shingles
        return out.localCheckpoint(eager=True)
    finally:
        cached.unpersist()


#: Edges per contraction task. The width of the contraction step is
#: ceil(edges / this), never the core count: contraction only collapses a
#: component that sits whole in one task, so dedup-sized graphs (and a
#: 1M-edge path) contract in ONE task, whose stars are the components:
#: no star round runs.
#: Sized by kernel memory: the kernel peaks at ~100 B per edge (the
#: np.unique sort dominates), ~0.2 GB and ~2 s per task at the cap.
_CC_TASK_EDGES = 1 << 21


def _contract_partition(batches):
    """mapInArrow kernel: union-find over ONE task's (src, dst) edges.

    Ids are densified with ``np.unique`` (sorted, so a smaller index is
    a smaller id); the loop is a plain union-find with path halving that
    always hangs the larger root under the smaller, so every local root
    is the minimum id of its local component. Emits (v, root) and
    (root, v) for every non-root v: each local component becomes a star
    on its min, which keeps the node set and the connectivity of the
    task's edges. Id type in == id type out.
    """
    import numpy as np
    import pyarrow as pa

    kept = [b for b in batches if b.num_rows]
    if not kept:
        return
    typ = kept[0].schema.field(0).type
    ends = [b.column(i).to_numpy(zero_copy_only=False) for i in (0, 1) for b in kept]
    ids, inv = np.unique(np.concatenate(ends), return_inverse=True)
    m = inv.size // 2
    root = np.arange(ids.size, dtype=np.int64)
    parent = memoryview(root)  # Python-int element access, ~2x a list's speed
    for x, y in zip(memoryview(inv[:m]), memoryview(inv[m:])):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        while parent[y] != y:
            parent[y] = parent[parent[y]]
            y = parent[y]
        if x < y:
            parent[y] = x
        elif y < x:
            parent[x] = y
    while True:  # pointer jumping: every node straight to its root
        nxt = root[root]
        if np.array_equal(nxt, root):
            break
        root = nxt
    child = root != np.arange(ids.size)
    v = pa.array(ids[child], type=typ)
    r = pa.array(ids[root[child]], type=typ)
    yield pa.RecordBatch.from_arrays(
        [pa.concat_arrays([v, r]), pa.concat_arrays([r, v])], names=["src", "dst"]
    )


def _star_labels(edges: DataFrame) -> DataFrame:
    """(id, component) from a symmetric edge set in which every node is
    adjacent to its component min: per ``src``, ``least(src, min(dst))``."""
    return (
        edges.groupBy("src").agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("id"), F.least("src", "mn").alias("component"))
    )


def _cc_star(und: DataFrame, max_iter: int, stats: dict | None = None) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log^2 n) rounds GUARANTEED regardless of graph diameter, so
    adversarial long-chain duplicate graphs (crawl mirrors with drifting
    boilerplate) that outgrow one contraction task still converge.

    Each round: large-star connects every strictly-larger neighbor of u
    to min(closed neighborhood of u); small-star connects u and its
    smaller neighbors to that min. Both are one codegen'd groupBy-min +
    one join over the current edge set; ``localCheckpoint`` truncates
    lineage per round. Terminates when the edge set is a fixed point
    (star graphs: every node adjacent to its component min).
    """
    edges = und  # symmetric, self-loop-free, checkpointed by the caller
    n_edges = edges.count()
    for round_no in range(max_iter):
        if stats is not None:
            stats["rounds"] = round_no + 1
        # ---- large-star: for center u, attach neighbors v > u to
        # m = min({u} ∪ N(u))
        mins = (
            edges.groupBy("src").agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        large = (
            edges.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # ---- small-star: over parent pointers (dst < src), attach u and
        # its smaller neighbors to m = min of those neighbors. Large-star
        # emits ONLY parent pointers (m = min of a closed neighborhood
        # containing u < v, so m < v always) — its output IS the directed
        # set, no symmetrize+filter round-trip needed between the phases.
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            large.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionAll(mins2.select("src", F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        new_edges = (
            small.unionAll(
                small.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_count = new_edges.count()
        if new_count == n_edges and new_edges.exceptAll(edges).limit(1).count() == 0:
            # fixed point: every node is adjacent to its component min
            return _star_labels(edges)
        edges, n_edges = new_edges, new_count
    raise RuntimeError(
        f"star-contraction did not converge within max_iter={max_iter} rounds"
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected pair graph: (id, component)
    with ``component`` = the minimum id reachable from ``id`` (same type
    as the input ids).

    The missing step between pairwise near-dup candidates (Jaccard /
    MinHash / SimHash / embedding joins, which emit EDGES) and survivor
    selection: duplicates are transitive, so keep-one-per-group must
    group by component, not by pair.

    One algorithm, three steps:

    1. drop self-loops (and null endpoints);
    2. local contraction: one ``mapInArrow`` task per
       ``_CC_TASK_EDGES`` edges union-finds its edges and emits each
       local component as a star on its min (:func:`_contract_partition`);
    3. only when step 2 spans more than one task: symmetrize + distinct +
       ``localCheckpoint``, then large-/small-star rounds
       (:func:`_cc_star`) to the fixed point.

    A graph that fits one task (every dedup-sized graph, any diameter)
    is solved by step 2: its stars are the components, so they are
    projected straight to (id, component) and checkpointed, and no star
    round runs. Bigger graphs keep the star rounds' O(log^2 n) bound.
    ``max_iter`` is a safety valve for those rounds: exhausting it
    without convergence RAISES (silently-split components would corrupt
    survivor selection downstream).

    ``stats``: optional dict; on return ``stats["rounds"]`` holds the
    number of star rounds executed, 0 when one task held every edge
    (scale probes assert the O(log n) round bound against it).
    """
    a, b = F.col(a_col), F.col(b_col)
    typ = edges.select(F.coalesce(a, b)).schema[0].dataType  # common id type
    pairs = edges.select(
        a.cast(typ).alias("src"), b.cast(typ).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    tasks = -(-pairs.count() // _CC_TASK_EDGES) or 1
    if pairs.rdd.getNumPartitions() >= tasks:
        pairs = pairs.coalesce(tasks)
    else:
        pairs = pairs.repartition(tasks)
    stars = pairs.mapInArrow(_contract_partition, pairs.schema)
    if tasks == 1:
        # one union-find saw every edge: its stars are the components.
        # Materialized once, so the caller's reads do not rerun the kernel.
        if stats is not None:
            stats["rounds"] = 0
        return _star_labels(stars).localCheckpoint(eager=True)
    # materialized once: every star round re-reads the edge set
    und = stars.distinct().localCheckpoint(eager=True)
    return _cc_star(und, max_iter, stats=stats)


def near_dup_components(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(id, component) for every doc in at least one near-dup pair:
    n-gram Jaccard edges -> :func:`connected_components`. Survivor
    selection is then ``groupBy(component).min(id)`` + an anti/semi
    join."""
    pairs = ngram_jaccard_pairs(
        df, threshold, id_col=id_col, text_col=text_col, k=k,
        max_shingle_freq=max_shingle_freq,
    )
    return connected_components(pairs)


def survivors_from_components(
    df: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one doc per near-dup component (the min id — the component
    label); docs in no component survive untouched. One anti-join against
    the non-representative members."""
    drop = components.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


#: modulus of the double-hashed MinHash family — 48 bits so that
#: a + 15*b stays < 2^52, far inside signed-int64 range in EVERY engine
#: (DuckDB errors on BIGINT overflow; Spark would silently wrap).
_MINHASH_MOD = 1 << 48


def _signatures_from_shingled(shingled: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """Signature aggregation over exploded (id, shingle) rows.

    Hash family: Kirsch-Mitzenmacher double hashing (Kirsch &
    Mitzenmacher 2006, "Less Hashing, Same Performance...") over ONE md5
    per shingle instead of ``num_hashes`` of them: with
    a = md5[1..12] (48-bit hex int) and b = md5[17..28] forced odd,
    h_i = (a + i*b) mod 2^48. One crypto hash per shingle row — the
    signature stage's dominant cost at corpus scale was the 16
    md5-and-hex-string materializations per row — and the mins now
    compare int64s, not 32-char strings. Every operation is plain SQL
    (substr / hex-to-int / + * %), so an independent engine (DuckDB)
    reproduces the signatures bit-for-bit for the oracle.

    The (a, b) projection is materialized BEFORE the groupBy so md5 runs
    once per row (not once per min column), and the aggregate is pure
    ``min`` columns so it stays on the codegen'd HashAggregate path —
    adding a collect_list/collect_set to the same groupBy would demote
    the whole aggregate to ObjectHashAggregate (interpreted, ~3x slower
    for the 16 min columns).
    """
    d = F.md5(F.col("shingle"))
    a = F.conv(F.substring(d, 1, 12), 16, 10).cast("long")
    b0 = F.conv(F.substring(d, 17, 12), 16, 10).cast("long")
    prepared = shingled.select(
        F.col(id_col), a.alias("_a"), (b0 + 1 - (b0 % 2)).alias("_b")
    )
    aggs = [
        F.min((F.col("_a") + i * F.col("_b")) % F.lit(_MINHASH_MOD)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = prepared.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def _signatures_from_hashes(
    hashed: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """Signature aggregation over exploded (id, shingle BIGINT) rows — the
    fast-lane twin of ``_signatures_from_shingled``.

    Same Kirsch-Mitzenmacher family, different base hashes: the shingle
    fingerprint IS already a 64-bit hash (``shingle_hashes_from_tokens``),
    so a = low 48 bits of the fingerprint and b = low 48 bits of
    ``xxhash64(fingerprint)`` forced odd — one extra cheap long-hash per
    row replaces the md5 + two hex-substring parses of the portable lane
    (measured: the md5 lane's signature stage is the dominant per-shingle
    cost at corpus scale; see tools/minhash_phase_probe.py). Masking with
    2⁴⁸−1 clears the sign bit, so a, b ∈ [0, 2⁴⁸) and a + 15b stays far
    inside int64 exactly as in the portable lane. NOT oracle-portable
    (xxhash64 is Spark-specific); correctness is pinned by pair-set
    equality with the md5 lane (tests/test_dedup.py) and the planted-pair
    exactness check in tools/minhash_phase_probe.py.
    """
    mask = F.lit(_MINHASH_MOD - 1)
    a = F.col("shingle").bitwiseAND(mask)
    b = F.xxhash64(F.col("shingle")).bitwiseAND(mask).bitwiseOR(F.lit(1))
    prepared = hashed.select(F.col(id_col), a.alias("_a"), b.alias("_b"))
    aggs = [
        F.min((F.col("_a") + i * F.col("_b")) % F.lit(_MINHASH_MOD)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = prepared.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def band_buckets(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    n_bands: int,
    fast: bool,
) -> DataFrame:
    """(id, band, bucket) rows from a signature table: one row per band,
    bucket = hash of that band's signature slice. The bucket key only
    needs to be injective on the band's row slice; the fast lane hashes
    the r longs directly (8-byte buckets), the portable lane keeps the
    md5-of-concat string the SQL oracle reproduces. Shared by the batch
    self-join (``minhash_lsh_pairs``) and the streaming batch-vs-corpus
    join (``streaming.ingest.near_dup_against_corpus``) — both sides of
    any banding join MUST come from this one function or buckets won't
    collide."""
    r = num_hashes // n_bands

    def _bucket(b: int):
        if fast:
            return F.xxhash64(
                *[F.col("signature")[b * r + i] for i in range(r)]
            )
        return F.md5(
            F.concat_ws(
                "|",
                *[F.col("signature")[b * r + i].cast("string") for i in range(r)],
            )
        )

    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), _bucket(b).alias("bucket")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    hash_family: str = "auto",
) -> DataFrame:
    """MinHash signature per doc: ARRAY<BIGINT> of length ``num_hashes``.

    Hash family i: Kirsch-Mitzenmacher double hashing over one md5 per
    shingle — h_i = (a + i*b) mod 2^48 with a, b 48-bit halves of
    md5(shingle), b forced odd (see ``_signatures_from_shingled``); the
    signature element is the MIN over the doc's shingles — a valid
    min-wise family, one crypto hash per shingle instead of
    ``num_hashes``, and reproducible in any engine with md5 + hex-to-int.
    Docs with no shingles are dropped (they can't collide).

    ``hash_family``: ``"auto"`` (default, round 10 — VERDICT r9 #5)
    resolves to ``"xxhash64"``, the scale lane — shingles become 64-bit
    ``xxhash64`` fingerprints of the token windows (no shingle string is
    ever built) and the KM base hashes derive from the fingerprint
    (``_signatures_from_hashes``); measured ~3x cheaper per doc than md5
    (tools/minhash_phase_probe.py). ``"md5"`` is the oracle-portable
    lane — request it explicitly when an independent SQL engine must
    reproduce signature values bit-for-bit. Signature VALUES differ
    between families (different hash functions); the LSH pair sets they
    induce agree (same shingle identity whp) — pinned in
    tests/test_dedup.py.
    """
    if hash_family in ("auto", "xxhash64"):
        hashed = exploded_shingle_hashes(df, id_col, text_col, k, out_id=id_col)
        return _signatures_from_hashes(hashed, id_col, num_hashes)
    if hash_family != "md5":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    shingled = exploded_word_shingles(df, id_col, text_col, k, out_id=id_col)
    return _signatures_from_shingled(shingled, id_col, num_hashes)


# Disk high-water bytes per exploded shingle row for the verify path,
# split into the CONCURRENT-FIXED part (caches + signature/sets
# aggregation shuffles — live for the whole verify) and the CHUNKABLE
# part (candidate + verify join shuffles — divided by
# ``verify_band_chunks`` when the verify runs band-group by band-group).
#
# Round-11 recalibration, MEASURED by tools/verify_chunk_disk_probe.py
# (watcher-sampled used-bytes on the shuffle volume, xxhash64 lane,
# corpus read from parquet like production):
#   10.2M docs (1.20B shingle rows): high-water 25.9 GB — either config
#     (the peak sits in the shared agg phase at this scale); the round-11
#     early shingled-cache release alone halved the r9-era ~55 GB.
#   20.4M docs (2.41B rows), 4 chunks: COMPLETED at 62.8 GB high-water /
#     1984 s (the r9 run died on disk); the timeline shows each chunk
#     releasing ~21-25 GB before the next starts, so unchunked the four
#     footprints would stack — consistent with the unchunked 20.4M
#     attempt dying past ~71 GB still climbing.
# Constants are set CONSERVATIVE-HIGH from the 20.4M points: fixed 16 +
# chunkable 44 = 60 B/row unchunked (predicts the v1 death at ~144 GB);
# fixed + chunkable/4 = 27 B/row chunked (measured 26). Over-predicting
# merely engages chunking early (equal results, bounded wall cost);
# under-predicting kills hour-long runs — err high. md5-lane shingle
# STRINGS are ~3x (20 GB strings vs 5 GB longs at 5.1M, r9 notes).
_VERIFY_BYTES_PER_SHINGLE_ROW = {
    "fast": {"fixed": 16, "chunkable": 44},
    "md5": {"fixed": 48, "chunkable": 132},
}


def estimate_verify_footprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_family: str = "auto",
    sample_rows: int = 4096,
    seed: int = 42,
    n_docs: int | None = None,
) -> dict:
    """Pre-flight disk estimate for ``minhash_lsh_pairs(verify=True)``
    (VERDICT r9 #3): docs x avg shingles x calibrated bytes-per-row.

    The round-9 20.4M-doc run died on disk an HOUR in
    (SPILL_OUT_OF_MEMORY at ~80 GB free); this estimate costs one count
    plus a ``sample_rows``-row token scan and predicts that failure up
    front. Returns {n_docs, avg_shingles_per_doc, est_bytes}.
    """
    if n_docs is None:
        n_docs = df.count()
    if n_docs == 0:
        return {"n_docs": 0, "avg_shingles_per_doc": 0.0, "est_bytes": 0}
    frac = min(1.0, (sample_rows * 1.25) / n_docs)
    sdf = df.sample(fraction=frac, seed=seed) if frac < 1.0 else df
    row = (
        sdf.limit(sample_rows)
        .select(
            F.avg(
                F.greatest(
                    F.size(F.split(F.col(text_col), r"\s+")) - F.lit(k - 1),
                    F.lit(0),
                )
            ).alias("s")
        )
        .first()
    )
    avg = float(row["s"] or 0.0)
    lane = "md5" if hash_family == "md5" else "fast"
    per_row = _VERIFY_BYTES_PER_SHINGLE_ROW[lane]
    fixed = int(n_docs * avg * per_row["fixed"])
    chunkable = int(n_docs * avg * per_row["chunkable"])
    return {
        "n_docs": int(n_docs),
        "avg_shingles_per_doc": round(avg, 2),
        "est_bytes": fixed + chunkable,
        # the split verify_band_chunks="auto" plans with: fixed stays
        # resident for the whole verify; chunkable divides by the chunks
        "fixed_bytes": fixed,
        "chunkable_bytes": chunkable,
    }


def _shuffle_free_bytes(spark) -> int | None:
    """Free bytes on the volume backing Spark's shuffle/spill dir.

    SINGLE-BOX assumption (ADVICE r10): this measures the DRIVER's local
    shuffle volume, which equals the executors' only in local mode. On a
    real cluster executor spill lands on executor disks this function
    cannot see — callers there MUST pass ``disk_budget_bytes`` (the
    per-run budget reflecting executor volumes) to the pre-flight instead
    of relying on this default."""
    import os
    import shutil as _sh
    import tempfile

    local_dir = (
        spark.conf.get("spark.local.dir", None)
        or os.environ.get("SPARK_LOCAL_DIRS")
        or tempfile.gettempdir()
    ).split(",")[0]
    try:
        return int(_sh.disk_usage(local_dir).free)
    except OSError:
        return None


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    n_bands: int = 8,
    verify: bool = True,
    max_shingle_freq: int | None = None,
    hash_family: str = "auto",
    preflight: str = "warn",
    preflight_min_docs: int = 1_000_000,
    disk_budget_bytes: int | None = None,
    verify_band_chunks: int | str = "auto",
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, exact-Jaccard verified.

    ``num_hashes`` must divide into ``n_bands`` equal rows-per-band groups;
    a pair is a candidate if any band's row-slice matches exactly
    (bucket-hash equi-join). With r rows/band and b bands, candidate
    probability is 1-(1-j^r)^b. ``verify=True`` computes the true Jaccard
    for candidates only, so output has no false positives.

    ``max_shingle_freq`` df-cuts stop-shingles before signatures are
    computed (bounding signature skew the same way the exact join bounds
    fan-out); the verification Jaccard is then over the CUT shingle sets —
    self-consistent with what the signatures saw.

    ``hash_family="xxhash64"`` is the scale lane (VERDICT r8 #4): shingles
    are 64-bit ``xxhash64`` fingerprints of the token windows instead of
    strings (see ``shingle_hashes_from_tokens``) — the exploded rows,
    df-cut, signature aggregation, band buckets, and verify sets all move
    longs, and no md5 runs anywhere. Verified Jaccard over hash identity
    equals Jaccard over shingle identity whp (64-bit fingerprints), so
    with ``verify=True`` the two lanes emit the SAME pair set at the same
    threshold (pinned in tests/test_dedup.py); measured phase split and
    speedup at 5.1M docs: tools/minhash_phase_probe.py / PERF_NOTES round
    9. ``"auto"`` (default, round 10 — VERDICT r9 #5) resolves to the
    xxhash64 scale lane; pass ``"md5"`` explicitly when an independent
    SQL engine must reproduce the banding bit-for-bit (the
    ``dedup_minhash`` oracle entry does).

    Disk pre-flight (round 10, VERDICT r9 #3): with ``verify=True`` and
    at least ``preflight_min_docs`` docs, the verify path's disk
    high-water is estimated (``estimate_verify_footprint``) against
    ``disk_budget_bytes`` (default: 80% of free space on the shuffle
    volume). ``preflight="warn"`` warns and proceeds; ``"error"`` raises
    before any heavy stage launches (the r9 20.4M-doc run burned an hour
    before dying on disk); ``"off"`` skips the check. The pre-flight
    never auto-switches ``verify`` — verify=False emits a different
    schema (no jaccard column), so degrading silently would corrupt
    callers.

    Band-chunked verify (round 11, VERDICT r10 #4): the verify stage can
    run band-group by band-group — each chunk generates candidates from
    its slice of the bands and exact-verifies them while the signature /
    shingle-set caches are shared, so the CONCURRENT shuffle footprint of
    the candidate+verify joins divides by the chunk count (trading wall
    clock for disk; the union of chunk outputs is deduped on (id_a, id_b),
    and since every chunk's jaccard for a pair is identical the result
    set is bit-equal to the unchunked run — pinned in tests).
    ``verify_band_chunks``: ``"auto"`` (default) chunks ONLY when the
    disk pre-flight predicts a budget breach that chunking can fix, using
    the estimator's fixed/chunkable split (auto-engage instead of dying
    or crying wolf); an int >= 2 forces that many chunks; 1 forbids
    chunking (the pre-flight then warns/errors exactly as in round 10).
    """
    import warnings

    if num_hashes % n_bands != 0:
        raise ValueError("num_hashes must be divisible by n_bands")
    fast = hash_family in ("auto", "xxhash64")
    if not fast and hash_family != "md5":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if preflight not in ("warn", "error", "off"):
        raise ValueError(f"unknown preflight mode: {preflight!r}")
    auto_chunks = verify_band_chunks == "auto"
    if not auto_chunks and (
        not isinstance(verify_band_chunks, int) or verify_band_chunks < 1
    ):
        raise ValueError(
            "verify_band_chunks must be 'auto' or a positive int, got "
            f"{verify_band_chunks!r}"
        )
    n_chunks = 1 if auto_chunks else min(int(verify_band_chunks), n_bands)
    if verify and preflight != "off":
        # bounded smallness probe first: limit(N).count() stops scanning
        # once N rows are seen, so small corpora (every default-config
        # call, including bench's timed loops) never pay a full count
        # job for a pre-flight that cannot trigger below the doc floor
        n_docs = df.limit(preflight_min_docs).count()
        if n_docs >= preflight_min_docs:
            n_docs = df.count()
            est = estimate_verify_footprint(
                df, id_col, text_col, k, hash_family, n_docs=n_docs
            )
            budget = disk_budget_bytes
            if budget is None:
                free = _shuffle_free_bytes(df.sparkSession)
                budget = int(free * 0.8) if free is not None else None
            if budget is not None:
                if auto_chunks and est["est_bytes"] > budget:
                    headroom = budget - est["fixed_bytes"]
                    need = (
                        -(-est["chunkable_bytes"] // headroom)
                        if headroom > 0
                        else n_bands + 1
                    )
                    if 2 <= need <= n_bands:
                        # chunking fits the run in budget: engage it
                        # instead of warning-and-dying-anyway
                        # (VERDICT r10 #4)
                        n_chunks = int(need)
                        warnings.warn(
                            "minhash_lsh_pairs disk pre-flight: estimated "
                            f"high-water {est['est_bytes'] / 1e9:.1f} GB "
                            f"over budget {budget / 1e9:.1f} GB; engaging "
                            f"{n_chunks}-chunk band-sequential verify "
                            f"(fixed {est['fixed_bytes'] / 1e9:.1f} GB + "
                            f"{est['chunkable_bytes'] / 1e9:.1f} GB / "
                            f"{n_chunks} chunks)"
                        )
                # effective high-water GIVEN the (auto or forced) chunk
                # count: the fixed part stays resident, the chunkable
                # part runs one band group at a time
                eff = est["fixed_bytes"] + est["chunkable_bytes"] // n_chunks
                if eff > budget:
                    msg = (
                        "minhash_lsh_pairs(verify=True) disk pre-flight: "
                        f"estimated high-water {eff / 1e9:.1f} GB "
                        f"({est['n_docs']} docs x "
                        f"{est['avg_shingles_per_doc']} shingles/doc"
                        + (f", {n_chunks}-chunk verify" if n_chunks > 1 else "")
                        + f") exceeds budget {budget / 1e9:.1f} GB; run "
                        "verify=False (candidates only, no jaccard column), "
                        "raise n_bands selectivity, or add shuffle disk"
                    )
                    if preflight == "error":
                        raise RuntimeError(msg)
                    warnings.warn(msg)
    # The exploded (id, shingle) rows feed BOTH the signature aggregation
    # and (when verifying) the per-doc shingle-set aggregation, so the
    # regex shingle pipeline is cached and runs once. All caches are
    # released before return (result eagerly localCheckpoint'ed).
    shingled = (
        exploded_shingle_hashes(df, id_col, text_col, k)
        if fast
        else _exploded_shingles(df, id_col, text_col, k)
    )
    if max_shingle_freq is not None:
        freq_ok = (
            shingled.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_shingle_freq)
            .select("shingle")
        )
        shingled = shingled.join(freq_ok, "shingle", "left_semi")
    if verify:
        shingled = shingled.persist()
    # persisted: both sides of the bucket self-join consume the signatures;
    # without it Spark recomputes the shingle+md5 aggregation per side.
    # Signatures are num_hashes*32 chars/doc — cheap to hold, spills to disk.
    sig_fn = _signatures_from_hashes if fast else _signatures_from_shingled
    sigs = sig_fn(
        shingled.withColumnRenamed("_id", id_col), id_col, num_hashes
    ).persist()
    # eager pin: the bucket self-join's two band sides are concurrent
    # stages racing this cache (same duplicate-stage pattern as the
    # verify sets — see below); one count materializes signatures (and,
    # when verifying, the shingled cache they read) before the race
    sigs.count()

    bands = band_buckets(sigs, id_col, num_hashes, n_bands, fast)

    def _candidates(band_slice) -> DataFrame:
        # round 12: one exchange groups each (band, bucket)'s ids and the
        # ordered pairs are generated in place — the old bucket
        # equi-self-join shuffled every band row twice and discarded half
        # its output to the id_a < id_b filter. Round 13: two staged
        # Generates keep a degenerate bucket's per-row memory O(c), not
        # O(c²) (see _cooccur_pair_rows).
        bsel = bands if band_slice is None else bands.where(band_slice)
        lists = (
            bsel.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
            .where(F.size("_ids") > 1)
        )
        return _cooccur_pair_rows(lists).dropDuplicates(["id_a", "id_b"])

    sets = None
    try:
        if not verify:
            return _candidates(None).localCheckpoint(eager=True)
        # verify ONLY the candidate pairs: join each side's distinct shingle
        # set (two hash joins on id, sets re-aggregated from the cached
        # exploded rows — collect_list of already-distinct shingles) and
        # intersect the arrays per pair. Work is O(|candidates|), never the
        # all-pairs shingle join — at corpus scale the candidate set is the
        # ~linear LSH output, which is the whole point.
        #
        # persist() on the sets aggregation (round 9): it is consumed by
        # BOTH join sides, and without the pin the two consumer stages are
        # submitted concurrently — each one computes the FULL collect_list
        # aggregation before either can populate the cache. The 10.2M-doc
        # stage table showed the duplicate plainly: two identical stages,
        # each re-reading the 9 GB cached shingles and re-writing the
        # ~9 GB aggregation shuffle (tools/minhash_phase_probe.py,
        # PERF_NOTES round 9) — the single most expensive exchange in the
        # verify path, paid twice. Pinned eager (count) so the second
        # consumer finds the cache populated instead of racing it.
        sets = shingled.groupBy("_id").agg(F.collect_list("shingle").alias("_shs")).select(
            F.col("_id").alias("_sid"), F.col("_shs")
        ).persist()
        sets.count()
        # EARLY cache release (round 11, VERDICT r10 #4): after sigs and
        # sets are both materialized nothing reads the exploded shingle
        # rows again — dropping the ~19 GB (at 10.2M docs) cache HERE,
        # before the candidate+verify joins run, removes the single
        # largest resident block from the verify stage's concurrent
        # high-water instead of holding it until the end. (If a later
        # stage loses a sets/sigs cached block it recomputes through the
        # unpersisted lineage — slower, never wrong.)
        shingled.unpersist()

        def _verify(cand: DataFrame) -> DataFrame:
            # Join shape at corpus scale (plan-pinned in
            # tests/test_plans.py): each candidate pair explodes into two
            # (id_a, id_b, _sid) rows and the sets relation is joined
            # exactly ONCE — shuffle-hash with the exploded candidates as
            # the build side (two longs per row, bounded per partition),
            # while the cached sets side moves through NO new exchange
            # (the groupBy's hash partitioning on _id propagates through
            # the _sid alias) and NO sort. The pair's two shingle sets
            # then meet in a groupBy that spills safely
            # (ObjectHashAggregate falls back to sort-based). Both shapes
            # this replaces fail at the 20.4M single-box scale:
            # sort-merge SORTS the ~18 GB sets relation twice (the r9
            # disk death), and two-sided shuffle-hash builds a hashmap of
            # candidate rows with attached set ARRAYS (~10 GB of boxed
            # arrays -> the r10 heap death). Work stays O(|candidates|),
            # never all-pairs.
            expl = cand.select(
                "id_a",
                "id_b",
                F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_sid"),
            )
            two = (
                expl.hint("shuffle_hash")
                .join(sets, "_sid")
                .groupBy("id_a", "id_b")
                .agg(F.collect_list("_shs").alias("_two"))
                .where(F.size("_two") == 2)  # both endpoints resolved
            )
            sa = F.element_at(F.col("_two"), 1)
            sb = F.element_at(F.col("_two"), 2)
            inter = F.size(F.array_intersect(sa, sb))
            return two.select(
                "id_a",
                "id_b",
                (inter / (F.size(sa) + F.size(sb) - inter)).alias("jaccard"),
            ).where(F.col("jaccard") >= threshold)

        if n_chunks <= 1:
            return _verify(_candidates(None)).localCheckpoint(eager=True)
        # band-sequential verify (VERDICT r10 #4): each chunk's candidate
        # self-join + verify join run alone, so their shuffle files —
        # the chunkable part of the footprint — peak at ~1/n_chunks of
        # the all-bands run. Chunk outputs are eagerly checkpointed
        # (truncating lineage so the chunk's shuffles become collectable
        # between iterations — the GC nudge lets Spark's ContextCleaner
        # drop them) and unioned; a pair caught in several band groups
        # carries the SAME exact jaccard, so the final dropDuplicates
        # makes the union bit-equal to the unchunked output.
        per = -(-n_bands // n_chunks)
        chunks = []
        spark = df.sparkSession
        for g in range(n_chunks):
            lo, hi = g * per, min((g + 1) * per, n_bands)
            if lo >= hi:
                break
            part = _verify(
                _candidates((F.col("band") >= lo) & (F.col("band") < hi))
            ).localCheckpoint(eager=True)
            chunks.append(part)
            # nudge the ContextCleaner: the finished chunk's shuffle
            # dependencies are driver-side garbage now — Python GC first
            # (the checkpointed `part` no longer references the chunk's
            # pre-checkpoint plan, but the py4j proxies only release
            # their JVM refs when Python collects them), then JVM GC so
            # the ContextCleaner removes the shuffle files before the
            # next chunk writes its own (measured: the 20.4M timeline
            # shows inter-chunk usage dropping ~19 GB when this fires)
            import gc as _gc

            _gc.collect()
            spark._jvm.System.gc()
        out = chunks[0]
        for part in chunks[1:]:
            out = out.unionByName(part)
        return (
            out.dropDuplicates(["id_a", "id_b"]).localCheckpoint(eager=True)
        )
    finally:
        # sets is the most expensive cache in the verify path (~9 GB at
        # 10.2M docs); unpersist it here, not after the checkpoint, so a
        # failure during checkpoint materialization cannot leak it for
        # the life of the session (ADVICE r9)
        if sets is not None:
            sets.unpersist()
        sigs.unpersist()
        if verify:
            shingled.unpersist()  # idempotent if already released early


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document over its token multiset.

    bit_j(doc) = sign of sum over tokens of (bit_j(hash64(token)) ? +1 : -1),
    where hash64(token) is the first 16 hex chars of md5(token) read as a
    big-endian uint64 — md5 (not xxhash64) so an independent SQL engine
    reproduces the signature bit-for-bit (the DuckDB oracle recomputes the
    same bits from the same hex chars).

    Shape: explode tokens → hash once per token → ``groupBy(doc)`` with 64
    conditional sums → assemble one BIGINT. The per-row expressions are flat
    (no nested array lambdas), so the whole pipeline stays inside
    whole-stage codegen with map-side partial aggregation; the only shuffle
    moves 64 partial counters per doc. (A previous formulation built a
    64-wide ±1 array per token inside nested transform/zip_with lambdas —
    interpreted, ~40× slower.)
    """
    # md5 hex chars 1-8 -> high 32 bits, 9-16 -> low 32 bits (conv output
    # fits a long for 8 hex chars; shiftleft recovers the sign-bit pattern)
    _md5 = F.md5(F.col("_tok"))
    _h64 = F.shiftleft(
        F.conv(F.substring(_md5, 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(F.conv(F.substring(_md5, 9, 8), 16, 10).cast("long"))
    toks = widen(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)).alias("_tok"),
    ).select(F.col(id_col), _h64.alias("_h"))
    # sum_j = (#tokens with bit j set) - (#tokens with bit j clear)
    #       = 2*count(bit set) - count(*)
    aggs = [
        F.sum(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))).alias(f"_b{j}")
        for j in range(64)
    ]
    counted = toks.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    sig = F.lit(0).cast("long")
    for j in range(64):
        bit = (1 << j) if j < 63 else -(1 << 63)  # sign bit in two's complement
        sig = sig.bitwiseXOR(
            F.when(F.col(f"_b{j}") * 2 > F.col("_n"), F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    # docs with zero tokens keep signature 0 via a left join back
    sigs = counted.select(F.col(id_col), sig.alias("simhash"))
    return (
        df.select(id_col)
        .join(sigs, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Banded exact-match trick: split the 64-bit signature into
    ``max_hamming + 1`` chunks — any pair within the hamming budget must
    match exactly on at least one chunk (pigeonhole), so candidates come
    from chunk equi-joins, then the true hamming distance filters.
    """
    n_chunks = max_hamming + 1
    bits = 64 // n_chunks
    # single consumer since the round-12 grouped-pair rewrite (the old
    # chunk self-join read signatures twice and needed a persist)
    sigs = simhash64(df, id_col, text_col)
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * bits)
                        .bitwiseAND(F.lit((1 << bits) - 1))
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))

    # round 12: one exchange groups each (chunk, val)'s (id, sig) structs
    # — sort_array orders by the struct's FIRST field (the unique id), so
    # the generated pairs are id_a < id_b with both signatures carried
    # through (the old chunk equi-self-join shuffled every chunk row
    # twice). Round 13: staged Generates bound a degenerate chunk-value
    # group's per-row memory at O(c) (see _cooccur_pair_rows).
    lists = (
        chunks.groupBy("chunk", "val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col), F.col("simhash")))
            ).alias("_rows")
        )
        .where(F.size("_rows") > 1)
    )
    cand = _cooccur_pair_rows(
        lists,
        ids_col="_rows",
        pair_fn=lambda x, y: F.struct(
            x[id_col].alias("id_a"),
            y[id_col].alias("id_b"),
            x["simhash"].alias("_sa"),
            y["simhash"].alias("_sb"),
        ),
    ).dropDuplicates(["id_a", "id_b"])
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .localCheckpoint(eager=True)
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-SPAN detection at k-token granularity — the
    substring-level training-data dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): any k-token window whose content occurs at least
    ``min_count`` times across the corpus marks its tokens as
    duplicated; overlapping duplicate windows within a doc merge into
    maximal spans. Returns one row per span: (id, span_start,
    span_end, n_windows) with token indices (start inclusive, end
    exclusive, so ``span_end - span_start`` is the span's token count).

    Window identity is a 128-bit key — TWO independent xxhash64 values
    per window (seeds differ via a leading literal column) — so two
    distinct windows count as the same only on a joint collision
    (~2^-128·pairs): negligible even at multi-trillion-token corpora,
    where a single 64-bit hash would produce expected collisions.

    Scale design (the paper's suffix array is a single-machine
    structure; this is the distributed equivalence): windows become
    (id, pos, hash128(window)) rows — O(total tokens) of them — and
    the whole operator is TWO shuffles, both on keys with map-side
    locality: (1) one exchange on the window hash for a count-over-h
    (duplicate windows survive), (2) one exchange on the doc id for the
    per-doc island merge (lag + running sum). All JVM expressions, no
    Python. Stop-window skew (a boilerplate k-gram occurring millions
    of times) inflates nothing: the count-over-window only carries
    (id, pos, h) rows, never pairs — unlike a pairwise self-join, the
    output stays O(total tokens) no matter how hot a window is.
    """
    from mindb_spark.functions.text import tokens

    # tokens materialized in their own projection BEFORE the sliding-window
    # transform — handing the raw regexp expression to the (interpreted)
    # higher-order function re-evaluates the regex per window; see
    # functions.text.word_shingles_from_tokens for the measured 3-10x.
    t = F.col("_toks")
    win = (
        widen(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", tokens(text_col).alias("_toks"))
        .select(
            "_id",
            F.posexplode(
                F.when(
                    F.size(t) < k,
                    F.array().cast("array<struct<h1:bigint,h2:bigint>>"),
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - k + 1),
                        lambda i: F.struct(
                            F.xxhash64(
                                F.array_join(F.slice(t, i, k), " ")
                            ).alias("h1"),
                            F.xxhash64(
                                F.lit(1), F.array_join(F.slice(t, i, k), " ")
                            ).alias("h2"),
                        ),
                    )
                ).cast("array<struct<h1:bigint,h2:bigint>>")
            ).alias("pos", "h"),
        )
    )
    dup = (
        win.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("c") >= min_count)
        .select("_id", "pos")
    )
    byid = Window.partitionBy("_id").orderBy("pos")
    spans = (
        dup.withColumn(
            "brk",
            F.when(F.col("pos") > F.lag("pos").over(byid) + k, 1).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("brk").over(byid.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
    )
    return spans.select(
        F.col("_id").alias(id_col), "span_start", "span_end", "n_windows"
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_count: int = 2,
) -> DataFrame:
    """Per-doc rollup of ``duplicate_spans``: (id, n_spans, dup_tokens)
    for every doc containing at least one duplicated span. Spans are
    maximal and non-overlapping by construction, so ``dup_tokens`` (sum
    of span lengths) is the exact count of tokens sitting inside
    corpus-duplicated k-token windows — the quantity a curation
    pipeline thresholds on before cutting or rewriting documents."""
    spans = duplicate_spans(df, id_col, text_col, k=k, min_count=min_count)
    return spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
