"""Seeded input generation for every benchmark workload.

Everything the program under test receives is made here from the run's
seed: clustered vectors, held-out query vectors, the REST op schedule and
the near-duplicate document families. Only numpy is used, so the parent
process never imports the library. ``digest`` hashes the generated inputs;
the same seed gives the same digest.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

DIM = 64
N_CENTERS = 96
NOISE = 1.3


@dataclass(frozen=True)
class Sizes:
    """Shapes of one run. ``TINY`` is the self-check size."""

    serve_rows: int = 30_000
    serve_schedule: int = 60_000
    ann_rows: int = 40_000
    ann_batch: int = 64
    ann_queries: int = 1_024
    dedup_docs: int = 3_000
    query_pool: int = 4_096


FULL = Sizes()
TINY = Sizes(
    serve_rows=6_000,
    serve_schedule=4_000,
    ann_rows=6_000,
    ann_batch=8,
    ann_queries=64,
    dedup_docs=400,
    query_pool=256,
)


def _rngs(seed: int, n: int) -> list[np.random.Generator]:
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]


def _centers() -> np.ndarray:
    """The mixture's centers are fixed: the seed draws the samples from one
    distribution, so the index built over them, and its cost per query,
    varies little from seed to seed."""
    return np.random.default_rng(0).standard_normal((N_CENTERS, DIM))


def _mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    labels = rng.integers(0, centers.shape[0], n)
    noise = rng.standard_normal((n, centers.shape[1]))
    return (centers[labels] + NOISE * noise).astype(np.float32)


@dataclass
class VectorInputs:
    """Stored vectors (``base`` then ``extra``), keyed by row position, and
    held-out queries drawn from the same mixture but never stored."""

    base: np.ndarray
    extra: np.ndarray
    queries: np.ndarray
    warmup: np.ndarray
    # serve_mixed only: op kinds (0 query, 1 add, 2 remove) and the
    # shuffled base keys that removes consume in order
    ops: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int8))
    query_pick: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    remove_order: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))

    @property
    def all_vectors(self) -> np.ndarray:
        return np.concatenate([self.base, self.extra])


ADD_BATCH = 5
REMOVE_BATCH = 5
WRITE_EVERY = 20


def serve_inputs(seed: int, sizes: Sizes = FULL) -> VectorInputs:
    """95% /query, 4% /add of 5 vectors, 1% /remove of 5 live ids."""
    r_b, r_q, r_w, r_ops, r_x, r_rm = _rngs(seed, 6)
    centers = _centers()
    # every 20th op is a write, and each run of 5 writes holds 4 adds and
    # 1 remove in seeded order: a run of any length sees the same write
    # share, which sets most of serve_mixed's throughput
    ops = np.zeros(sizes.serve_schedule, dtype=np.int8)
    slots = ops[WRITE_EVERY - 1 :: WRITE_EVERY]
    kinds = np.concatenate([r_ops.permutation([1, 1, 1, 1, 2])
                            for _ in range(-(-slots.size // 5))])
    ops[WRITE_EVERY - 1 :: WRITE_EVERY] = kinds[: slots.size]
    n_add = int((ops == 1).sum()) * ADD_BATCH
    return VectorInputs(
        base=_mixture(r_b, centers, sizes.serve_rows),
        extra=_mixture(r_x, centers, n_add),
        queries=_mixture(r_q, centers, sizes.query_pool),
        warmup=_mixture(r_w, centers, 64),
        ops=ops,
        query_pick=r_ops.integers(0, sizes.query_pool, sizes.serve_schedule),
        remove_order=r_rm.permutation(sizes.serve_rows),
    )


def ann_inputs(seed: int, sizes: Sizes = FULL) -> VectorInputs:
    """A corpus plus 1% rows added after training (the exact tail)."""
    r_b, r_q, r_w, r_x = _rngs(seed, 4)
    centers = _centers()
    return VectorInputs(
        base=_mixture(r_b, centers, sizes.ann_rows),
        extra=_mixture(r_x, centers, max(1, sizes.ann_rows // 100)),
        queries=_mixture(r_q, centers, sizes.ann_queries),
        warmup=_mixture(r_w, centers, sizes.ann_batch),
    )


@dataclass
class DocInputs:
    """Documents in near-duplicate families. Each family is an edit chain:
    doc i+1 rewrites ``EDIT_TOKENS`` tokens of doc i, so neighbours in a
    chain sit near Jaccard 0.8 while docs two steps apart fall below the
    0.7 threshold. A chain of ``f`` docs therefore has graph diameter
    ``f - 1``. ``planted`` lists the consecutive (doc, doc) edit pairs."""

    texts: list[str]
    family: np.ndarray
    planted: list[tuple[int, int]]


DOC_TOKENS = 64
EDIT_TOKENS = 2
VOCAB = 20_000
# diameter up to 6, below connected_components' max_iter=25; one
# label-propagation round per diameter step costs ~0.3 s, and a longer
# chain would not leave a run's set-up and passes inside its time budget
MAX_CHAIN = 7
# one block of families: a chain of each length 2..MAX_CHAIN plus as many
# singletons (no duplicate at all), so a third of the families are singletons
BLOCK = [1] * (MAX_CHAIN - 1) + list(range(2, MAX_CHAIN + 1))
BLOCK_DOCS = sum(BLOCK)


def dedup_inputs(seed: int, sizes: Sizes = FULL) -> DocInputs:
    """The family sizes are the same for every seed (whole blocks, so the
    longest chain, which sets the label-propagation rounds, is always
    there); the seed draws their order and every token."""
    (rng,) = _rngs(seed, 1)
    blocks = max(1, sizes.dedup_docs // BLOCK_DOCS)
    texts: list[str] = []
    family: list[int] = []
    planted: list[tuple[int, int]] = []
    for fam, size in enumerate(rng.permutation(BLOCK * blocks)):
        toks = rng.integers(0, VOCAB, DOC_TOKENS)
        for i in range(size):
            if i:
                # spaced edits, so each touches its own three shingles
                half = DOC_TOKENS // EDIT_TOKENS
                pos = [j * half + int(rng.integers(0, half)) for j in range(EDIT_TOKENS)]
                toks = toks.copy()
                toks[pos] = rng.integers(0, VOCAB, EDIT_TOKENS)
                planted.append((len(texts) - 1, len(texts)))
            texts.append(" ".join(f"w{t}" for t in toks))
            family.append(fam)
    return DocInputs(texts=texts, family=np.asarray(family), planted=planted)


def digest(obj: VectorInputs | DocInputs) -> str:
    """sha256 over every generated array / text, in a fixed order."""
    h = hashlib.sha256()
    if isinstance(obj, DocInputs):
        for t in obj.texts:
            h.update(t.encode())
            h.update(b"\n")
        h.update(np.asarray(obj.planted, dtype=np.int64).tobytes())
    else:
        for a in (obj.base, obj.extra, obj.queries, obj.warmup, obj.ops,
                  obj.query_pick, obj.remove_order):
            h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]
