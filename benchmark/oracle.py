"""Oracles owned by the benchmark: exact numpy kNN and Python dedup.

Nothing here imports the library. The vector oracle tracks the live key
set through every add and remove and scores each returned result against
exact cosine top-k; the dedup oracle recomputes every Jaccard and rebuilds
the components with a union-find.
"""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-5


def normalized(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


class VectorOracle:
    """Live set over row keys (``0..len(vectors)-1``) plus exact top-k.

    ``check`` takes one query's result as parallel lists of ids, keys and
    scores and returns ``(violations, recall)``. The id -> key mapping the
    program reports is also checked for consistency across results.
    """

    def __init__(self, vectors: np.ndarray, live: np.ndarray, k: int = 10):
        self.x = normalized(vectors)
        self.live = np.asarray(live, dtype=bool).copy()
        self.k = k
        self._key_of_id: dict[int, int] = {}

    def add(self, keys) -> None:
        self.live[np.asarray(keys, dtype=np.int64)] = True

    def remove(self, keys) -> None:
        self.live[np.asarray(keys, dtype=np.int64)] = False

    def truth(self, queries: np.ndarray) -> np.ndarray:
        """(q, k) keys of the exact cosine top-k over the live set."""
        live_keys = np.flatnonzero(self.live)
        sims = normalized(queries) @ self.x[live_keys].T
        top = np.argpartition(-sims, self.k - 1, axis=1)[:, : self.k]
        return live_keys[top]

    def check(self, query: np.ndarray, truth_keys: np.ndarray, ids, keys, scores):
        problems = []
        if not (len(ids) == len(keys) == len(scores) == self.k):
            problems.append(f"result length {len(ids)} != {self.k}")
        keys_arr = np.asarray(keys, dtype=np.int64)
        for i, key in zip(ids, keys):
            seen = self._key_of_id.setdefault(int(i), int(key))
            if seen != int(key):
                problems.append(f"id {i} mapped to keys {seen} and {key}")
        if keys_arr.size:
            if (keys_arr < 0).any() or (keys_arr >= self.live.size).any():
                problems.append("unknown key returned")
                return problems, 0.0
            if not self.live[keys_arr].all():
                problems.append(f"dead keys returned: {keys_arr[~self.live[keys_arr]].tolist()}")
            want = self.x[keys_arr] @ normalized(query[None, :])[0]
            off = np.abs(np.asarray(scores, dtype=np.float64) - want)
            if (off > SCORE_TOL).any():
                problems.append(f"score off numpy cosine by {off.max():.2e}")
            if len(set(keys_arr.tolist())) != keys_arr.size:
                problems.append("duplicate keys in one result")
        recall = len(set(keys_arr.tolist()) & set(truth_keys.tolist())) / self.k
        return problems, recall


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def labels(self) -> dict[int, int]:
        """node -> min node of its component."""
        return {x: self.find(x) for x in self.parent}


def check_dedup(texts, planted, threshold, pairs, components, survivors):
    """Violations and planted-pair recall of one dedup pass.

    ``pairs``: [(id_a, id_b, jaccard)]; ``components``: {id: component};
    ``survivors``: doc ids kept. Every pair must clear the threshold with
    the Jaccard recomputed here; the components must equal a union-find
    over the returned pairs (labelled by min id); the survivors must be
    every doc outside a component plus each component's min id."""
    problems = []
    sh = [shingles(t) for t in texts]
    uf = UnionFind()
    for a, b, jac in pairs:
        mine = jaccard(sh[a], sh[b])
        if mine < threshold or abs(mine - jac) > 1e-9:
            problems.append(f"pair ({a},{b}) jaccard {jac} vs {mine}")
        uf.union(int(a), int(b))
    want = uf.labels()
    if want != components:
        diff = {x for x in set(want) | set(components) if want.get(x) != components.get(x)}
        problems.append(f"{len(diff)} docs with wrong component")
    want_surv = {i for i in range(len(texts)) if want.get(i, i) == i}
    if want_surv != set(survivors) or len(survivors) != len(set(survivors)):
        problems.append(f"survivors differ: {len(survivors)} vs {len(want_surv)}")
    hits = total = 0
    for a, b in planted:
        if jaccard(sh[a], sh[b]) >= threshold:
            total += 1
            hits += components.get(a, a) == components.get(b, b) and a in components
    return problems, (hits / total if total else 1.0)
