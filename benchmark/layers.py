"""Per-layer metrics from a traced run's spans and Spark job records.

A span's self time is its duration minus the durations of its direct
children. Spans marked ``counted`` in ``host.install`` ran with their own
Spark job group, so the jobs (and those jobs' stages) that carry that group
are the span's Spark work; a nested counted span keeps its own jobs. Every
metric is reported on every workload: a layer the workload does not touch
reads 0, which is the predicted null for that pairing.
"""

from __future__ import annotations

import statistics

# span names that carry Spark counters, and the counters each gets
COUNTED = (
    "engine.batch_query",
    "db.add",
    "db.remove",
    "db.add_dataframe",
    "db.train",
    "resident.refresh_tail",
    "resident.refresh_deletes",
    "resident.build",
    "ivf.search",
    "build.build_index",
    "dedup.minhash_lsh_pairs",
    "dedup.connected_components",
    "dedup.survivors",
)
COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_ms", "ms"),
    ("shuffle_bytes", "B"),
    ("input_bytes", "B"),
)

# (metric, unit) in report order; the counters of COUNTED are appended
BASE = (
    ("rest.query.self_ms_p50", "ms"),
    ("rest.write.self_ms_p50", "ms"),
    ("rest.errors", "count"),
    ("engine.batch_query.self_ms_p50", "ms"),
    ("cache.get.calls", "count"),
    ("cache.get.miss_ratio", "fraction"),
    ("db.query.self_ms_p50", "ms"),
    ("db.query_df.self_ms_p50", "ms"),
    ("db.add.self_ms_p50", "ms"),
    ("db.create_dataframe.ms_p50", "ms"),
    ("db.remove.self_ms_p50", "ms"),
    ("db.add_dataframe.self_s", "s"),
    ("db.train.self_s", "s"),
    ("resident.query.self_ms_p50", "ms"),
    ("resident.served_ratio", "fraction"),
    ("resident.refresh_tail.calls", "count"),
    ("resident.refresh_tail.total_ms", "ms"),
    ("resident.refresh_deletes.calls", "count"),
    ("resident.refresh_deletes.total_ms", "ms"),
    ("resident.build.calls", "count"),
    ("resident.build.total_ms", "ms"),
    ("resident.bytes", "B"),
    ("ivf.search.calls", "count"),
    ("ivf.search.self_ms_p50", "ms"),
    ("ivf.fused_ratio", "fraction"),
    ("topk.knn_batch.calls", "count"),
    ("topk.knn_batch.self_ms_p50", "ms"),
    ("build.fit_pca.self_s", "s"),
    ("build.centroids.self_s", "s"),
    ("build.train_pq_on_residuals.self_s", "s"),
    ("build.assign_cells.self_s", "s"),
    ("build.encode_all.self_s", "s"),
    ("build.build_index.self_s", "s"),
    ("pq.train_codebooks.self_s", "s"),
    ("dedup.minhash_lsh_pairs.self_s", "s"),
    ("dedup.connected_components.self_s", "s"),
    ("dedup.connected_components.rounds", "count"),
    ("dedup.survivors.self_s", "s"),
    ("dedup.pairs", "count"),
    ("session.widen.calls", "count"),
    ("session.widen.repartitioned", "count"),
    ("spark.task_ms_p50", "ms"),
    ("spark.gc_ms", "ms"),
)
METRICS = BASE + tuple(
    (f"{span}.{c}", unit) for span in COUNTED for c, unit in COUNTERS
)


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(hits, total) -> float:
    return hits / total if total else 0.0


def per_layer(spans: list[dict], spark: dict, client_wall: dict, resident_bytes: int) -> dict:
    """``client_wall`` maps a REST request id to its HTTP wall time (s)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["self"] = s["dur"] - sum(c["dur"] for c in children.get(s["id"], ()))
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def self_ms_p50(name):
        return _p50([s["self"] * 1e3 for s in by.get(name, ())])

    def self_s(name):
        return sum(s["self"] for s in by.get(name, ()))

    def calls(name):
        return len(by.get(name, ()))

    def rest_self(kinds):
        # HTTP wall seen by the client minus the Engine / VectorDB calls
        # made inside the request
        out = []
        for s in by.get("rest.dispatch", ()):
            if s.get("path", "").rsplit("/", 1)[-1] in kinds and s["rid"] in client_wall:
                inner = sum(c["dur"] for c in children.get(s["id"], ()))
                out.append((client_wall[s["rid"]] - inner) * 1e3)
        return _p50(out)

    local = by.get("db.query_batch_local", ())
    routes = by.get("ivf.route_fused", ())
    cache = by.get("cache.get", ())
    widen = by.get("session.widen", ())
    m = {
        "rest.query.self_ms_p50": rest_self({"query"}),
        "rest.write.self_ms_p50": rest_self({"add", "remove"}),
        "rest.errors": sum(1 for s in by.get("rest.dispatch", ()) if s.get("status") != 200),
        "engine.batch_query.self_ms_p50": self_ms_p50("engine.batch_query"),
        "cache.get.calls": len(cache),
        "cache.get.miss_ratio": _ratio(sum(1 for s in cache if s.get("miss")), len(cache)),
        "db.query.self_ms_p50": self_ms_p50("db.query"),
        "db.query_df.self_ms_p50": self_ms_p50("db.query_df"),
        "db.add.self_ms_p50": self_ms_p50("db.add"),
        "db.create_dataframe.ms_p50": _p50([
            s["dur"] * 1e3 for s in by.get("spark.createDataFrame", ())
            if s["parent"] in {p["id"] for p in by.get("db.add", ())}
        ]),
        "db.remove.self_ms_p50": self_ms_p50("db.remove"),
        "db.add_dataframe.self_s": self_s("db.add_dataframe"),
        "db.train.self_s": self_s("db.train"),
        "resident.query.self_ms_p50": self_ms_p50("resident.query"),
        "resident.served_ratio": _ratio(sum(1 for s in local if s.get("served")), len(local)),
        "resident.bytes": resident_bytes,
        "ivf.search.calls": calls("ivf.search"),
        "ivf.search.self_ms_p50": self_ms_p50("ivf.search"),
        "ivf.fused_ratio": _ratio(sum(1 for s in routes if s.get("fused")), len(routes)),
        "topk.knn_batch.calls": calls("topk.knn_batch"),
        "topk.knn_batch.self_ms_p50": self_ms_p50("topk.knn_batch"),
        "dedup.connected_components.rounds": sum(
            s.get("rounds", 0) for s in by.get("dedup.connected_components", ())
        ),
        "dedup.pairs": sum(s.get("pairs", 0) for s in by.get("dedup.collect_pairs", ())),
        "session.widen.calls": len(widen),
        "session.widen.repartitioned": sum(1 for s in widen if s.get("repartitioned")),
    }
    for name in ("refresh_tail", "refresh_deletes", "build"):
        spans_n = by.get(f"resident.{name}", ())
        m[f"resident.{name}.calls"] = len(spans_n)
        m[f"resident.{name}.total_ms"] = sum(s["dur"] for s in spans_n) * 1e3
    for name in ("fit_pca", "centroids", "train_pq_on_residuals", "assign_cells",
                 "encode_all", "build_index"):
        m[f"build.{name}.self_s"] = self_s(f"build.{name}")
    m["pq.train_codebooks.self_s"] = self_s("pq.train_codebooks")
    for name in ("minhash_lsh_pairs", "connected_components", "survivors"):
        m[f"dedup.{name}.self_s"] = self_s(f"dedup.{name}")
    m.update(_spark_counters(spans, spark))
    # a dedup run traces one or more whole passes: report per pass
    passes = len(by.get("dedup.connected_components", ())) or 1
    for k in m:
        if k.startswith("dedup."):
            m[k] /= passes
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in METRICS}


def _spark_counters(spans: list[dict], spark: dict) -> dict:
    name_of = {f"bench-span-{s['id']}": s["name"] for s in spans}
    stages = {}
    for st in spark["stages"]:
        stages.setdefault(st["stage"], st)  # first attempt
    out = {f"{span}.{c}": 0.0 for span in COUNTED for c, _ in COUNTERS}
    for job in spark["jobs"].values():
        span = name_of.get(job["group"])
        if span not in COUNTED:
            continue
        out[f"{span}.jobs"] += 1
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None:
                continue  # skipped stage (its shuffle output was reused)
            out[f"{span}.stages"] += 1
            out[f"{span}.tasks"] += st["tasks"]
            out[f"{span}.executor_run_ms"] += st["run_ms"]
            out[f"{span}.shuffle_bytes"] += st["shuffle_bytes"]
            out[f"{span}.input_bytes"] += st["input_bytes"]
    meds = [st["task_ms_p50"] for st in stages.values() if st["task_ms_p50"] is not None]
    out["spark.task_ms_p50"] = _p50(meds)
    out["spark.gc_ms"] = sum(st["gc_ms"] for st in stages.values())
    return out
