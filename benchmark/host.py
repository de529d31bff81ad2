"""Library host: the one process of a run that imports ``mindb_spark``.

Usage: python3 benchmark/host.py WORKDIR

Reads ``WORKDIR/config.json`` and the input files the parent wrote there,
starts a Spark session through ``mindb_spark.session.get_spark``, and sets
up the workload through public calls only. Then:

- serve_mixed: starts the REST server, writes ``ready.json`` (port, key
  -> id map) and serves until its stdin says ``stop``.
- ann_spark / dedup_chains: runs the closed loop itself for the configured
  seconds (dedup_chains: and at least two rounds of concurrent passes).

With tracing asked for, set-up is traced, the first half of the measured
loop is not and the second half is (serve_mixed: after the stdin line
``trace``), so the parent can report the tracing overhead. At the end the
host writes ``result.json`` and, when traced, ``spans.jsonl`` and
``spark.json``; then it stops Spark and waits for the JVM to exit.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from tracing import SparkCollector, Tracer, patch_function, patch_method  # noqa: E402

DEDUP_CALLERS = 4  # dedup_chains: passes running at once


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def install(tracer: Tracer) -> None:
    """Wrap the public calls of each measured layer (see README.md)."""
    from pyspark.sql import SparkSession

    from mindb_spark import session
    from mindb_spark.api.rest import RestServer
    from mindb_spark.core.cache import LRUCache
    from mindb_spark.core.database import VectorDB
    from mindb_spark.core.engine import Engine
    from mindb_spark.core.resident import ResidentSnapshot
    from mindb_spark.index import build, ivf, pq
    from mindb_spark.operators import topk

    def set_attr(key, fn):
        def on_result(span, result, args):
            span[key] = fn(result, args)
        return on_result

    dispatch = RestServer.dispatch

    def traced_dispatch(self, method, path, body):
        rid = body.get("_rid") if isinstance(body, dict) else None

        def on_result(span, result, args):
            span["status"], span["path"] = result[0], path

        return tracer.run("rest.dispatch", dispatch, (self, method, path, body), {},
                          rid=rid, on_result=on_result)

    RestServer.dispatch = traced_dispatch
    patch_method(tracer, Engine, "batch_query", "engine.batch_query", counted=True)
    patch_method(tracer, Engine, "add", "engine.add")
    patch_method(tracer, Engine, "remove", "engine.remove")
    patch_method(tracer, LRUCache, "get", "cache.get",
                 on_result=set_attr("miss", lambda r, a: r is None))
    patch_method(tracer, VectorDB, "query", "db.query")
    patch_method(tracer, VectorDB, "query_df", "db.query_df")
    patch_method(tracer, VectorDB, "query_batch_local", "db.query_batch_local",
                 on_result=set_attr("served", lambda r, a: r is not None))
    for name in ("add", "remove", "add_dataframe", "train"):
        patch_method(tracer, VectorDB, name, f"db.{name}", counted=True)
    patch_method(tracer, SparkSession, "createDataFrame", "spark.createDataFrame")
    patch_method(tracer, ResidentSnapshot, "query", "resident.query")
    for name in ("refresh_tail", "refresh_deletes", "build"):
        patch_method(tracer, ResidentSnapshot, name, f"resident.{name}", counted=True)
    patch_function(tracer, ivf, "search", "ivf.search", counted=True)
    patch_function(tracer, ivf, "route_fused", "ivf.route_fused",
                   on_result=set_attr("fused", lambda r, a: bool(r)))
    patch_function(tracer, topk, "knn_batch", "topk.knn_batch")
    for fn in ("fit_pca", "train_pq_on_residuals", "assign_cells", "encode_all"):
        patch_function(tracer, build, fn, f"build.{fn}")
    for fn in ("train_centroids_subsampling", "train_centroids_two_level"):
        patch_function(tracer, build, fn, "build.centroids")
    patch_function(tracer, build, "build_index", "build.build_index", counted=True)
    patch_function(tracer, pq, "train_codebooks", "pq.train_codebooks")
    patch_function(tracer, session, "widen", "session.widen",
                   on_result=set_attr("repartitioned", lambda r, a: r is not a[0]))


class Host:
    def __init__(self, workdir: str):
        self.workdir = workdir
        with open(os.path.join(workdir, "config.json")) as f:
            self.cfg = json.load(f)
        self.traced = bool(self.cfg["trace"])
        self.tracer = Tracer()
        if self.traced:
            install(self.tracer)
        from mindb_spark.session import get_spark

        self.spark = get_spark("mindb-benchmark")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer._sc = self.spark.sparkContext
        self.facts = {"arrow": self.spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")}
        self.collector = None
        if self.traced:
            self.collector = SparkCollector(self.spark.sparkContext)
            self.collector.start()
        self.tracing(True)  # set-up is traced

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def tracing(self, on: bool) -> None:
        """Spans and Spark polling on or off (a no-op in untraced runs)."""
        if self.traced:
            self.tracer.enabled = on
            self.collector.paused = not on

    def finish(self, result: dict) -> None:
        self.tracing(False)
        if self.traced:
            write_json(self.path("spark.json"), self.collector.finish())
            self.tracer.dump(self.path("spans.jsonl"))
        result["peak_rss_mb"] = peak_rss_mb()
        result["facts"] = self.facts
        write_json(self.path("result.json"), result)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; kill it if it lingers
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 — any failure: fall back to kill
                proc.kill()
                proc.wait()

    def loop(self, step, min_steps: int = 1) -> tuple[float, list]:
        """Closed loop: call ``step()`` until the configured seconds are
        spent and at least ``min_steps`` steps ran; with tracing, the second
        half is traced (at least one step each side). Returns (wall time of
        the first step, records)."""
        records = []
        first = time.time()
        t0 = time.perf_counter()
        seconds = self.cfg["seconds"]
        while True:
            elapsed = time.perf_counter() - t0
            traced_now = self.traced and elapsed >= seconds / 2 and records
            done = elapsed >= seconds and len(records) >= min_steps
            if done and (not self.traced or any(r["traced"] for r in records)):
                break
            self.tracing(bool(traced_now))
            rec = step()
            rec["traced"] = self.tracer.enabled
            records.append(rec)
        self.tracing(False)
        return first, records

    # ------------------------------------------------------------ vectors
    def vector_db(self, name: str):
        from mindb_spark.core.engine import Engine

        engine = Engine(self.spark, base_path=self.path("dbs"))
        db = engine.create_db(name, vector_dimension=self.cfg["dim"])
        n = db.add_dataframe(
            self.spark.read.parquet(self.path("base.parquet")),
            vector_col="vector",
            metadata_col="key",
        )
        if n != self.cfg["rows"]:
            raise RuntimeError(f"add_dataframe added {n} rows, expected {self.cfg['rows']}")
        db.train(covering=True)
        info = db.info()
        self.facts["index"] = {
            "num_clusters": info["index_params"]["num_clusters"],
            "measured_recall": info["measured_recall"],
            **info["query_defaults"],
        }
        return engine, db

    def serve_mixed(self) -> None:
        from mindb_spark.api.rest import RestServer

        engine, db = self.vector_db("serve")
        if not db.enable_resident_serving():
            raise RuntimeError("resident snapshot did not fit the default budget")
        self.tracing(False)
        id_of_key = [0] * self.cfg["rows"]
        pdf = db.vectors().select("id", "metadata").toPandas()
        for i, meta in zip(pdf["id"].tolist(), pdf["metadata"].tolist()):
            id_of_key[json.loads(meta)["key"]] = i
        server = RestServer(engine, port=0)
        port = server.start()
        write_json(self.path("ready.json"), {"port": port, "id_of_key": id_of_key})
        for line in sys.stdin:
            if line.strip() == "trace":
                self.tracing(True)
            elif line.strip() == "stop":
                break
        self.tracing(False)
        info = db.resident_info()
        server.stop()
        self.finish({"resident_bytes": info["bytes"] if info else 0})

    def ann_spark(self) -> None:
        import numpy as np

        engine, db = self.vector_db("ann")
        extra = np.load(self.path("extra.npy"))
        first_key = self.cfg["rows"]
        for chunk in np.array_split(np.arange(extra.shape[0]), 2):
            db.add([(extra[i].tolist(), {"key": int(first_key + i)}) for i in chunk])
        # a budget below the snapshot size: the engine must fall back to Spark
        if db.enable_resident_serving(max_bytes=1 << 20):
            raise RuntimeError("resident snapshot accepted a 1 MiB budget")
        self.tracing(False)
        queries = np.load(self.path("queries.npy"))
        warmup = np.load(self.path("warmup.npy"))
        b = self.cfg["batch"]
        for i in range(0, warmup.shape[0], b):
            engine.batch_query("ann", warmup[i:i + b].tolist(), final_top_k=10)
        calls = 0

        def step():
            nonlocal calls
            pick = [(calls * b + j) % queries.shape[0] for j in range(b)]
            calls += 1
            ts = time.perf_counter()
            out = engine.batch_query("ann", queries[pick].tolist(), final_top_k=10)
            lat = time.perf_counter() - ts
            return {
                "q": pick,
                "lat": lat,
                "ids": [r["ids"] for r in out],
                "keys": [[m["key"] for m in r["metadata"]] for r in out],
                "scores": [r["cosine_similarity"] for r in out],
            }

        first, records = self.loop(step)
        self.finish({"first_op": first, "calls": records})

    # -------------------------------------------------------------- dedup
    def dedup_pass(self, df) -> dict:
        from mindb_spark.operators import dedup as D

        t = self.tracer
        ts = time.perf_counter()
        with t.span("dedup.minhash_lsh_pairs", counted=True):
            pairs = D.minhash_lsh_pairs(df, self.cfg["threshold"]).localCheckpoint(eager=True)
        with t.span("dedup.connected_components", counted=True) as sp:
            stats: dict = {}
            comps = D.connected_components(pairs, stats=stats)
            comp_rows = comps.collect()
            sp["rounds"] = stats.get("rounds", 0)
        with t.span("dedup.survivors", counted=True):
            survivors = [
                r.doc_id
                for r in D.survivors_from_components(df, comps).select("doc_id").collect()
            ]
        with t.span("dedup.collect_pairs") as sp:
            pair_rows = [(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()]
            sp["pairs"] = len(pair_rows)
        return {
            "lat": time.perf_counter() - ts,
            "rounds": stats.get("rounds", 0),
            "pairs": pair_rows,
            "components": [(r.id, r.component) for r in comp_rows],
            "survivors": survivors,
        }

    def dedup_chains(self) -> None:
        df = self.spark.read.parquet(self.path("docs.parquet"))
        self.tracing(False)
        # a pass is ~150 small Spark jobs that wait on each other, so one
        # caller leaves most of the cores idle and its pass time follows
        # every scheduling delay of the shared machine. DEDUP_CALLERS
        # callers each run a pass at once (a round), which keeps the cores
        # busy. Passes keep getting faster for about eight passes while the
        # JVM compiles their planning and scheduling paths, so two rounds
        # run untimed. A run measures at least two rounds
        pool = ThreadPoolExecutor(DEDUP_CALLERS)

        def dedup_round() -> dict:
            ts = time.perf_counter()
            futures = [pool.submit(self.dedup_pass, df) for _ in range(DEDUP_CALLERS)]
            out = [f.result() for f in futures]
            return {"lat": time.perf_counter() - ts, "passes": out}

        try:
            for _ in range(2):
                dedup_round()
            first, rounds = self.loop(dedup_round, min_steps=2)
        finally:
            pool.shutdown()
        passes = []
        for r in rounds:
            ps = r.pop("passes")
            r["pass_lat"] = [p["lat"] for p in ps]
            passes += ps
        # the oracle checks the last pass in full and the others against it
        last = passes[-1]
        for p in passes[:-1]:
            pairs, comps, surv = p.pop("pairs"), p.pop("components"), p.pop("survivors")
            p["same_as_last"] = (
                sorted(pairs) == sorted(last["pairs"])
                and sorted(comps) == sorted(last["components"])
                and sorted(surv) == sorted(last["survivors"])
            )
        self.finish({"first_op": first, "rounds": rounds, "passes": passes})


def main() -> None:
    host = Host(sys.argv[1])
    try:
        getattr(host, host.cfg["workload"])()
    finally:
        host.stop()


if __name__ == "__main__":
    main()
