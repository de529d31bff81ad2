"""The repository benchmark: one workload per run, checked by its own oracle.

Usage (from the repository root):

    python3 benchmark/run.py --workload serve_mixed --seed 1 --seconds 12 --trace 0

The parent process (this file) makes the inputs from ``--seed``, starts the
library host (``host.py``) in its own process group, drives or waits for
the measured loop, checks every output against ``oracle.py`` and prints,
as its last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of ``layers.py`` with ``--trace 1``. The line before it
carries the workload's detail figures and the run's provenance. See
README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start, the origin of setup_s

import argparse  # noqa: E402
import http.client  # noqa: E402
import importlib.metadata  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import inputs as I  # noqa: E402
import layers  # noqa: E402
from oracle import VectorOracle, check_dedup  # noqa: E402

WORKLOADS = ("serve_mixed", "ann_spark", "dedup_chains")
THRESHOLD = 0.7
TOP_K = 10
# fixed tail percentile per workload (the highest with >= 10 samples
# beyond it at the default run length); dedup passes are too few for one
TAIL_PCT = {"serve_mixed": 95, "ann_spark": 75, "dedup_chains": None}
DEADLINE_S = 170.0


class BenchError(RuntimeError):
    pass


# ------------------------------------------------------------------ utils
def pct(xs, p: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), p))


def tail(xs, p):
    """The p-th percentile if at least 10 samples lie beyond it."""
    if p is None or len(xs) * (100 - p) / 100 < 10:
        return None
    return pct(xs, p)


def write_vectors(path: str, vectors: np.ndarray, first_key: int = 0, files: int = 4) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    d = vectors.shape[1]
    for part, rows in enumerate(np.array_split(np.arange(vectors.shape[0]), files)):
        flat = pa.array(vectors[rows].ravel(), type=pa.float32())
        table = pa.table({
            "key": pa.array(rows + first_key, type=pa.int64()),
            "vector": pa.FixedSizeListArray.from_arrays(flat, d).cast(pa.list_(pa.float32())),
        })
        pq.write_table(table, os.path.join(path, f"part-{part}.parquet"))


def write_docs(path: str, texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), type=pa.int64()),
                  "text": pa.array(texts, type=pa.string())}),
        path,
    )


def provenance(args, facts: dict) -> dict:
    import pyarrow

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": importlib.metadata.version("pyspark"),
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "arrow_enabled": facts.get("arrow"),
        "git_commit": commit,
    }


# ------------------------------------------------------------ host process
class HostProcess:
    """``host.py`` in its own session; every process it spawns (the JVM,
    the Python workers) shares its process group and is reaped with it."""

    def __init__(self, workdir: str, cfg: dict):
        self.workdir = workdir
        with open(os.path.join(workdir, "config.json"), "w") as f:
            json.dump(cfg, f)
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
        env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
        env["TMPDIR"] = tmp
        env["JAVA_TOOL_OPTIONS"] = f"{env.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp}".strip()
        env["PYTHONDONTWRITEBYTECODE"] = "1"
        self.log = open(os.path.join(workdir, "host.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), workdir],
            cwd=workdir, env=env, stdin=subprocess.PIPE, stdout=self.log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )

    def file(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def wait_for(self, name: str) -> dict:
        path = self.file(name)
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                raise BenchError(f"host exited with {self.proc.returncode} before {name}")
            if time.time() - T0 > DEADLINE_S:
                raise BenchError(f"no {name} within {DEADLINE_S:.0f} s")
            time.sleep(0.05)
        with open(path) as f:
            return json.load(f)

    def send(self, line: str) -> None:
        self.proc.stdin.write(line.encode() + b"\n")
        self.proc.stdin.flush()

    def join(self) -> None:
        remaining = max(5.0, DEADLINE_S - (time.time() - T0))
        try:
            self.proc.wait(timeout=remaining)
        except subprocess.TimeoutExpired as e:
            raise BenchError("host did not exit in time") from e
        if self.proc.returncode != 0:
            raise BenchError(f"host exited with {self.proc.returncode}")

    def log_tail(self, n: int = 40) -> str:
        self.log.flush()
        with open(self.log.name, errors="replace") as f:
            return "".join(f.readlines()[-n:])

    def close(self) -> None:
        """Stop the whole process group and wait until none of it runs."""
        if self.proc.stdin and not self.proc.stdin.closed:
            try:
                self.proc.stdin.close()
            except BrokenPipeError:
                pass
        pgid = self.proc.pid
        for sig, grace in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 10.0)):
            if self.proc.poll() is None or _group_alive(pgid):
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    pass
            end = time.time() + grace
            while time.time() < end and (self.proc.poll() is None or _group_alive(pgid)):
                time.sleep(0.1)
        self.proc.wait()
        self.log.close()


def _group_alive(pgid: int) -> bool:
    """True while any non-zombie process is in process group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


# ------------------------------------------------------------- serve_mixed
def post(port: int, path: str, body: dict):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


class ReadWriteLock:
    """Queries share, writes exclude: each query then sees exactly one
    live set, which keeps the oracle exact under 2 concurrent clients."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False

    def acquire(self, write: bool) -> None:
        with self._cond:
            while self._writer or (write and self._readers):
                self._cond.wait()
            if write:
                self._writer = True
            else:
                self._readers += 1

    def release(self, write: bool) -> None:
        with self._cond:
            if write:
                self._writer = False
            else:
                self._readers -= 1
            self._cond.notify_all()


def run_serve(args, sizes, host: HostProcess, inp: I.VectorInputs, clients: int = 2):
    ready = host.wait_for("ready.json")
    port, id_of_key = ready["port"], ready["id_of_key"]
    path = "/db/serve/"
    for q in inp.warmup:
        post(port, path + "query", {"query_vector": q.tolist(), "final_top_k": TOP_K})

    add_slot = np.cumsum(inp.ops == 1) - 1
    rm_slot = np.cumsum(inp.ops == 2) - 1
    lock, rw = threading.Lock(), ReadWriteLock()
    state = {"next": 0, "epoch": 0, "traced": False}
    records: list[dict] = []
    writes: list[tuple[int, str, list]] = []  # (epoch it ends, kind, keys)
    errors: list[str] = []
    first_op = time.time()
    t0 = time.perf_counter()

    def worker():
        while True:
            with lock:
                i = state["next"]
                state["next"] += 1
                elapsed = time.perf_counter() - t0
                if args.trace and not state["traced"] and elapsed >= args.seconds / 2:
                    host.send("trace")
                    state["traced"] = True
                traced = state["traced"]
            if elapsed >= args.seconds or i >= inp.ops.size:
                return
            kind = int(inp.ops[i])
            write = kind != 0
            rec = {"i": i, "kind": kind, "traced": traced}
            if kind == 0:
                qi = int(inp.query_pick[i])
                body = {"query_vector": inp.queries[qi].tolist(), "final_top_k": TOP_K}
                rec["q"] = qi
            elif kind == 1:
                s = int(add_slot[i]) * I.ADD_BATCH
                keys = list(range(sizes.serve_rows + s, sizes.serve_rows + s + I.ADD_BATCH))
                body = {"add_data": [[inp.extra[k - sizes.serve_rows].tolist(), {"key": k}]
                                     for k in keys]}
                route = "add"
            else:
                s = int(rm_slot[i]) * I.REMOVE_BATCH
                keys = [int(k) for k in inp.remove_order[s:s + I.REMOVE_BATCH]]
                body = {"ids": [id_of_key[k] for k in keys]}
                route = "remove"
            if traced:
                body["_rid"] = i
            rw.acquire(write)
            try:
                rec["epoch"] = state["epoch"]
                ts = time.perf_counter()
                try:
                    status, resp = post(port, path + ("query" if kind == 0 else route), body)
                except (OSError, http.client.HTTPException, ValueError) as e:
                    status, resp = 0, {"detail": repr(e)}
                rec["lat"] = time.perf_counter() - ts
                rec["status"] = status
                if write and status == 200:
                    state["epoch"] += 1
                    writes.append((state["epoch"], route, keys))
            finally:
                rw.release(write)
            if status != 200:
                errors.append(f"op {i}: HTTP {status} {resp.get('detail', '')}"[:300])
            elif kind == 0:
                rec["ids"] = resp.get("ids", [])
                rec["keys"] = [m.get("key") for m in resp.get("metadata", [])]
                rec["scores"] = resp.get("cosine_similarity", [])
            records.append(rec)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=max(5.0, DEADLINE_S - (time.time() - T0)))
    if any(t.is_alive() for t in threads):
        raise BenchError("client threads did not finish")
    duration = time.perf_counter() - t0
    host.send("stop")
    result = host.wait_for("result.json")
    host.join()

    # oracle: replay the writes in epoch order, checking each epoch's queries
    oracle = VectorOracle(inp.all_vectors, np.arange(inp.all_vectors.shape[0]) < sizes.serve_rows)
    by_epoch: dict[int, list[dict]] = {}
    for r in records:
        if r["kind"] == 0 and r["status"] == 200:
            by_epoch.setdefault(r["epoch"], []).append(r)
    pending = sorted(writes)
    for epoch in range(len(pending) + 1):
        qs = by_epoch.get(epoch, [])
        if qs:
            qmat = inp.queries[[r["q"] for r in qs]]
            truth = oracle.truth(qmat)
            for r, q, t in zip(qs, qmat, truth):
                problems, r["recall"] = oracle.check(q, t, r["ids"], r["keys"], r["scores"])
                if problems:
                    errors.append(f"query op {r['i']}: {'; '.join(problems)}"[:300])
                    r["bad"] = True
        if epoch < len(pending):
            _, kind, keys = pending[epoch]
            (oracle.add if kind == "add" else oracle.remove)(keys)

    def e2e(recs, span):
        qs = [r for r in recs if r["kind"] == 0 and r["status"] == 200]
        ws = [r for r in recs if r["kind"] != 0 and r["status"] == 200]
        lat = [r["lat"] * 1e3 for r in qs]
        wl = [r["lat"] * 1e3 for r in ws]
        return {
            "latency_p50_ms": pct(lat, 50),
            "throughput_per_s": len(qs) / span,
            "recall": float(np.mean([r["recall"] for r in qs])),
            "query_tail_ms": tail(lat, TAIL_PCT["serve_mixed"]),
            "write_p50_ms": pct(wl, 50) if wl else None,
            "write_tail_ms": tail(wl, 90),
            "queries": len(qs),
            "writes": len(ws),
        }

    failed = sum(1 for r in records if r["status"] != 200 or r.get("bad"))
    halves = _halves(records, duration, args.trace, e2e)
    client_wall = {r["i"]: r["lat"] for r in records if r["traced"]}
    return {
        "setup_s": first_op - T0,
        "peak_rss_mb": result["peak_rss_mb"],
        **halves,
        "attempted": len(records),
        "failed": failed,
        "errors": errors,
        "client_wall": client_wall,
        "resident_bytes": result.get("resident_bytes", 0),
        "facts": result["facts"],
    }


def _halves(records, duration, trace, e2e):
    """End-to-end figures; with tracing, of the untraced half, plus the
    traced-minus-untraced difference of each."""
    if not trace:
        return {"e2e": e2e(records, duration)}
    plain = [r for r in records if not r["traced"]]
    traced = [r for r in records if r["traced"]]
    span_plain = sum(r["lat"] for r in plain) or 1e-9
    span_traced = sum(r["lat"] for r in traced) or 1e-9
    a, b = e2e(plain, span_plain), e2e(traced, span_traced)
    over = {k: b[k] - a[k] for k in a if isinstance(a[k], float) and isinstance(b[k], float)}
    return {"e2e": a, "overhead": over}


# --------------------------------------------------------------- ann_spark
def run_ann(args, sizes, host: HostProcess, inp: I.VectorInputs):
    result = host.wait_for("result.json")
    host.join()
    oracle = VectorOracle(inp.all_vectors, np.ones(inp.all_vectors.shape[0], dtype=bool))
    truth = oracle.truth(inp.queries)
    errors: list[str] = []
    failed = attempted = 0
    for c in result["calls"]:
        recalls = []
        for j, qi in enumerate(c["q"]):
            attempted += 1
            problems, rc = oracle.check(inp.queries[qi], truth[qi], c["ids"][j],
                                        c["keys"][j], c["scores"][j])
            recalls.append(rc)
            if problems:
                failed += 1
                errors.append(f"query {qi}: {'; '.join(problems)}"[:300])
        c["recall"] = float(np.mean(recalls))
    b = sizes.ann_batch

    def e2e(calls, span):
        lat = [c["lat"] * 1e3 for c in calls]
        return {
            "latency_p50_ms": pct(lat, 50),
            "throughput_per_s": b * len(calls) / span,
            "recall": float(np.mean([c["recall"] for c in calls])),
            "query_tail_ms": tail(lat, TAIL_PCT["ann_spark"]),
            "calls": len(calls),
            "call_ms": [round(x, 1) for x in lat],
        }

    calls = result["calls"]
    return {
        "setup_s": result["first_op"] - T0,
        "peak_rss_mb": result["peak_rss_mb"],
        **_halves(calls, sum(c["lat"] for c in calls), args.trace, e2e),
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "facts": result["facts"],
    }


# ------------------------------------------------------------ dedup_chains
def run_dedup(args, sizes, host: HostProcess, docs: I.DocInputs):
    result = host.wait_for("result.json")
    host.join()
    passes = result["passes"]
    last = passes[-1]
    problems, recall = check_dedup(
        docs.texts, docs.planted, THRESHOLD,
        [tuple(p) for p in last["pairs"]],
        {int(i): int(c) for i, c in last["components"]},
        last["survivors"],
    )
    errors = [f"last pass: {p}"[:300] for p in problems]
    failed = 1 if problems else 0
    for n, p in enumerate(passes[:-1]):
        if not p["same_as_last"]:
            failed += 1
            errors.append(f"pass {n} output differs from the last pass")
    n_docs = len(docs.texts)

    def e2e(rounds, span):
        # a round is one pass per caller, started together; docs/s is that
        # of the median round
        lat = [x * 1e3 for r in rounds for x in r["pass_lat"]]
        return {
            "latency_p50_ms": pct(lat, 50),
            "throughput_per_s": pct([n_docs * len(r["pass_lat"]) / r["lat"] for r in rounds], 50),
            "recall": recall,
            "rounds": len(rounds),
            "round_ms": [round(r["lat"] * 1e3, 1) for r in rounds],
            "cc_rounds": last["rounds"],
            "pairs": len(last["pairs"]),
        }

    rounds = result["rounds"]
    return {
        "setup_s": result["first_op"] - T0,
        "peak_rss_mb": result["peak_rss_mb"],
        **_halves(rounds, sum(r["lat"] for r in rounds), args.trace, e2e),
        "attempted": len(passes),
        "failed": failed,
        "errors": errors,
        "facts": result["facts"],
    }


# -------------------------------------------------------------------- main
E2E_METRICS = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("recall", "fraction"),
    ("peak_rss_mb", "MiB"),
)


def prepare(args, sizes, workdir: str):
    """Generate the seeded inputs and write what the host reads."""
    if args.workload == "dedup_chains":
        docs = I.dedup_inputs(args.seed, sizes)
        write_docs(os.path.join(workdir, "docs.parquet"), docs.texts)
        cfg = {"threshold": THRESHOLD}
        return docs, cfg
    if args.workload == "serve_mixed":
        inp = I.serve_inputs(args.seed, sizes)
        cfg = {"rows": sizes.serve_rows}
    else:
        inp = I.ann_inputs(args.seed, sizes)
        cfg = {"rows": sizes.ann_rows, "batch": sizes.ann_batch}
        for name in ("extra", "queries", "warmup"):
            np.save(os.path.join(workdir, f"{name}.npy"), getattr(inp, name))
    write_vectors(os.path.join(workdir, "base.parquet"), inp.base)
    cfg["dim"] = I.DIM
    return inp, cfg


def run(args, sizes: I.Sizes) -> dict:
    """One run; returns the report (raises BenchError on a broken run)."""
    if not os.path.isfile(os.path.join(ROOT, "mindb_spark", "__init__.py")):
        raise BenchError(f"mindb_spark not found under {ROOT}")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work_root = os.path.join(ROOT, ".bench_work")
    workdir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    host = None
    try:
        inp, cfg = prepare(args, sizes, workdir)
        cfg.update(workload=args.workload, seconds=args.seconds, trace=args.trace)
        host = HostProcess(workdir, cfg)
        try:
            runner = {"serve_mixed": run_serve, "ann_spark": run_ann,
                      "dedup_chains": run_dedup}[args.workload]
            rep = runner(args, sizes, host, inp)
        except BenchError as e:
            raise BenchError(f"{e}\n--- host log ---\n{host.log_tail()}") from e
        rep["input_digest"] = I.digest(inp)
        if args.trace:
            with open(host.file("spark.json")) as f:
                spark = json.load(f)
            with open(host.file("spans.jsonl")) as f:
                spans = [json.loads(line) for line in f]
            rep["layers"] = layers.per_layer(
                spans, spark, rep.pop("client_wall", {}), rep.pop("resident_bytes", 0)
            )
            keep = os.path.join(work_root, f"trace-{args.workload}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for name in ("spans.jsonl", "spark.json"):
                shutil.move(host.file(name), os.path.join(keep, name))
        return rep
    finally:
        if host is not None:
            host.close()
        shutil.rmtree(workdir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check sizes")
    args = ap.parse_args(argv)
    try:
        rep = run(args, I.TINY if args.tiny else I.FULL)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    e2e = rep["e2e"]
    values = {"setup_s": rep["setup_s"], "peak_rss_mb": rep["peak_rss_mb"], **e2e}
    detail = {
        "workload": args.workload,
        "input_digest": rep["input_digest"],
        "fail_ratio": rep["failed"] / max(1, rep["attempted"]),
        "tail_pct": TAIL_PCT[args.workload],
        "index": rep["facts"].get("index"),
        "figures": values,
        "errors": rep["errors"][:20],
        "provenance": provenance(args, rep["facts"]),
    }
    if args.trace:
        detail["tracing_overhead"] = rep["overhead"]
        metrics = rep["layers"]
    else:
        metrics = {name: {"value": float(values[name]), "unit": unit}
                   for name, unit in E2E_METRICS}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": int(rep["attempted"]),
        "failed": int(rep["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
