"""Resident-snapshot refresh-vs-rebuild cost.

Measures, on a trained VectorDB, the cost of absorbing a sparse delete
into the serving snapshot via the tombstone mask (``refresh_deletes``:
the live id column read from the version's files, plus the tail block)
against the full rebuild it replaces (``build``: codes, vectors and
metadata of every indexed row, read from the version's files with
pyarrow). Each step runs in its own Spark job group and prints the
number of Spark jobs it ran (0 for all three since the snapshot stopped
using Spark). The results are pinned bit-identical by
tests/test_resident.py; this probe records the latency ratio.

The database lives in a fresh temporary directory (``TMPDIR`` picks its
parent), removed at exit, so a rerun starts from an empty table.

Usage: python tools/resident_refresh_probe.py [n_rows]  (default 500k)
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

N = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
D, C, N_PARTS = 32, 64, 32


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from mindb_spark.core.database import VectorDB
    from mindb_spark.core.resident import ResidentSnapshot
    from mindb_spark.session import get_spark

    spark = get_spark("refresh-probe")
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(3)
    centers = (rng.normal(size=(C, D)) * 4.0).astype(np.float32)
    bc = spark.sparkContext.broadcast(centers)
    base, rem = divmod(N, N_PARTS)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for pid in pdf["id"]:
                per = base + (1 if pid < rem else 0)
                r = np.random.default_rng(2000 + pid)
                a = r.integers(0, C, size=per)
                m = bc.value[a] + r.normal(size=(per, D)).astype(np.float32)
                yield pd.DataFrame({"vector": list(m.astype(np.float64))})

    src = (
        spark.range(N_PARTS).repartition(N_PARTS, "id")
        .mapInPandas(gen, schema="vector array<double>")
    )
    tmp = tempfile.mkdtemp(prefix="refresh_probe_")
    atexit.register(shutil.rmtree, tmp, True)
    db = VectorDB(spark, "refreshprobe", base_path=tmp)
    t0 = time.time()
    db.add_dataframe(src)
    print(f"ingest: {time.time()-t0:.1f}s for {N} x {D}", flush=True)
    t0 = time.time()
    db.train()
    print(f"train: {time.time()-t0:.1f}s", flush=True)

    sc = spark.sparkContext

    def timed(label, fn):
        """(result, seconds, Spark jobs) of ``fn()`` in its own job group."""
        group = f"refresh-probe-{label}"
        sc.setJobGroup(group, label)
        try:
            t0 = time.time()
            out = fn()
            secs = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(0.5)  # let the status tracker see any job the call ran
        return out, secs, len(sc.statusTracker().getJobIdsForGroup(group))

    snap, t_build, jobs = timed("build", lambda: ResidentSnapshot.build(db, max_bytes=None))
    print(f"full build: {t_build:.2f}s, {jobs} jobs ({snap.ids.size} rows, "
          f"{snap.nbytes()/1e6:.0f} MB)", flush=True)

    victims = [int(i) for i in rng.integers(0, N, size=50)]
    db.remove(sorted(set(victims)))
    refreshed, t_refresh, jobs = timed(
        "refresh_deletes", lambda: snap.refresh_deletes(db, max_bytes=None)
    )
    assert refreshed is not None and refreshed.live_mask is not None
    dead = int(refreshed.ids.size - refreshed.live_mask.sum())
    print(
        f"tombstone refresh: {t_refresh * 1e3:.1f} ms, {jobs} jobs ({dead} masked) — "
        f"{t_build / t_refresh:.0f}x cheaper than rebuild", flush=True,
    )
    db.add([(rng.normal(size=D).astype(np.float32), {}) for _ in range(10)])
    _, t_tail, jobs = timed(
        "refresh_tail", lambda: refreshed.refresh_tail(db, max_bytes=None)
    )
    print(f"tail refresh (10 adds): {t_tail * 1e3:.1f} ms, {jobs} jobs", flush=True)
    # and the post-delete rebuild for the same state, for the honest ratio
    _, t_build2, jobs = timed("rebuild", lambda: ResidentSnapshot.build(db, max_bytes=None))
    print(f"post-delete full rebuild: {t_build2:.2f}s, {jobs} jobs "
          f"(ratio vs refresh: {t_build2 / t_refresh:.0f}x)", flush=True)


if __name__ == "__main__":
    main()
