"""LLM-pipeline dedup at millions of documents (round 8, VERDICT r7 #3).

The ANN stack has 10M x 64 and 3M x 768 scale evidence; this probe gives
the dedup/corpus family the same: MinHash-LSH pair generation + star
connected components + the fused curation pipeline at >= 5M documents,
with docs/sec AND per-phase shuffle bytes (the number that predicts
100 TB behavior — a dedup pass whose shuffle grows super-linearly in
docs is a non-starter at crawl scale).

Corpus design: the bench's replicate-with-salt scheme is quadratic in
the copy count (every copy of a doc pairs with every other — x1000
replication would emit C(1000,2) pairs per base doc), so this probe
generates documents EXECUTOR-SIDE with bounded duplicate-group sizes,
the shape of a real crawl: per group gid, 70% singletons / 20% pairs /
10% quadruplets of 120 hash-word documents whose variants perturb the
trailing 8 words (shingle Jaccard ~0.84, well above the 0.5 tau; LSH
detection probability ~0.9999 at 16 hashes / 8 bands). Nothing scales
with n on the driver.

Usage: python tools/dedup_scale_probe.py [n_groups] [scale_ratio]
  default n_groups=3_400_000 -> 5.1M docs at the big point, plus a
  n_groups/4 point for the linearity ratio (expect ~4x wall at 4x docs).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

G_BIG = int(sys.argv[1]) if len(sys.argv) > 1 else 3_400_000
RATIO = int(sys.argv[2]) if len(sys.argv) > 2 else 4
WORDS, PERTURB, VOCAB = 120, 8, 30_000


def _shuffle_totals(spark) -> dict:
    """Cumulative shuffle/input bytes across completed stages (UI REST)."""
    try:
        app = spark.sparkContext.applicationId
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://localhost:{port}/api/v1/applications/{app}/stages?status=complete"
        stages = json.load(urllib.request.urlopen(url, timeout=10))
        return {
            "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "input": sum(s.get("inputBytes", 0) for s in stages),
        }
    except Exception as e:  # UI disabled / race: report walls only
        print(f"# stage-metric read failed: {e}", file=sys.stderr)
        return {"shuffle_read": 0, "shuffle_write": 0, "input": 0}


def corpus(spark, n_groups: int):
    """(doc_id, text) with bounded dup groups, generated on executors."""
    from pyspark.sql import functions as F

    g = spark.range(n_groups).select(F.col("id").alias("gid"))
    copies = (
        F.when(F.col("gid") % 10 < 7, 1)
        .when(F.col("gid") % 10 < 9, 2)
        .otherwise(4)
    )
    docs = g.select(
        "gid", F.explode(F.sequence(F.lit(0), copies - 1)).alias("v")
    )
    # word i of variant v: stable per (gid, i) for the shared prefix,
    # keyed by v for the perturbed tail — base-36 hash words from a
    # ~VOCAB vocabulary give realistic shingle diversity
    word = (
        "conv(abs(hash(gid * 7919 + i, "
        f"case when i > {WORDS - PERTURB} then v else 0 end)) % {VOCAB}, 10, 36)"
    )
    return docs.select(
        (F.col("gid") * 8 + F.col("v")).alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(1, {WORDS}), "
            f"(i, _) -> {word}))"
        ).alias("text"),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from mindb_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from mindb_spark.operators.dedup import dedup_exact_survivors
    from mindb_spark.operators.textops import language_columns, quality_columns
    from mindb_spark.session import get_spark

    spark = get_spark("dedup-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_groups": G_BIG, "points": {}}

    for g in (G_BIG // RATIO, G_BIG):
        docs = corpus(spark, g).localCheckpoint()  # data prep out of timing
        n_docs = docs.count()
        point: dict = {"docs": n_docs}

        base = _shuffle_totals(spark)
        t0 = time.time()
        pairs = minhash_lsh_pairs(
            docs, 0.5, k=3, num_hashes=16, n_bands=8
        ).localCheckpoint()
        n_pairs = pairs.count()
        dt = time.time() - t0
        after = _shuffle_totals(spark)
        point["minhash"] = {
            "pairs": n_pairs,
            "sec": round(dt, 1),
            "docs_per_sec": round(n_docs / dt),
            "shuffle_write_gb": round(
                (after["shuffle_write"] - base["shuffle_write"]) / 2**30, 2
            ),
            "shuffle_read_gb": round(
                (after["shuffle_read"] - base["shuffle_read"]) / 2**30, 2
            ),
        }
        print(f"# g={g}: minhash {point['minhash']}", file=sys.stderr)

        base = after
        t0 = time.time()
        stats: dict = {}
        n_nodes = connected_components(pairs, stats=stats).count()
        dt = time.time() - t0
        after = _shuffle_totals(spark)
        point["components"] = {
            "nodes": n_nodes,
            "rounds": stats.get("rounds"),
            "sec": round(dt, 1),
            "nodes_per_sec": round(n_nodes / dt),
            "shuffle_write_gb": round(
                (after["shuffle_write"] - base["shuffle_write"]) / 2**30, 2
            ),
        }
        print(f"# g={g}: components {point['components']}", file=sys.stderr)

        # fused curation pipeline (lang-ID + quality + exact dedup +
        # rollup) over the same corpus — the linear-scan family's number
        base = after
        t0 = time.time()
        lang, qual = language_columns("text"), quality_columns("text")
        kept = dedup_exact_survivors(docs, id_col="doc_id").select(
            lang["detected_lang"].alias("detected_lang"),
            qual["quality_score"].alias("quality_score"),
            qual["n_tokens"].alias("n_tokens"),
        )
        kept.groupBy("detected_lang").agg(
            F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tok")
        ).collect()
        dt = time.time() - t0
        after = _shuffle_totals(spark)
        point["curation"] = {
            "sec": round(dt, 1),
            "docs_per_sec": round(n_docs / dt),
            "shuffle_write_gb": round(
                (after["shuffle_write"] - base["shuffle_write"]) / 2**30, 2
            ),
        }
        print(f"# g={g}: curation {point['curation']}", file=sys.stderr)
        out["points"][f"g{g}"] = point
        docs.unpersist()
        pairs.unpersist()
        spark.catalog.clearCache()

    small, big = out["points"].values()
    out["docs_ratio"] = round(big["docs"] / small["docs"], 2)
    out["minhash_time_ratio"] = round(
        big["minhash"]["sec"] / small["minhash"]["sec"], 2
    )
    out["components_time_ratio"] = round(
        big["components"]["sec"] / small["components"]["sec"], 2
    )
    out["curation_time_ratio"] = round(
        big["curation"]["sec"] / small["curation"]["sec"], 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
