#!/usr/bin/env python3
"""Connected-components regime comparison at scale.

dedup_group_assign's 1000x row (SCALE.md: 434.9s) is ~81% pair
computation (ngram_jaccard alone: 353.3s); this script isolates the
CC step to grade the iteration algorithms on their own:

1. REAL pairs: ngram_jaccard_pairs over the sf100 derivative (the
   2.56M-edge set that crossed the distributed threshold), written
   once to parquet, then each regime timed on the same file —
   alternating large-star/small-star vs the driver union-find
   reference (forced past its 1M ceiling for the comparison;
   assignment checksums must agree).
2. ADVERSARIAL shape: deep chain components (where O(diameter)
   label propagation fails and the star algorithm converges in
   O(log n) rounds) — 2,000 chains x 2,500 nodes = 5M nodes / ~5M
   edges, diameter 2,500.

The committed SCALE_RUN_CC.json also carries the min-label legs of
the run that retired that regime.

Emits one JSON line per (graph, regime) with wall, rounds, label
checksum; summary JSON to SPARK_GRAFT_SCALE_JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_BIG = os.environ.get("SPARK_GRAFT_SCALE_OUT", "/root/repo/.scale/sf100")
PAIRS_PARQUET = os.environ.get(
    "SPARK_GRAFT_CC_PAIRS", "/root/repo/.scale/cc_pairs_sf100.parquet")
OUT_JSON = os.environ.get("SPARK_GRAFT_SCALE_JSON",
                          "/root/repo/SCALE_RUN_CC.json")
# hot-gram df cap for the materialized pair graph: "100" (default,
# the capped production config) or "none" (the capless graph
# dedup_group_assign actually builds — 10x more edges at sf100)
MAXDF = os.environ.get("SPARK_GRAFT_CC_MAXDF", "100")
SKIP_CHAINS = os.environ.get("SPARK_GRAFT_CC_SKIP_CHAINS", "") == "1"


def _checksum(labels) -> dict:
    """Order-independent assignment fingerprint: identical label
    frames => identical checksums."""
    from pyspark.sql import functions as F  # noqa: N812

    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("group_id").alias("groups"),
        F.bit_xor(F.xxhash64("doc_id", "group_id")).alias("h")).collect()[0]
    return {"n": row["n"], "groups": row["groups"], "h": row["h"]}


def main() -> None:
    from pyspark.sql import functions as F  # noqa: N812

    from deltalake_poc_spark.pipeline import dedup
    from deltalake_poc_spark.session import EngineConfig, get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(EngineConfig(
        app_name="scale-cc", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus)))
    results = []

    # ---- graph 1: the real sf100 near-dup pair set -------------------
    if not os.path.exists(PAIRS_PARQUET):
        from deltalake_poc_spark.pipeline.dedup import ngram_jaccard_pairs
        docs = spark.read.parquet(os.path.join(SF_BIG, "documents.parquet"))
        t0 = time.time()
        max_df = None if MAXDF.lower() in ("", "none") else int(MAXDF)
        (ngram_jaccard_pairs(docs, threshold=0.15, max_df=max_df)
         .write.mode("overwrite").parquet(PAIRS_PARQUET))
        print(json.dumps({"step": "pairs_materialize",
                          "wall_s": round(time.time() - t0, 1)}), flush=True)
    real = spark.read.parquet(PAIRS_PARQUET)
    n_real = real.count()

    def run(tag, pairs, regime, **kw):
        t0 = time.time()
        try:
            labels = dedup.connected_components(pairs, **kw)
            chk = _checksum(labels)
            err = None
        except ValueError as exc:
            chk, err = None, str(exc)[:120]
        rec = {"graph": tag, "regime": regime,
               "wall_s": round(time.time() - t0, 1),
               "rounds": dedup.LAST_CC_INFO.get("rounds"),
               "checksum": chk, "err": err}
        print(json.dumps(rec), flush=True)
        results.append(rec)
        return rec

    run("sf100_real", real, "union-find",
        driver_threshold=1 << 40)
    run("sf100_real", real, "star", driver_threshold=0)

    # ---- graph 2: deep chains (adversarial for label propagation) ----
    if SKIP_CHAINS:
        with open(OUT_JSON, "w") as f:
            json.dump({"edges_real": n_real, "results": results}, f,
                      indent=1)
        print("wrote", OUT_JSON, flush=True)
        return
    n_chains, chain_len = 2000, 2500
    chain = (spark.range(0, n_chains * chain_len, 1, int(cpus))
             .select(F.col("id").alias("doc_a"),
                     (F.col("id") + 1).alias("doc_b"))
             .filter((F.col("id") + 1) % chain_len != 0))
    run("chains_5M", chain, "star", driver_threshold=0,
        max_iterations=40)
    run("chains_5M", chain, "union-find",
        driver_threshold=1 << 40)

    with open(OUT_JSON, "w") as f:
        json.dump({"edges_real": n_real, "results": results}, f, indent=1)
    print("wrote", OUT_JSON, flush=True)


if __name__ == "__main__":
    main()
