#!/usr/bin/env python3
"""Round-8 follow-up to SCALE_RUN_MB_KMEANS.json: cut the named
dominant term of the k∝n sketch regime — the single O(n·k·dim)
assignment pass (1,112 s at 2M x k=8000).

Two measurements on the fitted sf100 minibatch centroids:
1. The 'gemm' assignment pass (BLAS expansion, same brute force) vs
   the exact-order 'arrow' pass, both full-corpus, same session.
2. Agreement between the two on a deterministic 200k-row slice (the
   gemm mode's reassociation can only flip reassociation-scale
   near-ties; expected 0 disagreements).

The committed SCALE_RUN_MB_ASSIGN.json also carries the retired
two-level pruning diagnostic ("pruning_diag") from the run that
produced it.

Writes SCALE_RUN_MB_ASSIGN.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("OMP_NUM_THREADS", "1")  # 32 tasks x 1 BLAS thread
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

OUT = "/root/repo/SCALE_RUN_MB_ASSIGN.json"


def main() -> None:
    from pyspark.sql import functions as F

    from deltalake_poc_spark.pipeline import cluster as C
    from deltalake_poc_spark.session import EngineConfig, get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(EngineConfig(app_name="scale_mb_assign",
                                   master="local[32]",
                                   shuffle_partitions=32))
    emb = spark.read.parquet("/root/repo/.scale/sf100/embeddings.parquet")
    n = emb.count()
    res: dict = {"n_vectors": n, "k": 8000}

    t0 = time.time()
    cents = C.kmeans_fit_minibatch(emb, k=8000, sample_size=100_000, seed=7)
    res["minibatch_fit_sec"] = round(time.time() - t0, 1)
    print(json.dumps({"stage": "fit", **res}), flush=True)

    # 1. full-corpus assignment passes (count() forces end-to-end)
    for mode in ("gemm", "arrow"):
        t0 = time.time()
        sizes = (C.kmeans_assign(emb, cents, mode=mode)
                 .groupBy("cluster").count())
        used = sizes.count()
        res[f"assign_{mode}_sec"] = round(time.time() - t0, 1)
        res[f"clusters_used_{mode}"] = used
        print(json.dumps({"stage": mode,
                          "sec": res[f"assign_{mode}_sec"],
                          "used": used}), flush=True)

    # 2. agreement on a deterministic 200k slice
    sl = emb.filter(F.col("vec_id") % 10 == 3)
    a = C.kmeans_assign(sl, cents, mode="arrow") \
        .withColumnRenamed("cluster", "a")
    g = C.kmeans_assign(sl, cents, mode="gemm") \
        .withColumnRenamed("cluster", "g")
    j = a.join(g, "vec_id")
    res["agree_slice_rows"] = j.count()
    res["agree_disagreements"] = j.filter(F.col("a") != F.col("g")).count()
    res["speedup_gemm_vs_arrow"] = round(
        res["assign_arrow_sec"] / max(res["assign_gemm_sec"], 1e-9), 2)
    with open(OUT, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
