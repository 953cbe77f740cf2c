"""Scale-path stress: IVF and HNSW ANN over a self-generated corpus.

Synthesizes N vectors Spark-side (no driver materialization — the
corpus exists only as a `range` + hash-expression projection), builds
the persisted partition-pruned IVF index and the sharded HNSW graph,
probes both with a query subset, and reports wall times + recall@10
against the exact brute-force top-k. This is the evidence run for
PERF.md's claim that the ANN tiers survive a 1M-vector corpus: the
only driver-side collects are centroids (k×dim), the query set, and
the final top-k rows.

Usage: python tools/stress_ann.py [n_vecs] [--hnsw]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.hnsw import (
    hnsw_build,
    hnsw_persist,
    hnsw_topk,
)
from etl_sentinel_imagery_spark.operators.similarity import (
    brute_force_topk_gemm,
    ivf_topk_indexed,
    write_ivf_index,
)
from etl_sentinel_imagery_spark.session import get_spark

DIM = 64
K_CENTROIDS = 64
N_PROBE = 8
N_QUERIES = 64
TOP_K = 10


def synth_vectors(spark, n: int):
    """Deterministic corpus: component j of vector i is a hash-mixed
    value in [-1, 1) — no RNG, no driver materialization."""
    comp = lambda j: (
        F.pmod(F.xxhash64(F.col("id"), j), F.lit(100_000)) / 50_000.0 - 1.0
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)), comp
        ).alias("embedding"),
    )


def recall_at_k(approx_rows, exact_rows, k=TOP_K):
    ex: dict[int, set] = {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["cand_id"])
    ap: dict[int, set] = {}
    for r in approx_rows:
        ap.setdefault(r["query_id"], set()).add(r["cand_id"])
    hits = sum(len(ap.get(q, set()) & cands) for q, cands in ex.items())
    return hits / sum(len(c) for c in ex.values())


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    do_hnsw = "--hnsw" in sys.argv
    # the bench keeps the deliberately small default heap (see
    # session.py); a million-vector sort genuinely spills past 1g, so
    # this tool sets the documented override unless the caller did
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("stress_ann", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    out: dict = {"n_vecs": n, "dim": DIM, "cpus": cpus}

    corpus = synth_vectors(spark, n)
    queries = synth_vectors(spark, N_QUERIES)  # ids 0..Q-1 ⊂ corpus ids

    t0 = time.time()
    exact = brute_force_topk_gemm(corpus, queries, k=TOP_K).collect()
    out["brute_force_s"] = round(time.time() - t0, 2)

    cent = np.stack(
        [
            np.asarray(r["embedding"], dtype="float64")
            # spread centroid seeds across the id range, not the first k
            for r in corpus.where(
                F.col("vec_id") % max(n // K_CENTROIDS, 1) == 0
            ).limit(K_CENTROIDS).collect()
        ]
    )
    tmp = tempfile.mkdtemp(prefix="stress_ann_")
    try:
        ivf_path = os.path.join(tmp, "ivf")
        t0 = time.time()
        write_ivf_index(corpus, cent, ivf_path)
        out["ivf_build_s"] = round(time.time() - t0, 2)
        t0 = time.time()
        approx = ivf_topk_indexed(
            spark, ivf_path, queries, cent, k=TOP_K, n_probe=N_PROBE
        ).collect()
        out["ivf_probe_s"] = round(time.time() - t0, 2)
        out["ivf_recall_at_10"] = round(recall_at_k(approx, exact), 4)

        # binary tier: 1-bit/dim Hamming shortlist + exact rerank — the
        # cheapest corpus-wide scan (XOR+popcount on 2 longs per vector)
        t0 = time.time()
        from etl_sentinel_imagery_spark.operators.similarity import (
            hamming_topk,
        )

        ham = hamming_topk(
            corpus,
            F.col("vec_id") < N_QUERIES,
            k=TOP_K,
            shortlist=8 * TOP_K,
        ).collect()
        out["hamming_scan_s"] = round(time.time() - t0, 2)
        out["hamming_recall_at_10"] = round(recall_at_k(ham, exact), 4)

        if do_hnsw:
            hnsw_path = os.path.join(tmp, "hnsw")
            t0 = time.time()
            graph = hnsw_build(corpus, n_shards=cpus)
            hnsw_persist(graph, hnsw_path)
            out["hnsw_build_s"] = round(time.time() - t0, 2)
            graph_df = spark.read.parquet(hnsw_path)
            for ef in (48, 192):
                t0 = time.time()
                h = hnsw_topk(
                    corpus,
                    graph_df,
                    range(N_QUERIES),
                    k=TOP_K,
                    ef_search=ef,
                    n_shards=cpus,
                ).collect()
                out[f"hnsw_probe_s_ef{ef}"] = round(time.time() - t0, 2)
                out[f"hnsw_recall_at_10_ef{ef}"] = round(
                    recall_at_k(h, exact), 4
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
