"""Recall-vs-scanned-fraction sweep for ivf_pq_topk (VERDICT r10
directive #4): measure the IVF+PQ row's recall curve as the probe set
widens, on BOTH the real (random/untrained) embeddings tables and a
deterministic CLUSTERED synthetic corpus, to prove where the sf0.1
recall-0.32 reading comes from.

The claim under test: on untrained random embeddings the axis-sign
coarse lists are distance-UNCORRELATED, so recall ~= scanned fraction
(probing p of 2^n_bits lists finds ~p/16 of the true neighbors); on
clustered embeddings (what a trained embedding model produces) the
same index concentrates each cluster into one orthant and recall at
the default 5/16 scanned fraction approaches 1.0.

Usage:
    python scripts/ann_recall_sweep.py [sf_dir ...]

Prints one JSON line per (corpus, probe-set) with scanned fraction,
recall (mean in_exact_topk over the k*|Q| hits) and wall seconds;
results are recorded in BASELINE.md next to the ann_ivf_pq_search row.
"""

from __future__ import annotations

import itertools
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from hustle_spark.session import get_session  # noqa: E402
from hustle_spark.operators import similarity  # noqa: E402
from hustle_spark.util import release  # noqa: E402

N_BITS = 4

# Probe sets, widening by Hamming radius around the query's own list:
# radius 0 = 1/16 of the corpus scanned, radius 1 = 5/16 (the
# registered row's default), radius 2 = 11/16, all lists = 16/16.
PROBE_SETS = {
    "hamming0": [0],
    "hamming1": [0] + [1 << b for b in range(N_BITS)],
    "hamming2": [0]
    + [1 << b for b in range(N_BITS)]
    + [(1 << a) | (1 << b) for a, b in itertools.combinations(range(N_BITS), 2)],
    "all": list(range(1 << N_BITS)),
}


def clustered_corpus(spark, n_rows: int = 2000, dim: int = 64, n_clusters: int = 16):
    """Deterministic clustered synthetic: row i belongs to cluster
    i % 16; the cluster center's SIGN pattern in the first 4 dims is
    the cluster id's bit pattern (so a trained-embedding geometry:
    near neighbors share an orthant), remaining dims carry a
    deterministic per-cluster ramp plus a small per-row jitter that
    never crosses a sign boundary. Pure SQL expressions — no RNG, no
    driver-side data."""
    c = F.col("vec_id") % n_clusters
    # center components: dims 0..3 are +/-8 by the cluster's bit; dims
    # 4+ are a per-cluster ramp in [-4, 4]; jitter is +/-0.5 by row
    jitter = (F.col("vec_id") % 7).cast("double") / 7.0 - 0.5
    dims = []
    for j in range(dim):
        if j < 4:
            bit = (c.bitwiseAND(F.lit(1 << (3 - j))) > 0)
            center = F.when(bit, F.lit(8.0)).otherwise(F.lit(-8.0))
        else:
            center = ((c * (j + 3)) % 9).cast("double") - 4.0
        dims.append((center + jitter).cast("float"))
    return spark.range(n_rows).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )


def sweep(spark, corpus, label: str, k: int = 5):
    qs = corpus.filter(F.col("vec_id") < 5)
    out = []
    for name, flips in PROBE_SETS.items():
        t0 = time.time()
        rows = similarity.ivf_pq_topk(
            corpus, qs, k=k, probe_flips=flips
        ).collect()
        wall = time.time() - t0
        release()
        rec = {
            "corpus": label,
            "probes": name,
            "scanned_fraction": round(len(flips) / (1 << N_BITS), 4),
            "recall": round(
                sum(1 for r in rows if r.in_exact_topk) / max(len(rows), 1), 4
            ),
            "hits": len(rows),
            "wall_sec": round(wall, 2),
        }
        out.append(rec)
        print(json.dumps(rec), flush=True)
    return out


def refine_leg(spark, corpus, label: str, k: int = 5):
    """Attribution leg: with ALL lists probed (scanned fraction 1.0),
    recall is limited only by the ADC shortlist width — widening
    refine_mult until the shortlist covers the probe set must drive
    recall to 1.0 (the rerank is exact int8 L2). Separates the
    coarse-list limiter from the PQ-shortlist limiter."""
    qs = corpus.filter(F.col("vec_id") < 5)
    for mult in (8, 40, 200):
        t0 = time.time()
        rows = similarity.ivf_pq_topk(
            corpus, qs, k=k, probe_flips=PROBE_SETS["all"], refine_mult=mult
        ).collect()
        wall = time.time() - t0
        release()
        print(json.dumps({
            "corpus": label,
            "probes": "all",
            "refine_mult": mult,
            "recall": round(
                sum(1 for r in rows if r.in_exact_topk) / max(len(rows), 1), 4
            ),
            "wall_sec": round(wall, 2),
        }), flush=True)


def main():
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup
    for sf_dir in sf_dirs:
        corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        label = f"random:{sf_dir.rstrip('/').split('/')[-1]}"
        sweep(spark, corpus, label)
        refine_leg(spark, corpus, label)
    sweep(spark, clustered_corpus(spark), "clustered-synthetic:2000x64")


if __name__ == "__main__":
    main()
