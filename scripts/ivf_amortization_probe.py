"""Measure the IVF+PQ build/search split's amortization claim
(VERDICT r12 directive #5): the one-shot ``ivf_pq_topk`` row prices a
full index build into EVERY call, while the split API
(``build_ivf_pq_index`` once + ``ivf_pq_search`` per batch) pays the
corpus-pass cost once and answers every later query batch from the two
cached frames. This probe turns that claim into numbers at sf0.1:

- ``build_sec``: wall seconds for build_ivf_pq_index + materializing
  both index frames (the corpus-pass cost).
- ``search_sec``: wall seconds per ivf_pq_search batch (5 disjoint
  query vectors each), for ``--batches`` batches (default 4) against
  the ONE built index.
- ``oneshot_sec``: wall seconds for ivf_pq_topk on the same query
  shape (median of the same number of calls) — what the same batches
  cost WITHOUT the split.
- ``amortized_ratio``: oneshot_total / (build + sum(search)) — >1
  means the split wins at this batch count; the crossover batch count
  is build_sec / (oneshot_sec - search_sec) when search < oneshot.

Usage: python scripts/ivf_amortization_probe.py [--batches N]
       (env: SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from hustle_spark.session import get_session  # noqa: E402
from hustle_spark.catalog import Catalog  # noqa: E402
from hustle_spark.operators import similarity  # noqa: E402
from hustle_spark.util import release  # noqa: E402


def main() -> None:
    batches = 4
    if "--batches" in sys.argv:
        batches = int(sys.argv[sys.argv.index("--batches") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(
        app_name="ivf-amortization-probe",
        extra_conf={"spark.ui.enabled": "false"},
    )
    cat = Catalog(spark, sf_dir, scratch="/root/repo/.scratch/ivf_amort")
    corpus = cat.table("embeddings").df.select("vec_id", "embedding")

    # JVM/scan warmup so build_sec measures the index, not the session
    corpus.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    idx = similarity.build_ivf_pq_index(corpus)
    # build contract: the two frames are eager checkpoints, so the
    # build already paid the corpus pass; the noop writes read them
    # back (kept so build_sec stays comparable with earlier runs)
    idx["listed"].write.format("noop").mode("overwrite").save()
    idx["centroids"].write.format("noop").mode("overwrite").save()
    build_sec = round(time.perf_counter() - t0, 4)

    # per-path warm-up, DISCARDED (the bench.py cold-run protocol):
    # the first call on each path pays Python-worker spin-up and
    # whole-stage codegen compilation; timing it into the amortization
    # comparison conflates JVM warm-up with the index cost
    warm = corpus.filter(
        (corpus.vec_id >= 1900) & (corpus.vec_id < 1905)
    )
    similarity.ivf_pq_search(idx, warm, k=5).write.format("noop").mode(
        "overwrite"
    ).save()

    search_secs = []
    for b in range(batches):
        qs = corpus.filter(
            (corpus.vec_id >= 5 * b) & (corpus.vec_id < 5 * (b + 1))
        )
        t0 = time.perf_counter()
        similarity.ivf_pq_search(idx, qs, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        search_secs.append(round(time.perf_counter() - t0, 4))
    release([idx["listed"], idx["centroids"]])

    similarity.ivf_pq_topk(corpus, warm, k=5).write.format("noop").mode(
        "overwrite"
    ).save()
    oneshot_secs = []
    for b in range(batches):
        qs = corpus.filter(
            (corpus.vec_id >= 5 * b) & (corpus.vec_id < 5 * (b + 1))
        )
        t0 = time.perf_counter()
        similarity.ivf_pq_topk(corpus, qs, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        oneshot_secs.append(round(time.perf_counter() - t0, 4))

    split_total = round(build_sec + sum(search_secs), 4)
    oneshot_total = round(sum(oneshot_secs), 4)
    out = {
        "metric": "ivf_pq_amortization",
        "sf_dir": sf_dir,
        "batches": batches,
        "build_sec": build_sec,
        "search_sec": search_secs,
        "split_total_sec": split_total,
        "oneshot_sec": oneshot_secs,
        "oneshot_total_sec": oneshot_total,
        "amortized_ratio": round(oneshot_total / split_total, 3)
        if split_total > 0
        else None,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
