"""Scale stress: synthesize 10M events + 100k docs (in .scratch) and
time the shuffle-heavy operators. This is the 'would it survive 100x'
check — we look for superlinear blowups (candidate-pair explosions,
per-row Python, full sorts) rather than absolute numbers.

    python scripts/stress.py [n_events] [n_docs]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from hustle_spark.session import get_session
from hustle_spark.util import release

SCRATCH = Path("/root/repo/.scratch/stress")


def gen(spark, n_events: int, n_docs: int):
    ev_path = SCRATCH / f"events_{n_events}"
    doc_path = SCRATCH / f"docs_{n_docs}"
    if not ev_path.exists():
        n_users = max(n_events // 50, 1)
        (
            spark.range(n_events)
            .select(
                F.col("id").alias("event_id"),
                F.timestamp_micros(
                    (F.lit(1704067200_000_000) + (F.xxhash64("id") % (30 * 86400_000_000)))
                ).alias("ts"),
                (F.abs(F.xxhash64("id", F.lit(1))) % n_users).alias("user_id"),
                F.element_at(
                    F.array(*[F.lit(x) for x in ["click", "view", "purchase", "signup", "error"]]),
                    (F.abs(F.xxhash64("id", F.lit(2))) % 5 + 1).cast("int"),
                ).alias("event_type"),
                (F.abs(F.xxhash64("id", F.lit(3))) % 50000 / 100.0).alias("value"),
            )
            .write.mode("overwrite").parquet(str(ev_path))
        )
    if not doc_path.exists():
        vocab = [f"w{i}" for i in range(60)]
        (
            spark.range(n_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(
                            F.array(*[F.lit(w) for w in vocab]),
                            (F.abs(F.xxhash64("id", F.lit(i))) % 60 + 1).cast("int"),
                        )
                        for i in range(80)
                    ],
                ).alias("text"),
                F.concat(F.lit("src"), (F.col("id") % 200).cast("string")).alias("source"),
            )
            .write.mode("overwrite").parquet(str(doc_path))
        )
    return spark.read.parquet(str(ev_path)), spark.read.parquet(str(doc_path))


def timed(label, thunk):
    t0 = time.time()
    n = thunk()
    dt = time.time() - t0
    print(f"  {label:34s} {dt:7.1f}s   ({n} rows)")
    return dt


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across completed stages (UI REST API)."""
    import json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def _near_dup_buckets(df, dim, n_tables, bits_per_table, with_vec):
    from hustle_spark.operators.similarity import lsh_signatures

    sig = lsh_signatures(df, dim, "embedding", n_tables, bits_per_table, 42, "numpy")
    cols = [F.col("vec_id").alias("id")] + ([F.col("embedding").alias("v")] if with_vec else [])
    return sig.select(
        *cols,
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__sig_{t}").alias("s")) for t in range(n_tables)])
        ).alias("bucket"),
    )


def _near_dup_pairs_fat(df, dim, threshold, n_tables, bits_per_table):
    """Pre-round-4 shape: fat distinct over rows carrying BOTH embeddings
    (the A/B control for the shuffle-bytes measurement below)."""
    from hustle_spark.operators.similarity import cosine

    buckets = _near_dup_buckets(df, dim, n_tables, bits_per_table, with_vec=True)
    l, r = buckets.alias("L"), buckets.alias("R")
    cand = (
        l.join(r, (F.col("L.bucket") == F.col("R.bucket")) & (F.col("L.id") < F.col("R.id")))
        .select(
            F.col("L.id").alias("a"),
            F.col("R.id").alias("b"),
            F.col("L.v").alias("va"),
            F.col("R.v").alias("vb"),
        )
        .distinct()
    )
    return cand.select("a", "b", cosine(F.col("va"), F.col("vb")).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def _near_dup_pairs_rejoin(df, dim, threshold, n_tables, bits_per_table):
    """The REJECTED round-4 alternative: id-only bucket join, distinct
    bare (a, b) pairs, then re-join both vector columns. Looks skinny
    but the re-join shuffles one vector per CANDIDATE row — worse than
    the bucket join whenever candidates/row > n_tables (which this
    measurement demonstrates)."""
    from hustle_spark.operators.similarity import cosine

    buckets = _near_dup_buckets(df, dim, n_tables, bits_per_table, with_vec=False)
    l, r = buckets.alias("L"), buckets.alias("R")
    pairs = (
        l.join(r, (F.col("L.bucket") == F.col("R.bucket")) & (F.col("L.id") < F.col("R.id")))
        .select(F.col("L.id").alias("a"), F.col("R.id").alias("b"))
        .distinct()
    )
    va = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    vb = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    return (
        pairs.join(va, "a")
        .join(vb, "b")
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def emb768():
    """A/B the round-4 ids-first near-dup candidate shape against the old
    fat-shuffle shape at production vector width (768-dim): the claim is
    the candidate-generation shuffle drops from O(n_tables x vector
    bytes) to O(id bytes).  python scripts/stress.py emb768 [n_vec]"""
    from hustle_spark.operators import similarity

    n_vec = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    spark = get_session(app_name="stress-emb768", extra_conf={"spark.ui.enabled": "true"})
    # force the candidate self-join through a real exchange (the thing
    # being measured); AQE would otherwise broadcast one side at this SF
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    emb_path = SCRATCH / f"emb768_{n_vec}"
    if not emb_path.exists():
        (
            spark.range(n_vec)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(767)),
                    lambda i: (F.abs(F.xxhash64(F.col("id"), i)) % 2000 - 1000) / 1000.0,
                ).alias("embedding"),
            )
            .write.mode("overwrite").parquet(str(emb_path))
        )
    emb = spark.read.parquet(str(emb_path))
    kw = dict(dim=768, threshold=0.8, n_tables=4, bits_per_table=12)
    print(f"emb768 near-dup shuffle A/B: {n_vec:,} vectors x 768 dims, {kw}")
    # untimed warmup so the first measured variant doesn't eat JVM/codegen
    # warmup + page-cache priming (order bias)
    similarity.embedding_near_dup_pairs(emb, signature_method="numpy", **kw).count()
    for label, thunk in [
        ("fat distinct (pre-round-4)", lambda: _near_dup_pairs_fat(emb, **kw).count()),
        ("ids-first + vector re-join (rejected)", lambda: _near_dup_pairs_rejoin(emb, **kw).count()),
        ("score-at-join, scalar distinct (SHIPPED)", lambda: similarity.embedding_near_dup_pairs(
            emb, signature_method="numpy", **kw).count()),
    ]:
        b0 = _shuffle_write_bytes(spark)
        t0 = time.time()
        n = thunk()
        dt = time.time() - t0
        db = _shuffle_write_bytes(spark) - b0
        print(f"  {label:42s} {dt:6.1f}s  shuffle-write {db / 1e6:10.1f} MB  ({n} pairs)")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "emb768":
        emb768()
        return
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    spark = get_session(app_name="stress", extra_conf={"spark.ui.enabled": "false"})
    ev, docs = gen(spark, n_events, n_docs)
    print(f"stress: {n_events:,} events, {n_docs:,} docs, {spark.sparkContext.defaultParallelism} cores")

    from hustle_spark.operators.sessionize import session_stats
    from hustle_spark.operators.asof import asof_join
    from hustle_spark.operators.rangejoin import range_join
    from hustle_spark.operators import dedup
    from hustle_spark.streaming.windows import tumbling_window_agg

    timed("groupBy agg (tumbling hour)", lambda: tumbling_window_agg(ev).count())
    timed("sessionize 10M", lambda: session_stats(ev, "user_id", "ts").count())

    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts")
    timed("asof join (2M x 2M)", lambda: asof_join(purchases, signups, on="user_id", left_ts="ts", right_ts="ts", right_cols=[]).count())

    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    timed("range join +/-5min", lambda: range_join(purchases, errors, on="user_id", left_ts="ts", right_ts="ts").count())

    timed("exact dedup (digest groupBy)", lambda: dedup.exact_dedup(docs, ["text"], keep_by="doc_id").count())
    timed("simhash fingerprints 100k", lambda: dedup.simhash(docs).count())
    timed("simhash near pairs 100k", lambda: dedup.simhash_near_pairs(docs, max_hamming=3, chunks=4).count())
    timed("minhash signatures 100k", lambda: dedup.minhash_signatures(docs).count())
    timed("minhash LSH pairs 100k", lambda: dedup.minhash_lsh_pairs(docs, threshold=0.5).count())
    timed("winnow fingerprints 100k", lambda: dedup.winnowing_fingerprints(docs).count())
    from hustle_spark.functions.text import drop_boilerplate_paragraphs

    # give the single-line synthetic docs paragraph structure first
    para_docs = docs.select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+\s+){7}\S+)\s+", "$1\n").alias("text"),
    )
    timed("boilerplate para dedup 100k (1M paras)", lambda: drop_boilerplate_paragraphs(
        para_docs, max_df=1000).agg(F.sum("n_paras")).count())
    timed("dedup_pipeline 100k (LSH+CC+canonical)", lambda: dedup.dedup_pipeline(
        docs, threshold=0.5).filter("is_kept").count())
    # max_df guard on: the synthetic 60-word vocab makes many grams
    # near-ubiquitous, the exact boilerplate regime the cap exists for
    timed("containment pairs 100k (max_df=50)", lambda: dedup.containment_pairs(
        docs, threshold=0.8, min_shared=2, max_df=50).count())

    # round-4 late additions: versioning analytics + BPE loop
    from hustle_spark.functions.text import bpe_learn_merges, padding_waste_by_bucket
    from hustle_spark.operators.snapshot import snapshot_diff, vocab_drift

    timed("padding waste buckets 100k", lambda: padding_waste_by_bucket(docs)
          .agg(F.sum("pad_waste")).count())
    v2 = docs.filter(F.col("doc_id") % 17 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 5,
               F.concat(F.col("text"), F.lit(" mutated"))).otherwise(F.col("text")),
    )
    timed("snapshot diff 100k", lambda: snapshot_diff(docs, v2)
          .groupBy("status").count().count())
    timed("vocab drift 100k", lambda: vocab_drift(docs, v2)
          .agg(F.sum("drift_abs")).count())

    def bpe3():
        merges, final = bpe_learn_merges(docs, n_merges=3)
        release([final])
        return len(merges)

    timed("BPE 3 merge rounds 100k", bpe3)

    # embedding similarity at 200k x 64-dim
    from hustle_spark.operators import similarity

    n_vec = 200_000
    emb_path = SCRATCH / f"emb_{n_vec}"
    if not emb_path.exists():
        (
            spark.range(n_vec)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda i: (F.abs(F.xxhash64(F.col("id"), i)) % 2000 - 1000) / 1000.0,
                ).alias("embedding"),
            )
            .write.mode("overwrite").parquet(str(emb_path))
        )
    emb = spark.read.parquet(str(emb_path))
    q10 = emb.filter(F.col("vec_id") < 10)
    timed("cosine topk exact (10 q x 200k)", lambda: similarity.cosine_topk(emb, q10, k=5).count())
    timed("ann topk LSH (10 q x 200k)", lambda: similarity.ann_topk(emb, q10, dim=64, k=5).count())
    timed("random projection 200k x 64->8", lambda: similarity.random_projection(
        emb, dim=64, out_dim=8).select(
        F.aggregate("proj_e6", F.lit(0).cast("long"), lambda a, x: a + x).alias("s")
    ).agg(F.sum("s")).count())

    # connected components at 10M edges with LONG chains: pointer
    # jumping must converge in O(log diameter) iterations, not
    # O(diameter) — a chain of length 1000 in ~10-12 iterations, where
    # naive propagation needs ~1000. (VERDICT r2 #7)
    chain_len = 1000
    n_chain_nodes = n_events  # one edge per node (minus chain ends)
    chain_edges = (
        spark.range(n_chain_nodes)
        .filter((F.col("id") % chain_len) != chain_len - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    cc_stats: dict = {}
    t0 = time.time()
    n_clusters = (
        dedup.connected_components(chain_edges, max_iterations=30, stats=cc_stats)
        .select("cluster_id").distinct().count()
    )
    dt = time.time() - t0
    expect = n_chain_nodes // chain_len
    import math
    log_bound = math.ceil(math.log2(chain_len)) + 3
    ok = cc_stats["converged"] and cc_stats["iterations"] <= log_bound and n_clusters == expect
    print(
        f"  CC 10M-edge long chains: {n_clusters} clusters (expect {expect}), "
        f"{cc_stats['iterations']} iterations (log2({chain_len})+3 bound={log_bound}), "
        f"{dt:.1f}s  {'OK' if ok else '** FAILED O(log n) convergence **'}"
    )
    release()

    # pathological skew: 30% of events on ONE user joined to a per-user dim
    from hustle_spark.plans import salted_join

    # Warm-repeat protocol (cold first runs absorb codegen/page-cache
    # and reverse the verdict — round-4 lesson): each leg runs twice,
    # second timed. Two skew levels: at 30%-hot the single hot task
    # still fits core throughput and salting is ~neutral; at 90%-hot
    # salting wins while AQE skew-split barely triggers at these
    # absolute partition sizes (r4 warm readings: 30% — plain 2.4s,
    # salt 2.2s, AQE 2.3s; 90% — plain 3.7s, salt 2.2s [1.69x],
    # AQE 3.6s [1.04x]). That is salted_join's documented contract:
    # the tool for skew BEYOND what AQE handles.
    def warm_timed(label, thunk):
        thunk()
        return timed(label, thunk)

    for pct in (3, 9):  # 30% / 90% of rows on ONE key
        skewed = ev.withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 < pct, F.lit(0)).otherwise(F.col("user_id")),
        ).select("user_id", "value")
        dim = ev.select("user_id").distinct().withColumn("w", F.col("user_id") % 7)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t_plain = warm_timed(
            f"{pct*10}%-hot join, no mitigation",
            lambda: skewed.join(dim, "user_id").groupBy("w").count().count(),
        )
        t_salt = warm_timed(
            f"{pct*10}%-hot salted (salt=16)",
            lambda: salted_join(skewed, dim, key="user_id", salt=16)
            .groupBy("w").count().count(),
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        t_aqe = warm_timed(
            f"{pct*10}%-hot AQE skew-split",
            lambda: skewed.join(dim, "user_id").groupBy("w").count().count(),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        print(
            f"  {pct*10}%-hot: salting {t_plain / max(t_salt, 1e-9):.2f}x "
            f"vs unmitigated; AQE alone {t_plain / max(t_aqe, 1e-9):.2f}x"
        )


if __name__ == "__main__":
    main()
