"""Natural-corpus scaling probe for the PAIR-EMITTING text-dedup
family (VERDICT r11 directive #3 — the SemDeDup treatment, which
turned that row's replica reading of 4.3 into a natural 1.32,
generalized from scripts/natural_semdedup_probe.py).

Why: the sf1/sf100 replica corpora copy every TEXT verbatim (or with
sparse unique-token injection), so shingle sets collide across
replicas and near-dup cliques grow as deep as the replication factor
BY CONSTRUCTION — candidate-pair stages then grow quadratically with
the factor, conflating a fixture artifact with the operator's cost
curve. No real corpus grows new 100-deep duplicate groups when it
grows 100x; it grows MORE groups at roughly the same depth.

This probe builds a text corpus shaped like real growth:

  - every replica's tokens are DECORRELATED deterministically (each
    token suffixed with the replica tag, so replica i shares zero
    3-gram shingles with replica j — independent documents, the way
    a crawl actually grows);
  - ~10% of EVERY replica's rows (base doc_id % 10 == 0) plant a
    NEAR-DUP twin inside that replica (every 25th token swapped ->
    shingle-Jaccard ~0.88, well above the 0.30/0.50 thresholds), so
    the near-dup RATE is constant across scales and the dedup has
    real, linearly growing work at every factor;
  - everything else is untouched (replica 0 IS the base corpus).

It writes each leg as documents.parquet in a scratch dir and runs the
EXACT registered chains via hustle_spark.registry.QUERIES —
zero drift from the driver-gate code. Wall medians, output-row
counts, and the ratio ladder go to one JSON line for BASELINE.md.

    python scripts/natural_dedup_probe.py [--factors=10,100] [query ...]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SRC = "/root/testdata/sf0.1"
SCRATCH = Path("/root/repo/.scratch/natdedup")
TWIN_MOD = 10   # base doc_id % 10 == 0 -> plants a near-dup twin
MUT_EVERY = 25  # twin: every 25th token swapped (J ~ 0.88)

PROBES = [
    "dedup_jaccard_minhash_agreement",
    "dedup_jaccard_ngram",
    "dedup_jaccard_clusters",
    "dedup_minhash_incremental",
    "dedup_minhash_incremental_grow",
    # appended r13: the fuzzy SoftDedup composition (guarded pair
    # stage + CC + label groupBy) — the planted constant-rate twins
    # give it real, linearly growing near-dup clusters to weight
    "dedup_soft_weights_fuzzy",
]


def build_corpus(spark, factor: int) -> str:
    """factor decorrelated replicas of the sf0.1 documents, plus a
    constant-RATE ~10% planted near-dup twin inside every replica.
    ONE explode-based plan (a per-replica union would be a
    200-branch plan at factor 100). Returns the sf_dir holding the
    leg's documents.parquet."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SRC}/documents.parquet")
    stride = int(d.agg(F.max("doc_id")).collect()[0][0]) + 1

    # decorrelate: replica i > 0 suffixes every token with its tag,
    # so replica i shares no 3-gram shingle with any other replica
    reps = d.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__i")
    ).withColumn(
        "text",
        F.when(F.col("__i") == 0, F.coalesce(F.col("text"), F.lit("")))
        .otherwise(
            F.array_join(
                F.expr(
                    "transform(split(coalesce(text, ''), '\\\\s+'), "
                    "t -> concat(t, 'x', CAST(__i AS STRING), 'q'))"
                ),
                " ",
            )
        ),
    )
    base = reps.withColumn(
        "doc_id",
        (F.col("doc_id") + F.col("__i") * F.lit(stride)).cast("long"),
    )
    # constant-rate planted twins: J ~ 0.88 to their in-replica source,
    # ids placed past ALL replicas ((factor + 1 + i) * stride band)
    twins = reps.filter(F.col("doc_id") % TWIN_MOD == 0).withColumn(
        "text",
        F.array_join(
            F.expr(
                "transform(split(text, '\\\\s+'), "
                f"(t, j) -> if(j % {MUT_EVERY} = {MUT_EVERY - 1}, "
                "'qnearduptok', t))"
            ),
            " ",
        ),
    ).withColumn(
        "doc_id",
        (
            F.col("doc_id")
            + (F.col("__i") + F.lit(factor + 1)) * F.lit(stride)
        ).cast("long"),
    )
    out = base.unionByName(twins).drop("__i")
    dst = SCRATCH / f"f{factor}"
    marker = dst / "documents.parquet" / "_SUCCESS"
    if marker.exists():
        return str(dst)  # deterministic build — reuse across chunks
    out.repartition(32).write.mode("overwrite").parquet(
        str(dst / "documents.parquet")
    )
    return str(dst)


def run_leg(spark, name: str, sf_dir: str, runs: int = 2) -> dict:
    from hustle_spark.registry import QUERIES
    from hustle_spark.util import release_all_persistent

    fn = QUERIES[name].fn

    def once() -> tuple[float, int]:
        from pyspark.sql import functions as F

        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        # force FULL evaluation of every output column (the
        # scale_probe action) — a bare count() lets Catalyst
        # ELIMINATE unique-key left joins entirely (the incremental
        # rows' verdict join vanished and the probe read flat ~1s at
        # every factor), under-measuring the real cost
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        wall = time.monotonic() - t0
        release_all_persistent(spark)
        return wall, int(row["n"])

    once()  # discard cold
    walls, rows = [], 0
    for _ in range(runs):
        w, rows = once()
        walls.append(w)
    return {
        "wall_median_sec": round(statistics.median(walls), 3),
        "out_rows": rows,
    }


def main() -> None:
    factors = [1, 10, 100]
    names = list(PROBES)
    args = sys.argv[1:]
    picked = [a for a in args if not a.startswith("-")]
    if picked:
        names = picked
    for a in args:
        if a.startswith("--factors="):
            factors = [1] + [int(x) for x in a.split("=", 1)[1].split(",")]

    from hustle_spark.session import get_session

    spark = get_session(
        app_name="natural-dedup-probe",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm

    dirs = {f: build_corpus(spark, f) for f in factors}
    result = {"metric": "natural_dedup_probe", "factors": factors,
              "corpus": ("decorrelated token-suffixed replicas + "
                         "constant-rate 10% planted near-dups"),
              "queries": {}}
    for name in names:
        legs = {}
        for f in factors:
            legs[f"x{f}"] = run_leg(spark, name, dirs[f])
            print(f"{name} x{f}: {legs[f'x{f}']}", file=sys.stderr)
        base = legs[f"x{factors[0]}"]["wall_median_sec"]
        result["queries"][name] = {
            "legs": legs,
            "ratios": {
                f"x{f}": round(
                    legs[f"x{f}"]["wall_median_sec"] / base, 2
                )
                for f in factors[1:]
            },
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
