"""Natural-corpus scaling probe for dedup_exact_substr_combined
(VERDICT r9 directive #4).

The sf1 study's key-shifted replica corpus duplicates every document's
TEXT verbatim 10x, so the combined row's stage 1 (16-token cross-doc
window cut) removes ~everything and the measured sf1 ratio (0.3) says
nothing about how the composition scales on data that is mostly
unique. This probe builds a corpus shaped like real crawl data:

  - every replica's text is UNIQUIFIED (a replica-specific token
    injected every 10 tokens — the sf100_probe idiom), so replicas do
    not collide;
  - ~10% of documents (doc_id % 10 == 0) carry an injected CROSS-DOC
    repeat: a fixed ~avg-doc-length paragraph (25 rotating variants,
    so repeats are many medium groups, not one clique) appended after
    uniquification;
  - everything else is untouched.

Stage 1 should therefore cut a ~5-15% fraction and stage 2 should see
a ~90%-size survivor corpus — the honest cost curve. The probe runs
the EXACT operator chain the registry row runs at 1x and 10x, records
wall medians, the measured stage-1 cut fraction at both scales, and
the 10x ratio, and emits one JSON line for BASELINE.md.

    python scripts/natural_substr_probe.py [--regen] [--out FILE]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SRC = "/root/testdata/sf0.1"
DST = Path("/root/repo/.scratch/natsubstr")
FACTOR = 10
DIRTY_MOD = 10      # doc_id % 10 == 0 -> carries an injected repeat
VARIANTS = 25       # rotating repeat paragraphs (many medium groups)
# 48 SHORT tokens (~7 chars each): 3x the 16-token window, but only
# ~45% of a dirty doc's chars — the sf0.1 docs average ~54 tokens /
# ~455 chars, and a 90-long-token draft paragraph dominated the corpus
# (stage-1 cut 31-41%, outside the 5-15% target band the directive
# set; measured, then corrected)
PARA_TOKENS = 48


def _paragraph(v: int, n_tokens: int) -> str:
    # deterministic, whitespace-tokenized, >= 3x the 16-token window
    return " ".join(f"rs{v}t{i}" for i in range(n_tokens))


def gen(regen: bool = False) -> None:
    from pyspark.sql import functions as F

    from hustle_spark.catalog import Catalog
    from hustle_spark.session import get_session

    # guard on the LAST write's _SUCCESS marker, not the pre-created
    # directory — a crashed first run must regenerate, never hand the
    # probe a partial corpus (review r10)
    if (DST / "x10" / "documents.parquet" / "_SUCCESS").exists() and not regen:
        print(f"corpus already at {DST} (use --regen to rebuild)")
        return
    spark = get_session(
        app_name="natsubstr-gen", extra_conf={"spark.ui.enabled": "false"}
    )
    cat = Catalog(spark, SRC, scratch="/root/repo/.scratch/natsubstr_gen")
    docs = cat.table("documents").df.select("doc_id", "text")
    n_docs = docs.count()
    avg_tokens = int(
        docs.agg(
            F.avg(F.size(F.split(F.coalesce("text", F.lit("")), r"\s+")))
        ).collect()[0][0]
    )
    para_tokens = PARA_TOKENS  # fixed; see the band note above
    stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    paras = [  # broadcast-size lookup: 25 fixed paragraphs
        (v, _paragraph(v, para_tokens)) for v in range(VARIANTS)
    ]
    pdf = F.broadcast(
        spark.createDataFrame(paras, "variant int, para string")
    )

    def build(factor: int, out: Path) -> None:
        parts = []
        for i in range(factor):
            rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * stride))
            if factor > 1:
                # uniquify: replica-specific token every 10 tokens
                rep = rep.withColumn(
                    "text",
                    F.array_join(
                        F.flatten(
                            F.transform(
                                F.split(F.coalesce("text", F.lit("")), r"\s+"),
                                lambda t, j: F.when(
                                    j % 10 == 0,
                                    F.array(
                                        F.concat(
                                            F.lit("z"),
                                            F.col("doc_id").cast("string"),
                                            F.lit("x"),
                                            j.cast("string"),
                                        ),
                                        t,
                                    ),
                                ).otherwise(F.array(t)),
                            )
                        ),
                        " ",
                    ),
                )
            parts.append(rep)
        out_df = parts[0]
        for p in parts[1:]:
            out_df = out_df.unionByName(p)
        dirty = (
            out_df.withColumn(
                "variant",
                F.when(
                    F.col("doc_id") % DIRTY_MOD == 0,
                    (F.col("doc_id") % VARIANTS).cast("int"),
                ),
            )
            .join(pdf, "variant", "left")
            .select(
                "doc_id",
                F.when(
                    F.col("para").isNotNull(),
                    F.concat_ws(" ", "text", "para"),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
        )
        dirty.write.mode("overwrite").parquet(str(out / "documents.parquet"))

    (DST / "x1").mkdir(parents=True, exist_ok=True)
    (DST / "x10").mkdir(parents=True, exist_ok=True)
    build(1, DST / "x1")
    print(f"  x1: {n_docs} docs, ~{avg_tokens} tokens/doc, "
          f"para {para_tokens} tokens, dirty 1/{DIRTY_MOD}")
    build(FACTOR, DST / "x10")
    print(f"  x10: {n_docs * FACTOR} docs (uniquified replicas)")
    spark.stop()


def probe() -> dict:
    from pyspark.sql import functions as F

    from hustle_spark import util as _util
    from hustle_spark.operators import dedup, suffixes
    from hustle_spark.session import get_session
    from hustle_spark.util import release_all_persistent

    spark = get_session(
        app_name="natsubstr-probe", extra_conf={"spark.ui.enabled": "false"}
    )

    def load(scale: str):
        return spark.read.parquet(str(DST / scale / "documents.parquet"))

    def combined(d):
        # the registry row's exact chain (candidates.py
        # dedup_exact_substr_combined)
        d = _util.spread_input(d.select("doc_id", "text"), spark)
        s1 = dedup.repeated_span_removal(d, span=16, min_docs=2)
        mid = _util.own(s1.select("doc_id", "text").localCheckpoint())
        return suffixes.repeated_substring_removal(
            mid, min_len=24, min_docs=2, prefix_cap=24
        ).select("doc_id", "text", "n_chars", "n_removed")

    out: dict = {"metric": "natural_substr_probe", "factor": FACTOR,
                 "dirty_fraction": 1.0 / DIRTY_MOD, "variants": VARIANTS}
    for scale in ("x1", "x10"):
        d = load(scale)
        orig_chars = d.agg(
            F.sum(F.length(F.coalesce("text", F.lit("")))).cast("bigint")
        ).collect()[0][0]
        # stage-1 cut fraction, measured once (correctness reading)
        res = combined(d)
        agg = res.agg(
            F.sum("n_chars").cast("bigint").alias("s1_chars"),
            F.sum("n_removed").cast("bigint").alias("s2_removed"),
        ).collect()[0]
        release_all_persistent(spark)
        cut1 = 1.0 - agg["s1_chars"] / orig_chars
        # wall: one cold discard, median of 3 warm
        times = []
        combined(d).write.format("noop").mode("overwrite").save()
        release_all_persistent(spark)
        for _ in range(3):
            t0 = time.perf_counter()
            combined(d).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            release_all_persistent(spark)
        out[scale] = {
            "orig_chars": int(orig_chars),
            "stage1_cut_fraction": round(cut1, 4),
            "stage2_removed_chars": int(agg["s2_removed"]),
            "wall_median": round(statistics.median(times), 4),
            "wall_runs": [round(t, 4) for t in times],
        }
        print(f"{scale}: cut1={cut1:.3f} wall={out[scale]['wall_median']}s")
    out["ratio_10x"] = round(
        out["x10"]["wall_median"] / out["x1"]["wall_median"], 2
    )
    print(f"10x ratio: {out['ratio_10x']}")
    spark.stop()
    return out


def main() -> None:
    gen(regen="--regen" in sys.argv)
    result = probe()
    line = json.dumps(result)
    print(line)
    if "--out" in sys.argv:
        Path(sys.argv[sys.argv.index("--out") + 1]).write_text(line + "\n")


if __name__ == "__main__":
    main()
