"""Corpus snapshot diffing — the dataset-versioning primitive a
training-data pipeline runs between two builds of the same corpus:
which documents were added, removed, changed, or untouched, computed
by content digest so a re-crawl that rewrites identical bytes is
"unchanged", not "changed".

Scale shape: each side is reduced map-side to (id, md5(text)) — 48
bytes/row — before the one full-outer shuffle; document text never
moves. At 100 TB the diff costs two column-pruned scans plus a
digest-keyed join, and the summary is a 4-row aggregate of that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Per-document diff between two corpus versions: returns
    (id_col, status) with status in {added, removed, changed,
    unchanged}. ``added`` = id only in ``new``; ``removed`` = id only
    in ``old``; otherwise digest equality decides. Deterministic and
    partitioning-independent (md5 of the text bytes, no floats)."""
    a = old.select(F.col(id_col), F.md5(F.col(text)).alias("__old_d"))
    b = new.select(F.col(id_col), F.md5(F.col(text)).alias("__new_d"))
    j = a.join(b, id_col, "full_outer")
    status = (
        F.when(F.col("__old_d").isNull(), F.lit("added"))
        .when(F.col("__new_d").isNull(), F.lit("removed"))
        .when(F.col("__old_d") == F.col("__new_d"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"))


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """The 4-row rollup of snapshot_diff: (status, n) — what a build
    report shows before anyone drills into per-doc rows."""
    return (
        snapshot_diff(old, new, id_col, text)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    text: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Token-distribution drift between two corpus versions: per-token
    frequency in parts-per-million (integer DIV — engine-exact) in
    each version, with the absolute drift per token. The distribution
    check a corpus rebuild runs AFTER snapshot_diff says what changed:
    did the rebuild shift the token mix (new boilerplate, lost domain,
    encoding regression) even where doc counts look fine? Summing
    ``drift_abs`` over all tokens and halving gives total-variation
    distance in ppm.

    Returns (token, fppm_old, fppm_new, drift_abs), one row per token
    in either vocabulary (absent → 0 ppm).

    Scale shape: each side is one explode → map-side-combined count
    (token-vocabulary-sized output, not corpus-sized); the full-outer
    join runs on the two vocabulary tables. The corpus text crosses no
    shuffle; the 1-row totals are scalar BROADCASTS (the
    unigram_fppm_vocab pattern), never driver collects.
    """
    def fppm(df: DataFrame, alias: str) -> DataFrame:
        # shared tokenization (functions.text.tokens + lower) so
        # vocab_drift counts the SAME tokens every other vocab/quality
        # op counts — 'The' vs 'the' is casing, not drift
        from ..functions.text import tokens

        from ..util import own

        toks = df.select(
            F.explode(tokens(F.lower(F.col(text)))).alias("token")
        )
        # cached: the VOCABULARY-sized counts table feeds both the
        # total and the fppm projection — uncached, each consumer
        # replays the full corpus explode (the unigram_fppm_vocab
        # lesson from round 4, caught again by the round-5 plan
        # scan-count sweep: vocab_drift_top showed 6 corpus scans)
        counts = own(
            toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c")).cache()
        )
        total = counts.agg(
            F.greatest(F.sum("__c"), F.lit(1)).alias("__total")
        )
        return counts.crossJoin(F.broadcast(total)).select(
            "token",
            F.expr(f"__c * {scale} DIV __total").alias(alias),
        )

    o = fppm(old, "fppm_old")
    n = fppm(new, "fppm_new")
    j = o.join(n, "token", "full_outer")
    return j.select(
        "token",
        F.coalesce("fppm_old", F.lit(0)).cast("bigint").alias("fppm_old"),
        F.coalesce("fppm_new", F.lit(0)).cast("bigint").alias("fppm_new"),
        F.abs(
            F.coalesce("fppm_old", F.lit(0)) - F.coalesce("fppm_new", F.lit(0))
        ).cast("bigint").alias("drift_abs"),
    )
