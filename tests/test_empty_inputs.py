"""Degenerate-input sweep: every registry query must behave on EMPTY
tables (schema-only parquet) — return an empty/zero-row result or
raise a clearly-typed ValueError, never an opaque engine error. At
100 TB, empty partitions, empty date ranges, and empty exports are
routine, not exotic; a query that dies on them dies in production.

Found-and-fixed by this sweep (round 3): partitioned ORC/JSONL
exports lose their partition COLUMN when empty (no part dirs) —
readers now re-add declared columns as typed NULLs; IVF k-means died
with an opaque Py4J error on zero rows — now a ValueError.
"""

import shutil
from pathlib import Path

import pytest

from hustle_spark import registry

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
EMPTY_DIR = Path("/root/repo/.scratch/sf_empty_test")

# queries that legitimately REFUSE empty input with a typed error
EXPECTED_ERROR = {
    "similarity_ivf": ValueError,  # IVF index over an empty corpus
}


@pytest.fixture(scope="module")
def empty_dir(spark):
    shutil.rmtree(EMPTY_DIR, ignore_errors=True)
    EMPTY_DIR.mkdir(parents=True)
    for t in TABLES:
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(0)
        df.coalesce(1).write.mode("overwrite").parquet(str(EMPTY_DIR / f"{t}.parquet"))
    # fresh catalog + no stale scratch exports for this dir
    registry._catalogs.pop((id(spark), str(EMPTY_DIR)), None)
    yield str(EMPTY_DIR)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_handles_empty_input(name, spark, empty_dir):
    q = registry.QUERIES[name]
    if name in EXPECTED_ERROR:
        with pytest.raises(EXPECTED_ERROR[name]):
            q.fn(spark, empty_dir).count()
        return
    n = q.fn(spark, empty_dir).count()
    assert n >= 0  # executed; most queries yield 0 rows, audits yield claims


def test_round4_operators_empty_inputs(spark):
    """Winnowing/containment/unigram ops degrade to empty results (or
    the [''] token convention DuckDB shares) instead of raising."""
    from hustle_spark.functions.text import (
        unigram_fppm_vocab,
        unigram_quality_scores,
    )
    from hustle_spark.operators.dedup import (
        containment_pairs,
        winnowing_fingerprints,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert winnowing_fingerprints(empty).count() == 0
    assert containment_pairs(empty).count() == 0
    assert unigram_fppm_vocab(empty).count() == 0
    assert unigram_quality_scores(empty).count() == 0
    # empty STRING is one empty token in both Spark and DuckDB's
    # regexp split convention — the sole vocab entry, fppm 1e6
    one = spark.createDataFrame([(1, "")], "doc_id long, text string")
    assert winnowing_fingerprints(one).count() == 1
    assert [tuple(r) for r in unigram_quality_scores(one, min_count=1).collect()] == [
        (1, 1, 1000000)
    ]


def test_pipeline_operators_empty_inputs(spark):
    from hustle_spark import util
    from hustle_spark.functions.text import drop_boilerplate_paragraphs
    from hustle_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert drop_boilerplate_paragraphs(empty).count() == 0
    assert dedup.dedup_pipeline(empty).count() == 0
    one = spark.createDataFrame([(1, "solo doc")], "doc_id long, text string")
    r = dedup.dedup_pipeline(one).collect()
    assert [(x.doc_id, x.cluster_id, x.is_kept) for x in r] == [(1, 1, True)]
    util.release()


# ---------------------------------------------------------------------
# NULL/degenerate-input regression pins for the round-4 review fixes
# (the oracle gate never sees NULLs — testdata is clean — so these
# behaviors are pinned here; see docs/CHECKED.md review-pass records)
# ---------------------------------------------------------------------


def test_cosine_zero_norm_vector_degrades(spark):
    from hustle_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    got = [(r.vec_id, r.rank) for r in cosine_topk(df, q, k=2).orderBy("rank").collect()]
    # no DIVIDE_BY_ZERO abort; the zero vector ranks last (NULL cosine)
    assert got[0] == (1, 1)
    assert all(v != 3 or rank == 2 for v, rank in got)


def test_lsh_numpy_null_embedding_matches_expr(spark):
    from hustle_spark.operators.similarity import lsh_signatures

    rows = [(0, [1.0] * 8), (1, None), (2, [0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=8, n_tables=2, bits_per_table=4, seed=7)
    a = {r["vec_id"]: (r["__sig_0"], r["__sig_1"])
         for r in lsh_signatures(df, **kw, method="expr").collect()}
    b = {r["vec_id"]: (r["__sig_0"], r["__sig_1"])
         for r in lsh_signatures(df, **kw, method="numpy").collect()}
    assert a[1] == (None, None) and b[1] == (None, None)
    assert a[0] == b[0] and a[2] == b[2]


def test_regression_udaf_skips_null_samples(spark):
    import datetime as dt

    from hustle_spark.functions.udfs import regression_slope_by_user

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1.0),
        (1, dt.datetime(2024, 1, 1, 0, 0, 10), 2.0),
        (1, None, 99.0),          # NULL ts: must not crash, not a sample
        (1, dt.datetime(2024, 1, 1, 0, 0, 20), None),  # NULL value: same
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = regression_slope_by_user(df).collect()
    assert len(out) == 1 and out[0].n == 2  # only the two clean samples


def test_udtf_null_text_yields_empty_gram(spark):
    from hustle_spark.functions.udfs import explode_shingles_udtf

    df = spark.createDataFrame([(1, "a b c"), (2, None)], "doc_id long, text string")
    got = {(r.doc_id, r.shingle) for r in explode_shingles_udtf(df, n=3).collect()}
    assert (2, "None") not in got     # no phantom 'None' token
    assert (2, "") in got             # the built-in path's convention
    assert (1, "a b c") in got


def test_bpe_udf_null_matches_builtin(spark):
    from pyspark.sql import functions as F

    from hustle_spark.functions.text import bpe_ish_token_count
    from hustle_spark.functions.udfs import bpe_ish_token_count_udf

    df = spark.createDataFrame([(1, "ab 12!"), (2, None)], "i long, t string")
    rows = df.select(
        bpe_ish_token_count(F.col("t")).alias("builtin"),
        bpe_ish_token_count_udf(F.col("t")).alias("udf"),
    ).collect()
    for r in rows:
        assert r.builtin == r.udf  # including the NULL row


def test_minhash_rejects_indivisible_bands(spark):
    import pytest

    from hustle_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(df, n_hashes=32, bands=5)


def test_padding_waste_ignores_null_text(spark):
    from hustle_spark.functions.text import padding_waste_by_bucket

    docs = [(i, " ".join(["w"] * (i + 1))) for i in range(8)] + [
        (100 + i, None) for i in range(5)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = padding_waste_by_bucket(df, n_buckets=2).collect()
    # NULL-text docs neither shift the CDF nor occupy a bucket
    assert sum(r.n_docs for r in rows) == 8
    lo = min(rows, key=lambda r: r.bucket)
    assert (lo.min_tokens, lo.max_tokens) == (1, 4)  # unshifted split


def test_salted_join_refuses_outer(spark):
    import pytest

    from hustle_spark.plans.scale import salted_join

    big = spark.createDataFrame([(1, "a")], "k long, v string")
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(big, small, key="k", salt=4, how="right")
    # the supported joins still return exact results
    got = salted_join(big, small, key="k", salt=4, how="left").collect()
    assert [(r.k, r.v, r.w) for r in got] == [(1, "a", "x")]


def test_h_avg_exact_null_semantics(spark, catalog):
    import hustle_spark as h
    from pyspark.sql import functions as F

    from hustle_spark.functions.aggregates import h_avg_exact

    df = spark.createDataFrame([(1, 2.0), (1, None), (1, 4.0)], "g long, v double")
    from hustle_spark.table import Table

    t = Table("t_avg", df, catalog=None)
    out = h.select(t.g, h_avg_exact(t.v).alias("mean")).collect()
    assert out[0].mean == 3.0  # SQL AVG semantics, not sum/COUNT(*)=2.0


def test_asof_join_suffixes_colliding_columns(spark):
    import datetime as dt

    from hustle_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10), 1.0)], "k long, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9), 2.0)], "k long, ts timestamp, value double"
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    assert out.columns.count("value") == 1 and "value_r" in out.columns
    r = out.collect()[0]
    assert (r.value, r.value_r) == (1.0, 2.0)


def test_round5_operators_null_and_empty_inputs(spark):
    """Round-5 additions against the defect classes the oracle gate
    cannot see (NULL-free, well-formed testdata)."""
    from pyspark.sql import functions as F

    from hustle_spark.functions.text import bigram_quality_scores
    from hustle_spark.operators.similarity import embedding_contamination_scan
    from hustle_spark.operators.snapshot import vocab_drift

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, None), (3, ""), (4, "solo")],
        "doc_id long, text string",
    )
    # bigram quality shares the module's NULL-doc convention (excluded,
    # exactly like unigram_quality_scores); degenerate docs score 0/0
    bq = {r.doc_id: (r.n_bigrams, r.mean_cppm)
          for r in bigram_quality_scores(docs, min_count=1).collect()}
    assert 2 not in bq and bq[3] == (0, 0) and bq[4] == (0, 0)

    # identical corpora -> zero drift everywhere; NULL text only drops
    # its own tokens, never aborts
    assert all(
        r.drift_abs == 0 for r in vocab_drift(docs, docs).collect()
    )
    empty = docs.limit(0)
    assert vocab_drift(empty, empty).collect() == []

    # NULL embedding and zero-norm corpus vectors degrade to NULL
    # scores (ANSI-safe), never a job abort; real vectors still score
    e = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: (r.max_cosine_e6, r.contaminated)
           for r in embedding_contamination_scan(e, bench).collect()}
    assert out[0] == (1_000_000, True)
    assert out[2][0] is None and out[2][1] is None
    assert out[3][0] is None and out[3][1] is None

    # empty benchmark set: every corpus row survives with NULL score
    # (an empty eval suite flags nothing, it must not error or drop)
    out2 = embedding_contamination_scan(e, bench.limit(0)).collect()
    assert len(out2) == 0 or all(r.max_cosine_e6 is None for r in out2)
