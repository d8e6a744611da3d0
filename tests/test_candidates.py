"""Differential checks of oracle conventions in hustle_spark/candidates.py
on tiny synthetic corpora the fixed test data cannot exercise."""

import os
import tempfile


def _scratch_tmpdir():
    """TemporaryDirectory under the repo scratch dir — created on
    demand so a clean checkout (no .scratch) still runs the test
    instead of erroring at setup (ADVICE r9 #3)."""
    root = "/root/repo/.scratch"
    os.makedirs(root, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=root)


def test_dsir_oracle_short_doc_convention(spark):
    """The DSIR oracle must replicate sliding_grams' short-array
    convention (arrays shorter than n yield ONE whole-array gram) —
    a 1-token or empty doc emits its token twice (unigram + the
    degenerate gram). Differential on a tiny corpus that the fixed
    testdata cannot exercise (review finding r9)."""
    from hustle_spark.candidates import (
        DATA_SELECTION_DSIR_ORACLE,
        data_selection_dsir,
    )

    rows = [
        (0, "target domain sample text"),
        (7, "more target text"),
        (1, "single"),                      # 1 token: degenerate gram
        (2, None),                          # NULL -> [''] one empty token
        (3, ""),                            # empty -> same
        (4, "regular raw pool document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pathlib import Path

    import duckdb as _duckdb

    # a PRIVATE connection — the shared session-scoped `duck` fixture's
    # views must never be touched (clobbering them poisons every later
    # test in the session; found the hard way in r9)
    con = _duckdb.connect()
    with _scratch_tmpdir() as td:
        p = str(Path(td) / "documents.parquet")
        df.toPandas().to_parquet(p)
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')"
        )
        from hustle_spark.functions.text import dsir_importance
        from pyspark.sql import functions as F

        got = sorted(
            tuple(r)
            for r in dsir_importance(
                df, (F.col("doc_id") % 7 == 0), n_buckets=1024, k=100
            ).collect()
        )
        exp = sorted(
            tuple(r)
            for r in con.execute(DATA_SELECTION_DSIR_ORACLE).fetchall()
        )
        assert got == exp, f"first diff: {next((a, b) for a, b in zip(got, exp) if a != b)}"
        # the 1-token doc must carry n_feats == 2 (token + gram)
        nf = {r[0]: r[1] for r in got}
        assert nf[1] == 2 and nf[2] == 2 and nf[3] == 2


def test_ann_oracle_null_embedding_parity(spark):
    """A NULL embedding must be invisible to BOTH engines — dropped
    from lists, codebook, candidates, and the exact-top-k audit
    (review finding r9: Spark dropped it, the oracle coded it as a
    real all-zero vector; and NULL l2 ranked FIRST in the audit under
    ASC NULLS FIRST)."""
    from hustle_spark.candidates import ANN_IVF_PQ_SEARCH_ORACLE
    from hustle_spark.operators.similarity import ivf_pq_topk

    rows = []
    for i in range(30):
        rows.append((i, [float((i * 11 + d) % 17 - 8) for d in range(64)]))
    rows.append((50, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from pathlib import Path

    import duckdb as _duckdb

    con = _duckdb.connect()  # private connection — see the DSIR test
    with _scratch_tmpdir() as td:
        p = str(Path(td) / "embeddings.parquet")
        df.toPandas().to_parquet(p)
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{p}')"
        )
        got = sorted(
            tuple(r)
            for r in ivf_pq_topk(
                df, df.filter("vec_id < 5"), k=5
            ).collect()
        )
        exp = sorted(
            tuple(r)
            for r in con.execute(ANN_IVF_PQ_SEARCH_ORACLE).fetchall()
        )
        assert got == exp
        assert all(r[1] != 50 for r in got)  # NULL row never a hit
