"""Mimic the driver's correctness gate: run every queries() entry and
its oracle_sql() on the same sf dir, compare row-count + column names +
order-insensitive values. Usage:

    python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from hustle_spark.session import get_session  # noqa: E402
from hustle_spark.util import release  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# --- dtype fidelity (round-5 hardening) -------------------------------
# The driver's value hash is dtype-SENSITIVE (it hashes typed/Arrow
# values), so a Spark int32 vs DuckDB BIGINT disagreement fails the
# driver even when every value compares equal — exactly how
# padding_waste_buckets went red in round 4 while this value-level
# checker stayed green. Canonicalize both sides' result types into
# DuckDB spelling and compare per column.
_SPARK2DUCK = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INTEGER",
    "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "binary": "BLOB", "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def spark_canon(dt: str) -> str:
    if dt.startswith("array<") and dt.endswith(">"):
        return spark_canon(dt[6:-1]) + "[]"
    if dt.startswith("decimal"):
        return dt.upper()
    if dt.split("<", 1)[0] in ("struct", "map"):
        # No canonical cross-engine spelling for nested types here —
        # Spark "struct<a:int>" vs DuckDB "STRUCT(a INTEGER)" would
        # always "mismatch". Mark unknown so the comparison downgrades
        # to a WARN instead of a false hard failure (ADVICE r5).
        return "__UNKNOWN__"
    return _SPARK2DUCK.get(dt, dt.upper())


def dtype_problems(spark_df, duck_rel):
    """Per-column canonical dtype comparison; returns
    (hard_mismatches, width_warnings).

    Calibrated against four rounds of driver evidence: the driver's
    value hash TOLERATES integer-width differences (rank/row_number
    queries emit Spark int32 vs DuckDB BIGINT and have been
    driver-green since r1) but FAILS on value-class differences — the
    round-4 red row was an uncast DuckDB HUGEINT (window SUM), which
    crosses the Arrow boundary as a different value class entirely.
    Round-6 hardening (VERDICT r5 "What's wrong" #1): the empirical
    int-width tolerance was cheap-to-remove risk, so every registry
    query now emits BIGINT where DuckDB does and {TINYINT..BIGINT}
    width differences are HARD failures too — the gate runs zero-WARN.
    Only nested types with no canonical cross-engine spelling
    (struct/map, canon __UNKNOWN__) downgrade to warnings. HUGEINT,
    DECIMAL precision, float-vs-int, and any other class mismatch
    stays a hard problem; HUGEINT deliberately does NOT canonicalize
    to BIGINT."""
    spark_t = {f.name: spark_canon(f.dataType.simpleString()) for f in spark_df.schema.fields}
    duck_t = {c: str(t) for c, t in zip(duck_rel.columns, duck_rel.types)}
    hard, warns = [], []
    for col in spark_t:
        if col not in duck_t or spark_t[col] == duck_t[col]:
            continue
        s, d = spark_t[col], duck_t[col]
        depth = 0
        while s.endswith("[]") and d.endswith("[]"):
            s, d, depth = s[:-2], d[:-2], depth + 1
        msg = f"dtype[{col}] spark={spark_t[col]} duck={duck_t[col]}"
        # ADVICE r6 #3: the no-canonical-spelling downgrade applies only
        # when BOTH engines emit a nested type — a Spark struct/map vs a
        # DuckDB scalar is a genuine class mismatch and stays hard.
        duck_nested = d.split("(", 1)[0] in ("STRUCT", "MAP", "UNION")
        if s == "__UNKNOWN__" and duck_nested:
            warns.append(msg)
        else:
            hard.append(msg)
    return hard, warns


# --- ANN recall contract (VERDICT r13 "What's wrong" #1) --------------
# similarity_ann_lsh / similarity_ivf carry full-recall configs sized
# for the GATE corpora (sf0.001/sf0.01: 15/15, oracle-exact); at sf0.1
# the same configs measure 13/15 — documented, and re-measured at the
# same magnitude by the r6/r12/r13 full-registry sweeps. That floor
# was docstring-only; this makes it EXECUTABLE: under
# --ann-recall-contract (the 10x-sweep mode), a value diff on these
# rows is judged by measured recall against the exact-top-k oracle —
# recall >= floor is the documented approximate-index contract
# (RECALL-OK), recall < floor is a REGRESSION and fails the sweep.
# Without the flag (the driver-gate mimicry at sf0.01) any diff stays
# a hard failure — the gate is never weakened.
ANN_RECALL_FLOOR = {
    "similarity_ann_lsh": 13 / 15,
    "similarity_ivf": 13 / 15,
}


def ann_pair_recall(spark_rows, spark_cols, duck_rows, duck_cols):
    """Measured recall of an ANN row against its exact-top-k oracle:
    the fraction of true (query_id, vec_id) hits the index returned.
    Pure set arithmetic on the two result sets — rank/score columns
    are ignored so a rerank-order wobble cannot mask a recall drop."""
    si = [spark_cols.index(c) for c in ("query_id", "vec_id")]
    di = [duck_cols.index(c) for c in ("query_id", "vec_id")]
    sp = {(r[si[0]], r[si[1]]) for r in spark_rows}
    du = {(r[di[0]], r[di[1]]) for r in duck_rows}
    if not du:
        return 1.0
    return len(sp & du) / len(du)


def norm_rows(rows, colnames):
    """EXACT value normalization (repr for floats — type-distinguishing,
    like the driver's hash; see tests/helpers.py). Any tolerance must
    live in the query (decimal funnel / floor-scaling), never here."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def nv(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        if isinstance(v, list):
            return tuple(nv(x) for x in v)
        return v

    return sorted(
        (tuple(nv(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def main():
    args = [a for a in sys.argv[1:] if a != "--ann-recall-contract"]
    ann_contract = "--ann-recall-contract" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_session(app_name="oracle-check", extra_conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"))
            print(f"  FAIL {name}: spark error")
            continue
        finally:
            release()  # query boundary: free the query's caches and checkpoints
        dt = time.time() - t0
        if name not in oracles:
            rows_only += 1
            print(f"  ROWS-ONLY {name}: {len(spark_rows)} rows  [{dt:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = list(rel.columns)
            duck_rows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {str(e)[:300]}"))
            print(f"  FAIL {name}: oracle error: {str(e)[:160]}")
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        hard, warns = dtype_problems(df, rel)
        problems.extend(hard)
        if warns:
            print(f"  WARN {name}: int-width {'; '.join(warns)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            a = norm_rows(spark_rows, spark_cols)
            b = norm_rows(duck_rows, duck_cols)
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            if diffs:
                problems.append(f"values ({len(diffs)} differing), first: {diffs[:2]}")
        if problems and ann_contract and name in ANN_RECALL_FLOOR:
            # judge the approximate row by its executable recall floor
            # instead of value-exactness (see ANN_RECALL_FLOOR above)
            recall = ann_pair_recall(
                spark_rows, spark_cols, duck_rows, duck_cols
            )
            floor = ANN_RECALL_FLOOR[name]
            if recall >= floor:
                passed += 1
                print(
                    f"  RECALL-OK {name}: recall {recall:.4f} >= floor "
                    f"{floor:.4f} ({len(spark_rows)} rows)  [{dt:.1f}s]"
                )
                continue
            problems.insert(
                0,
                f"ANN RECALL REGRESSION: measured {recall:.4f} < "
                f"documented floor {floor:.4f}",
            )
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"  FAIL {name}: {problems[0][:200]}")
        else:
            passed += 1
            print(f"  OK   {name}: {len(spark_rows)} rows  [{dt:.1f}s]")

    print(f"\n{passed} oracle-matched, {rows_only} rows-only, {len(failures)} FAILED")
    for name, why in failures:
        print(f"  {name}: {why[:400]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
