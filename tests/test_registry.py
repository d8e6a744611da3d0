"""Registry conformance: every oracle-checkable query hash-matches the
DuckDB oracle at sf0.001 (the driver runs the same gate at sf0.01),
and every rows-only query at least executes and returns a stable schema."""

import pytest

import __spark_entry__ as entrymod

from conftest import SF_DIR
from helpers import assert_df_matches_duck, persistent_rdd_ids


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


ALL = sorted(entrymod.queries().keys())
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", ALL)
def test_query_vs_oracle(name, spark, duck, catalog):
    from hustle_spark import util

    fn = entrymod.queries()[name]
    before = persistent_rdd_ids(spark)
    df = fn(spark, "/root/testdata/sf0.001")
    if name in ORACLES:
        assert_df_matches_duck(df, duck, ORACLES[name])
    else:
        rows = df.collect()
        assert rows is not None  # rows-only contract: runs, stable schema
        assert len(df.columns) > 0
    # every cache and checkpoint the query made is owned: release()
    # returns the JVM's persistent RDD set to its pre-query state
    util.release()
    left = persistent_rdd_ids(spark) - before
    assert not left, f"{name}: persistent RDDs left after release: {left}"


def test_release_is_per_thread(spark, duck):
    """Two threads build cached rows in one session; one thread's
    release() frees only its own frames. B's signature cache stays
    cached while A releases, and both rows match their oracles."""
    import threading

    from pyspark import StorageLevel

    from hustle_spark import registry, util

    sf = SF_DIR
    registry._cat(spark, sf)  # build the shared catalog memo up front
    b_built, a_released = threading.Event(), threading.Event()
    out, errors = {}, []

    def run(name, body):
        try:
            body(name)
        except Exception as exc:  # re-raised in the main thread
            errors.append(exc)
            b_built.set()
            a_released.set()

    def thread_a(name):
        out[name] = df = registry.QUERIES[name].fn(spark, sf)
        df.collect()
        b_built.wait(600)
        out["a_released"] = util.release()
        a_released.set()

    def thread_b(name):
        out[name] = df = registry.QUERIES[name].fn(spark, sf)
        owned = [f for f, _ in util._owned()]
        b_built.set()
        a_released.wait(600)
        out["b_cached"] = [f.storageLevel != StorageLevel.NONE for f in owned]
        df.collect()
        util.release()

    threads = [
        threading.Thread(target=run, args=("q15_top_supplier", thread_a)),
        threading.Thread(target=run, args=("dedup_minhash_md5", thread_b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(900)
    assert not any(t.is_alive() for t in threads), "query thread hung"
    if errors:
        raise errors[0]
    assert out["a_released"] >= 1
    assert out["b_cached"] and all(out["b_cached"]), out["b_cached"]
    for name in ("q15_top_supplier", "dedup_minhash_md5"):
        assert_df_matches_duck(out[name], duck, ORACLES[name])


def test_window_priority_ordering():
    """The driver verifies exactly the first 50 entries of queries();
    pin the derived order so a registry edit can't silently shrink
    coverage (the order itself is checked in
    tests/test_window_invariant.py)."""
    from hustle_spark import registry

    names = list(registry.queries())
    assert len(names) == len(set(names)), "duplicate query names"
    window = names[:50]
    # every row without a driver row for its current code — changed
    # since the manifest or new — must sit inside the window
    hashes, stored = registry.query_content_hashes(), registry._manifest()
    must_check = {n for n in registry.QUERIES if stored.get(n) != hashes[n]}
    missing = must_check - set(window)
    assert not missing, f"must-check queries outside window: {missing}"
    # every window entry is oracle-bound UNLESS it is a must-check
    # row: a changed rows-only sketch still needs its (weaker) driver
    # row refreshed. PROVEN rows-only entries must not burn slots.
    import __spark_entry__ as entry

    osql = entry.oracle_sql()
    no_oracle = [n for n in window if n not in osql and n not in must_check]
    assert not no_oracle, (
        f"proven rows-only entries burning window slots: {no_oracle}"
    )
    # oracle_sql keys must be a subset of queries and aligned by name
    osql = registry.oracle_sql()
    assert set(osql) <= set(names)


def test_import_order_registers_the_same_oracles():
    """Importing candidates before registry, or registry before
    candidates, registers the same name -> oracle map (each row binds
    its oracle in its own @query, so no binding depends on which
    module finishes first)."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    maps = []
    for first in ("hustle_spark.candidates", "hustle_spark.registry"):
        code = (
            f"import json, {first}\n"
            "from hustle_spark import registry\n"
            "print(json.dumps({n: q.oracle for n, q in registry.QUERIES.items()}))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=root, check=True,
            capture_output=True, text=True,
        ).stdout
        maps.append(json.loads(out.splitlines()[-1]))
    from hustle_spark import registry

    assert list(maps[0].items()) == list(maps[1].items())
    assert maps[0] == {n: q.oracle for n, q in registry.QUERIES.items()}
    for name in ("audio_vad_table_probe", "lang_profiles_file_roundtrip"):
        assert maps[0][name], f"{name}: no oracle bound"


def test_lifecycle_queries_rerun_stable(spark):
    """The scratch-writing lifecycle queries must be RE-RUNNABLE in one
    session with identical results (the driver, check_oracle, and an
    interactive user may each invoke them; a stale scratch dir or
    non-idempotent stream checkpoint would make the second run lie)."""
    from hustle_spark import registry

    for name in (
        "compact_requery",
        "streaming_ingest_dedup_requery",
        "insert_jsonl_requery",
        "delete_partition_requery",
    ):
        fn = registry.QUERIES[name].fn
        first = sorted(map(tuple, fn(spark, "/root/testdata/sf0.001").collect()))
        second = sorted(map(tuple, fn(spark, "/root/testdata/sf0.001").collect()))
        assert first == second, f"{name} not re-run stable"
        assert first, f"{name} returned no rows at sf0.001"


def test_oracle_gate_dtype_directions(spark):
    """The check_oracle dtype gate's WARN downgrade must apply ONLY
    when BOTH engines emit a nested type (no canonical cross-engine
    spelling); a Spark struct/map against a DuckDB scalar — or the
    reverse — is a genuine value-class mismatch and must stay a HARD
    failure (ADVICE r6 #3; VERDICT r7 directive #8 asked for this
    test)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    import duckdb
    from check_oracle import dtype_problems

    con = duckdb.connect()

    struct_df = spark.createDataFrame(
        [((1, "a"),)], "c struct<x:int, y:string>"
    )
    map_df = spark.createDataFrame([({"k": 1},)], "c map<string,int>")
    scalar_df = spark.createDataFrame([(1,)], "c bigint")

    duck_scalar = con.sql("SELECT 1::BIGINT AS c")
    duck_struct = con.sql("SELECT {'x': 1, 'y': 'a'} AS c")
    duck_map = con.sql("SELECT MAP(['k'], [1]) AS c")

    # both nested -> WARN (no canonical spelling), never hard
    hard, warns = dtype_problems(struct_df, duck_struct)
    assert not hard and warns
    hard, warns = dtype_problems(map_df, duck_map)
    assert not hard and warns

    # Spark nested vs DuckDB scalar -> HARD, never a warn
    hard, warns = dtype_problems(struct_df, duck_scalar)
    assert hard and not warns
    hard, warns = dtype_problems(map_df, duck_scalar)
    assert hard and not warns

    # DuckDB nested vs Spark scalar -> HARD too (the reverse direction)
    hard, warns = dtype_problems(scalar_df, duck_struct)
    assert hard and not warns
    hard, warns = dtype_problems(scalar_df, duck_map)
    assert hard and not warns

    # scalar/scalar equal types -> clean
    hard, warns = dtype_problems(scalar_df, duck_scalar)
    assert not hard and not warns


def test_ann_pair_recall_contract():
    """The executable ANN recall floor (VERDICT r13 "What's wrong"
    #1): ann_pair_recall judges an approximate row by the fraction of
    true (query_id, vec_id) hits it returned, ignoring rank/score
    wobble; the floor constants pin the documented 13/15 sf0.1
    measurement so a silent recall regression FAILS the 10x sweep
    instead of reading as "a few more differing values"."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from check_oracle import ANN_RECALL_FLOOR, ann_pair_recall

    cols = ["query_id", "vec_id", "cosine_u", "rank"]
    truth = [(0, v, 100 - v, v + 1) for v in range(5)]

    # identical hit set, scrambled ranks/scores -> recall 1.0
    scrambled = [(q, v, 0, 99) for q, v, *_ in truth]
    assert ann_pair_recall(scrambled, cols, truth, cols) == 1.0

    # one true hit replaced by a miss -> 4/5
    missed = scrambled[:4] + [(0, 777, 0, 5)]
    assert ann_pair_recall(missed, cols, truth, cols) == 0.8

    # column-order independence: spark side with reordered columns
    sp_cols = ["rank", "vec_id", "cosine_u", "query_id"]
    sp_rows = [(r[3], r[1], r[2], r[0]) for r in scrambled]
    assert ann_pair_recall(sp_rows, sp_cols, truth, cols) == 1.0

    # empty oracle degenerates to 1.0 (nothing to recall)
    assert ann_pair_recall([], cols, [], cols) == 1.0

    # the documented sf0.1 floor: 13/15 for both registered ANN rows
    assert ANN_RECALL_FLOOR == {
        "similarity_ann_lsh": 13 / 15,
        "similarity_ivf": 13 / 15,
    }
