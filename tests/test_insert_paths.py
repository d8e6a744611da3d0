"""S3 bulk-insert parity: every decoder and hook path of insert()."""

import json

import pytest

from pyspark.sql import functions as F

import hustle_spark as h


def make_table(cat):
    return cat.create(
        "ev", ["index string date", "index uint32 n", "string tag"], partition="date"
    )


def test_insert_csv_decoder(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    csv = tmp_path / "in.csv"
    csv.write_text("date,n,tag\n2014-01-20,1,a\n2014-01-20,2,b\n2014-01-21,3,c\n")
    assert h.insert(cat, "ev", phile=str(csv), decoder="csv") == 3
    t = cat.table("ev")
    assert t.df.count() == 3
    assert cat.partitions("ev") == ["2014-01-20", "2014-01-21"]


def test_insert_streams_dataframe(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = spark.createDataFrame(
        # extra column must be dropped, string n must coerce to long
        [("2014-01-20", "7", "x", "JUNK")], "date string, n string, tag string, junk string"
    )
    assert h.insert(cat, "ev", streams=src) == 1
    row = cat.table("ev").df.collect()[0]
    assert row.n == 7 and row.tag == "x"
    assert "junk" not in cat.table("ev").columns


def test_insert_preprocess_hook(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = tmp_path / "in.json"
    rows = [{"date": "2014-01-20", "n": i, "tag": "raw"} for i in range(4)]
    src.write_text("\n".join(json.dumps(r) for r in rows))

    def preprocess(df):
        # the reference's per-row hook, expressed as a distributed transform
        return df.withColumn("tag", F.upper("tag")).filter(F.col("n") % 2 == 0)

    assert h.insert(cat, "ev", phile=str(src), preprocess=preprocess) == 2
    got = sorted((r.n, r.tag) for r in cat.table("ev").df.collect())
    assert got == [(0, "RAW"), (2, "RAW")]


def test_insert_requires_source(spark, tmp_path):
    import pytest

    cat = h.connect(spark, tmp_path)
    make_table(cat)
    with pytest.raises(ValueError, match="phile= or streams="):
        h.insert(cat, "ev")


def test_external_connectors_gate_cleanly(spark):
    import pytest
    from pyspark.sql import types as T

    from hustle_spark.sources.external import (
        ConnectorUnavailable,
        connector_status,
        read_avro,
        read_kafka_events,
        write_delta,
    )

    status = connector_status(spark)
    assert set(status) == {"kafka", "delta", "iceberg", "avro"}
    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    if not status["kafka"]:
        with pytest.raises(ConnectorUnavailable, match="Kafka"):
            read_kafka_events(spark, "localhost:9092", "events", schema)
    if not status["delta"]:
        with pytest.raises(ConnectorUnavailable, match="Delta"):
            write_delta(spark.range(1), "/root/repo/.scratch/never_written")
    if not status["avro"]:
        with pytest.raises(ConnectorUnavailable, match="Avro"):
            read_avro(spark, "/root/repo/.scratch/never_read")


def test_compact_merges_small_files(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    cat.create("logs", ["index uint32 n", "string tag"])
    for i in range(6):
        cat.append("logs", spark.createDataFrame([(i, f"t{i}")], "n long, tag string"))
    files_before = list((tmp_path / "logs").rglob("*.parquet"))
    assert len(files_before) >= 6
    before = sorted((r.n, r.tag) for r in cat.table("logs").df.collect())

    n_after = cat.compact("logs", target_file_mb=128)
    assert n_after < len(files_before)
    files_after = list((tmp_path / "logs").rglob("*.parquet"))
    assert len(files_after) == n_after
    # data identical, schema sidecar preserved, table still declared
    assert sorted((r.n, r.tag) for r in cat.table("logs").df.collect()) == before
    assert cat.schema("logs")  # sidecar survived the swap


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    cat = h.connect(spark, tmp_path)
    cat.create("ev2", ["index string date", "uint32 n"], partition="date")
    for i in range(4):
        cat.append(
            "ev2",
            spark.createDataFrame(
                [(f"2014-01-2{i % 2}", i)], "date string, n long"
            ),
        )
    before = sorted((r.date, r.n) for r in cat.table("ev2").df.collect())
    cat.compact("ev2", target_file_mb=128)
    # hive layout kept: partition dirs still present, values intact
    assert cat.partitions("ev2") == ["2014-01-20", "2014-01-21"]
    assert sorted((r.date, r.n) for r in cat.table("ev2").df.collect()) == before


def test_insert_streams_missing_partition_column_fails(spark, tmp_path):
    import pytest

    cat = h.connect(spark, tmp_path)
    make_table(cat)
    src = spark.createDataFrame([(1, "x")], "n long, tag string")  # no date
    with pytest.raises(ValueError, match="partition column"):
        h.insert(cat, "ev", streams=src)


def test_compact_crash_recovery_restores_trash(spark, tmp_path):
    """A crash between compact()'s two swap renames leaves the table dir
    missing with data in _<name>.trash.*; the orphan sweep restores it
    on next resolution (ADVICE r2)."""
    cat = h.connect(spark, tmp_path)
    cat.create("logs3", ["uint32 n"])
    cat.append("logs3", spark.createDataFrame([(1,), (2,)], "n long"))
    before = sorted(r.n for r in cat.table("logs3").df.collect())
    # simulate the mid-swap crash state
    (tmp_path / "logs3").rename(tmp_path / "_logs3.trash.deadbeef")
    (tmp_path / "_logs3.compact.cafef00d").mkdir()  # dead staging dir
    cat2 = h.connect(spark, tmp_path)
    assert sorted(r.n for r in cat2.table("logs3").df.collect()) == before
    assert not list(tmp_path.glob("_logs3.trash.*"))
    assert not list(tmp_path.glob("_logs3.compact.*"))


def test_connect_sweeps_stale_trash_next_to_live_table(spark, tmp_path):
    """A crash AFTER staging.rename(path) but BEFORE rmtree(trash)
    leaves the table dir PRESENT plus a stale _<name>.trash.* sibling —
    invisible to tables(), holding disk equal to the table. connect()
    must reclaim it without touching the live table (ADVICE r3)."""
    cat = h.connect(spark, tmp_path)
    cat.create("logs5", ["uint32 n"])
    cat.append("logs5", spark.createDataFrame([(7,)], "n long"))
    # simulate the post-swap crash state: live dir + stale trash/staging
    stale_t = tmp_path / "_logs5.trash.0badc0de"
    stale_t.mkdir()
    (stale_t / "junk.parquet").write_bytes(b"x" * 128)
    (tmp_path / "_logs5.compact.feedbeef").mkdir()
    cat2 = h.connect(spark, tmp_path)
    assert not list(tmp_path.glob("_logs5.trash.*"))
    assert not list(tmp_path.glob("_logs5.compact.*"))
    assert [r.n for r in cat2.table("logs5").df.collect()] == [7]


def test_compact_refuses_stray_root_files_in_partitioned_table(spark, tmp_path):
    """Root-level parquet in a partitioned table would be silently
    dropped by the per-partition copy; compact must refuse (ADVICE r2)."""
    import pytest as _pytest

    cat = h.connect(spark, tmp_path)
    cat.create("ev3", ["index string date", "uint32 n"], partition="date")
    cat.append("ev3", spark.createDataFrame([("2014-01-20", 1)], "date string, n long"))
    stray = tmp_path / "ev3" / "manual.parquet"
    spark.createDataFrame([("2014-01-21", 9)], "date string, n long").toPandas().to_parquet(stray)
    with _pytest.raises(ValueError, match="non-hive data files"):
        cat.compact("ev3")
    assert stray.exists()  # nothing was destroyed


def test_chunk_documents_rejects_reserved_columns(spark):
    import pytest as _pytest

    from hustle_spark.functions.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c", 5)], "doc_id long, text string, chunk_idx long")
    with _pytest.raises(ValueError, match="chunk_documents reserves"):
        chunk_documents(df)


def test_roundtrip_export_gate_rewrites_partial_dir(spark):
    """orc_roundtrip_agg gates its cached export on _SUCCESS: a dir
    left by a crashed partial write (no marker) must be rewritten, not
    silently aggregated (ADVICE r2)."""
    import shutil
    from pathlib import Path

    from hustle_spark import registry

    sf_dir = "/root/testdata/sf0.001"
    cat = registry._cat(spark, sf_dir)
    dst = Path(str(cat.scratch / "orc_orders"))
    # run once to build the export, then simulate a crashed write
    first = registry.QUERIES["orc_roundtrip_agg"].fn(spark, sf_dir).collect()
    assert (dst / "_SUCCESS").is_file()
    shutil.rmtree(dst)
    dst.mkdir(parents=True)  # bare dir, no _SUCCESS, no data
    again = registry.QUERIES["orc_roundtrip_agg"].fn(spark, sf_dir).collect()
    assert (dst / "_SUCCESS").is_file()  # rewritten, not trusted
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))


def test_compact_recovery_prefers_newest_trash(spark, tmp_path):
    """Repeated crashes can strand several trash dirs; the sweep must
    restore the NEWEST (latest data) and clear the rest."""
    import os
    import time

    cat = h.connect(spark, tmp_path)
    cat.create("logs4", ["uint32 n"])
    cat.append("logs4", spark.createDataFrame([(1,)], "n long"))
    old = tmp_path / "_logs4.trash.00000001"
    old.mkdir()
    (old / "stale.txt").write_text("older crash remnant")
    past = time.time() - 3600
    os.utime(old, (past, past))
    (tmp_path / "logs4").rename(tmp_path / "_logs4.trash.00000002")
    cat2 = h.connect(spark, tmp_path)
    assert [r.n for r in cat2.table("logs4").df.collect()] == [1]
    assert not list(tmp_path.glob("_logs4.trash.*"))


def test_write_sharded_roundtrip(spark, tmp_path):
    import hashlib

    from pyspark.sql import functions as F

    from hustle_spark.sources.sharding import shard_of, write_sharded

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    out = tmp_path / "sharded"
    manifest = write_sharded(df, out, n_shards=8)
    rows = {r.shard: (r.n_rows, r.sum_ids) for r in manifest.collect()}
    # python replay of the assignment: first md5 hex byte mod 8
    expect: dict = {}
    for i in range(200):
        s = int(hashlib.md5(f"{i}:shard".encode()).hexdigest()[:2], 16) % 8
        n, t = expect.get(s, (0, 0))
        expect[s] = (n + 1, t + i)
    assert rows == expect
    # shard membership is partitioning-independent: a repartitioned
    # input yields the identical manifest
    manifest2 = write_sharded(df.repartition(7), tmp_path / "sharded2", n_shards=8)
    assert {tuple(r) for r in manifest2.collect()} == {tuple(r) for r in manifest.collect()}
    # every row lands in exactly one shard and survives the roundtrip
    back = spark.read.parquet(str(out)).filter(F.col("shard").isNotNull())
    assert back.count() == 200
    assert back.select("doc_id").distinct().count() == 200
    # bounds enforced
    import pytest

    with pytest.raises(ValueError, match="n_shards"):
        shard_of(F.col("doc_id"), 1000)
    # empty input: empty manifest, no schema-inference crash
    empty_manifest = write_sharded(df.limit(0), tmp_path / "sharded_empty", n_shards=8)
    assert empty_manifest.count() == 0


def test_delete_accepts_one_shot_iterator(spark, tmp_path):
    import hustle_spark as h

    cat = h.connect(spark, tmp_path / "dcat", scratch=tmp_path / "dscr")
    cat.create("t", ["string day", "uint64 k"], partition="day")
    cat.append("t", spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "day string, k long"))
    # a GENERATOR (one-shot) must still match every listed partition
    deleted = cat.delete("t", (d for d in ["a", "c"]))
    assert sorted(deleted) == ["a", "c"]
    assert cat.partitions("t") == ["b"]


def test_insert_guards_missing_partition_in_phile(spark, tmp_path):
    import json

    import pytest

    import hustle_spark as h

    cat = h.connect(spark, tmp_path / "icat", scratch=tmp_path / "iscr")
    cat.create("ev", ["string day", "uint64 k"], partition="day")
    src = tmp_path / "in.jsonl"
    # records MISSPELL the partition column ('date' instead of 'day')
    src.write_text("\n".join(json.dumps({"date": "x", "k": i}) for i in range(5)))
    with pytest.raises(ValueError, match="partition column"):
        h.insert(cat, "ev", phile=str(src))
    # nothing may have landed in the default partition
    assert "__HIVE_DEFAULT_PARTITION__" not in cat.partitions("ev")


def test_insert_recoerce_after_preprocess(spark, tmp_path):
    import json

    import hustle_spark as h
    from pyspark.sql import functions as F

    cat = h.connect(spark, tmp_path / "pcat", scratch=tmp_path / "pscr")
    cat.create("ev", ["string day", "uint64 k"], partition="day")
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(
        json.dumps({"day": "d1", "k": i}) for i in range(4)))
    # hook adds an undeclared column and retypes k: both must be undone
    n = h.insert(cat, "ev", phile=str(src),
                 preprocess=lambda df: df.withColumn("extra", F.lit("x"))
                                         .withColumn("k", F.col("k").cast("string")))
    assert n == 4
    t = cat.table("ev").df
    assert sorted(t.columns) == ["day", "k"]
    assert dict(t.dtypes)["k"] == "bigint"


def test_append_projects_onto_declared_schema(spark, tmp_path):
    """A direct append writes exactly the declared columns and types:
    the extra column is dropped and the int lands as the declared
    uint32 (bigint), which the declared-schema read then trusts."""
    cat = h.connect(spark, tmp_path)
    cat.create("ap", ["index string day", "uint32 n"], partition="day")
    cat.append("ap", spark.createDataFrame(
        [("d1", 5, "junk")], "day string, n int, extra string"))
    df = cat.table("ap").df
    assert sorted(df.dtypes) == [("day", "string"), ("n", "bigint")]
    assert [tuple(r) for r in df.select("day", "n").collect()] == [("d1", 5)]
    with pytest.raises(ValueError, match="partition column"):
        cat.append("ap", spark.createDataFrame([(1,)], "n int"))


def test_partition_column_keeps_declared_string_type(spark, tmp_path):
    """A date-looking partition value declared ``string`` reads back as
    a string, not as the DATE Spark would infer from the directory."""
    from pyspark.sql import types as T

    cat = h.connect(spark, tmp_path)
    cat.create("t", ["index string date", "uint32 n"], partition="date")
    cat.append("t", spark.createDataFrame([("2014-01-20", 1)], "date string, n long"))
    df = cat.table("t").df
    assert isinstance(df.schema["date"].dataType, T.StringType)
    assert [r.date for r in df.collect()] == ["2014-01-20"]


def test_compact_sizes_each_partition_from_its_bytes(spark, tmp_path):
    """One partition over the target splits into several files, bounded
    by ceil(bytes / target); each small partition becomes one file;
    rows, partition values and types survive unchanged."""
    import math

    cat = h.connect(spark, tmp_path)
    cat.create("sz", ["string p", "string h", "uint32 n"], partition="p")
    for k in range(3):
        cat.append("sz", spark.range(k * 20000, (k + 1) * 20000).select(
            F.lit("big").alias("p"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
            F.col("id").alias("n"),
        ))
    for p in ("s1", "s2"):
        for n in range(2):
            cat.append("sz", spark.createDataFrame([(p, "x", n)], "p string, h string, n long"))
    target_mb = 1
    big_bytes = sum(f.stat().st_size for f in (tmp_path / "sz" / "p=big").glob("*.parquet"))
    assert big_bytes > target_mb * 2**20
    before = cat.table("sz").df
    dtypes, rows = before.dtypes, sorted(map(tuple, before.collect()))

    cat.compact("sz", target_file_mb=target_mb)

    def files(p):
        return len(list((tmp_path / "sz" / f"p={p}").glob("*.parquet")))

    assert 1 < files("big") <= math.ceil(big_bytes / (target_mb * 2**20))
    assert files("s1") == files("s2") == 1
    after = cat.table("sz").df
    assert after.dtypes == dtypes
    assert sorted(map(tuple, after.collect())) == rows
    assert cat.partitions("sz") == ["big", "s1", "s2"]


def test_compact_jobs_do_not_grow_with_partitions(spark, tmp_path):
    """Compaction is one read, one shuffle and one write: the job count
    is the same for 2 partitions as for 6."""
    import uuid

    sc = spark.sparkContext

    def compact_jobs(n_parts):
        cat = h.connect(spark, tmp_path / f"p{n_parts}")
        cat.create("t", ["index string day", "uint32 n"], partition="day")
        rows = [(f"d{i}", i) for i in range(n_parts)]
        for _ in range(2):
            cat.append("t", spark.createDataFrame(rows, "day string, n long"))
        group = f"compact-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            assert cat.compact("t") == n_parts
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert compact_jobs(2) == compact_jobs(6)
