"""Small shared helpers."""

from __future__ import annotations

from urllib.parse import unquote, urlparse

_UNIT_SECONDS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
    "week": 604800,
    "weeks": 604800,
}


def interval_seconds(spec: str) -> float:
    """``'30 minutes'`` -> 1800.0 (mirrors Spark interval grammar for the
    day-time units used by gaps/tolerances)."""
    parts = spec.strip().split()
    if len(parts) % 2 != 0 or not parts:
        raise ValueError(f"bad interval spec {spec!r}")
    total = 0.0
    for qty, unit in zip(parts[::2], parts[1::2]):
        if unit.lower() not in _UNIT_SECONDS:
            raise ValueError(f"unsupported interval unit {unit!r} in {spec!r}")
        total += float(qty) * _UNIT_SECONDS[unit.lower()]
    return total


# --- tracked caching ------------------------------------------------------
#
# Operators that reuse an intermediate frame in two plan branches (dedup
# signatures, q15's revenue view) cache it so one action computes it
# once. The JVM-side cache outlives the Python wrapper, so frames are
# tracked here and released explicitly (benchmarks call release_cached()
# between queries to keep storage flat). Strong refs on purpose.

_CACHED: list = []


def tracked_cache(df):
    df = df.cache()
    _CACHED.append(df)
    return df


def release_frames(frames) -> int:
    """Unpersist a SPECIFIC set of tracked frames (identity match) and
    drop them from the tracking list — the scoped twin of
    release_cached() for operators that pin corpus-sized intermediates
    for their own plan branches only (ADVICE r11: ivf_pq_topk pinned
    three frames per call with no release inside the registered path,
    so correctness drivers that never call release_cached accumulated
    corpus-sized caches across a 50-query window). Callers release
    AFTER the consuming output is materialized (eager localCheckpoint
    or collect) — unpersisting earlier would silently recompute."""
    n = 0
    ids = {id(f) for f in frames}
    for f in frames:
        try:
            f.unpersist()
            n += 1
        except Exception:
            pass
        # localCheckpoint()ed frames: df.unpersist() is a no-op — the
        # blocks belong to the materialized RDD behind the plan's
        # LogicalRDD leaf and otherwise free only when the lazy
        # ContextCleaner GCs it (r15; ADVICE r14 on the CC edge
        # checkpoint). Release them NOW; the probe throws on any
        # non-checkpoint plan and is ignored. Only safe once every
        # consumer of the frame is done — same contract as unpersist.
        try:
            f._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass
    _CACHED[:] = [f for f in _CACHED if id(f) not in ids]
    return n


def release_cached() -> int:
    """Unpersist every tracked frame; returns how many were released.
    Safe any time — Spark recomputes on next use."""
    n = 0
    while _CACHED:
        df = _CACHED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def release_all_persistent(spark) -> int:
    """BETWEEN-QUERY cleanup for benches/probes: unpersist every RDD
    the context still tracks — tracked caches AND the block footprint
    of localCheckpoint()ed frames, which otherwise free only when the
    lazy ContextCleaner gets to them after GC. The r8 sf1 lesson: two
    suffix-array queries back-to-back in one 8g JVM OOMed because the
    first query's checkpoint blocks were still being cleaned while the
    second query's sort buffers grew (each query alone fit). NOT safe
    mid-query — a live localCheckpoint consumer would recompute a
    NON-DETERMINISTIC partition splice (the freeze-before-collect
    contract in global_dense_rank); callers use it only at query
    boundaries, where every consumer is done."""
    n = release_cached()
    try:
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(True)
            n += 1
    except Exception:
        pass
    return n


def spread_input(df, spark):
    """Repartition ``df`` to the session's core count ONLY when the
    source scan under-parallelizes (fewer splits than cores) — the
    single-split-testdata equalizer that becomes a NO-OP on real
    pre-parallel corpora, where an unconditional repartition would
    shuffle the whole input (text included) for nothing. Heavy
    map-side phases (explodes, Arrow signature/decode stages)
    otherwise run on one core per split regardless of cluster size;
    measured 2.1-3.6x at sf0.1 across the text/sketch queries. The
    partition probe converts the plan to an RDD (driver-side only, no
    job)."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# Parquet-footer row counts per file tuple: INPUT METADATA (the same
# class as Spark's own file-listing cache, guide section 6), never
# query results — reading a footer costs ~1 ms; the memo only avoids
# re-stat()ing the same files across the many probe rows of one run.
# Only successful reads are kept, so a transient failure costs one
# fallback, not the rest of the session.
_FOOTER_ROWS: dict = {}


def _local_path(uri: str) -> str:
    """Filesystem path of a ``file:`` URI (``file:/a`` or
    ``file:///a``, percent-escapes decoded); other strings unchanged."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme == "file" else uri


def stat_partitions(df, spark, rows_per_task: int = 512) -> int:
    """Input-stat-derived partition count for per-row-bounded Arrow
    stages (the mapInPandas media decodes): ceil(rows / rows_per_task)
    clamped to [1, defaultParallelism]. The r14 sweep measured the
    family's floor as ~65% synth codegen + ~5 ms/task Python-worker
    Arrow setup, so on a tiny corpus partitions=cores is pure per-task
    overhead (par=8 beat par=32 by 27% at sf0.1's 5k rows) while at
    scale ceil(rows/target) >= cores and the clamp returns full
    parallelism — the honest version of the partition shrink r14
    declined as a bench-tuned constant. Row counts come from the
    parquet footers of ``df``'s input files, read driver-side (no
    Spark job); any failure (non-parquet source, no files, unreadable
    footer) falls back to defaultParallelism, i.e. the old behavior."""
    import math

    par = spark.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        return par
    if not files:
        return par
    n_rows = _FOOTER_ROWS.get(files)
    if n_rows is None:
        try:
            import pyarrow.parquet as pq

            n_rows = sum(
                pq.ParquetFile(_local_path(f)).metadata.num_rows
                for f in files
                if f.endswith(".parquet")
            )
        except Exception:  # a sizing probe: never fail the query
            return par
        _FOOTER_ROWS[files] = n_rows
    if not n_rows:
        return par
    return max(1, min(par, math.ceil(n_rows / rows_per_task)))


# --- scalable global ordering primitives --------------------------------
#
# Global dense rank / prefix sum WITHOUT a single-partition window:
# range-repartition on the key, rank/scan inside each partition, then
# closed-form offsets from a bounded (<= shuffle_partitions rows)
# driver collect. The ranked frame is localCheckpoint'ed BEFORE the
# offsets collect: range boundaries come from a sampling job and AQE
# may re-plan between executions, so the offsets job and every later
# consumer must read ONE frozen materialization of the partition ids.
# Used by the suffix-array construction and any operator needing a
# corpus-wide rank (LM quality bucketing).


def global_dense_rank(df, cols: list, out: str, checkpoint_storage=None):
    """Dense rank (0-based) over the WHOLE frame by ``cols`` without a
    single-partition window: range-repartition on the key, dense_rank
    inside each partition, then add per-partition offsets computed
    from the (<= shuffle_partitions)-row distinct-count collect.
    RangePartitioner puts equal keys in one partition, so
    per-partition dense ranks splice into a global dense rank
    exactly.

    ``checkpoint_storage``: optional StorageLevel for the frozen
    materialization. The default (None -> MEMORY_AND_DISK) is right
    for the typical bounded frame; callers ranking CORPUS-SIZED frames
    (one row per suffix position) pass DISK_ONLY so the checkpoint
    cannot crowd the executor heap — the r8 sf1 OOM lesson: two 15M-row
    string-carrying checkpoints + 32 task sort buffers do not coexist
    in the measured-best 8g local heap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = [F.col(c) for c in cols]
    d = df.repartitionByRange(n_parts, *key).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*key)
    # localCheckpoint BEFORE the offsets collect: range boundaries come
    # from a sampling job and AQE may re-plan between executions, so
    # the offsets job and every later consumer MUST read one frozen
    # materialization of (__pid, __lr) — recomputing the shuffle could
    # assign different partition ids and splice garbage ranks
    d = d.withColumn("__lr", F.dense_rank().over(w)).localCheckpoint(
        eager=True, storageLevel=checkpoint_storage
    )
    # bounded collect: one row per non-empty partition
    per = sorted(
        (r["__pid"], r["__cnt"])
        for r in d.groupBy("__pid").agg(F.max("__lr").alias("__cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in per:
        offsets[pid] = acc
        acc += cnt
    if offsets:
        omap = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
        off = omap[F.col("__pid")]
    else:
        # empty frame: no rows means no lookups — but an argless
        # create_map() has VOID value type and fails ANALYSIS, so any
        # typed literal keeps the (empty) plan resolvable
        off = F.lit(0)
    return (
        d.withColumn(out, (F.col("__lr") - 1 + off).cast("bigint"))
        .drop("__pid", "__lr")
    )


def global_running_sum(df, order_col: str, val_col: str, out: str,
                       checkpoint_storage=None):
    """Inclusive prefix sum of ``val_col`` in ``order_col`` order
    without a single-partition window: range repartition, local
    cumulative sum, per-partition totals (bounded collect) as
    offsets. ``checkpoint_storage`` as in global_dense_rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartitionByRange(n_parts, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same freeze-before-collect contract as _global_dense_rank
    d = d.withColumn("__ls", F.sum(val_col).over(w)).localCheckpoint(
        eager=True, storageLevel=checkpoint_storage
    )
    per = sorted(
        (r["__pid"], r["__tot"])
        for r in d.groupBy("__pid").agg(F.sum(val_col).alias("__tot")).collect()
    )
    offsets, acc = {}, 0
    for pid, tot in per:
        offsets[pid] = acc
        acc += tot or 0
    if offsets:
        omap = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
        off = omap[F.col("__pid")]
    else:  # empty frame — same VOID-map analysis trap as above
        off = F.lit(0)
    return d.withColumn(
        out, (F.col("__ls") + off).cast("bigint")
    ).drop("__pid", "__ls")
