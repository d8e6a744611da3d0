"""Small shared helpers."""

from __future__ import annotations

import functools
import threading
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


# --- frame ownership -----------------------------------------------------
#
# Operators that reuse an intermediate frame in two plan branches cache
# or eagerly localCheckpoint it so one action computes it once. The
# JVM-side blocks outlive the Python wrapper, so every such frame is
# registered with the calling thread's owner and freed only by
# release() (Spark SQL's cache manager contract: an explicit persist
# paired with an explicit unpersist on the same owner). One owner per
# thread, so a thread's release() frees only frames it registered
# (see release() for caches with equal plans). Strong refs on purpose.

_OWNER = threading.local()


def _owned() -> list:
    """The calling thread's owned (frame, checkpoint RDD or None) pairs."""
    if not hasattr(_OWNER, "frames"):
        _OWNER.frames = []
    return _OWNER.frames


def is_checkpoint(df) -> bool:
    """True when ``df``'s analyzed plan is a ``LogicalRDD`` leaf, the
    shape ``localCheckpoint()`` returns."""
    return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


def own(df):
    """Register ``df`` with the calling thread's owner and return it.

    ``df`` must be the result of ``.cache()``/``.persist()`` or of
    ``.localCheckpoint()``; anything else raises ``ValueError``, as does
    owning a frame twice. For a checkpoint the RDD behind the leaf is
    read here, through the private
    ``queryExecution().analyzed().rdd()`` seam (``df.unpersist()`` is
    a no-op on a checkpoint); a seam that stops working raises too.

    The owner frees the frame only in :func:`release`. Releasing a
    cache drops it and Spark recomputes on next use. Releasing a
    checkpoint deletes the only copy of its rows: a consumer that has
    not materialized yet then fails (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND),
    it does not recompute. Release a checkpoint only once every
    consumer is materialized (an eager checkpoint, a collect)."""
    from pyspark import StorageLevel

    owned = _owned()
    if any(f is df for f, _ in owned):
        raise ValueError("own: frame already owned by this thread")
    if df.storageLevel != StorageLevel.NONE:
        rdd = None
    elif is_checkpoint(df):
        rdd = df._jdf.queryExecution().analyzed().rdd()
        if not rdd.getStorageLevel().isValid():
            raise ValueError("own: the checkpoint's RDD holds no blocks")
    else:
        raise ValueError("own: frame is neither cached nor a localCheckpoint")
    owned.append((df, rdd))
    return df


def release(frames=None) -> int:
    """Free ``frames``, or every frame the calling thread owns when
    None; returns how many were freed. A frame this thread does not
    own (released twice, or owned by another thread) raises
    ``ValueError`` before anything is freed. A cache goes through
    ``df.unpersist()``, a checkpoint through its RDD's ``unpersist``;
    see :func:`own` for when a checkpoint may be released. Spark keys
    caches by plan, so two owned frames with equal plans share one
    cache, and releasing either uncaches both (a recompute, never a
    wrong result)."""
    owned = _owned()
    held = {id(f): (f, rdd) for f, rdd in owned}
    ids = list(held) if frames is None else [id(f) for f in frames]
    picked = [held.pop(i, None) for i in ids]
    if None in picked:
        raise ValueError("release: frame not owned by this thread")
    owned[:] = held.values()
    for df, rdd in picked:
        if rdd is None:
            df.unpersist()
        else:
            rdd.unpersist(False)
    return len(picked)


def release_all_persistent(spark) -> int:
    """Query-boundary cleanup for benches and probes: :func:`release`."""
    return release()


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
# lru_cache keeps no raised read, so a transient failure costs one
# fallback, not the rest of the session; the cap bounds a long-lived
# session that sizes many distinct inputs.
@functools.lru_cache(maxsize=128)
def _footer_rows(files: tuple) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(_local_path(f)).metadata.num_rows
        for f in files
        if f.endswith(".parquet")
    )


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
    try:
        n_rows = _footer_rows(files)
    except Exception:  # a sizing probe: never fail the query
        return par
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
    d = own(d.withColumn("__lr", F.dense_rank().over(w)).localCheckpoint(
        eager=True, storageLevel=checkpoint_storage
    ))
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
    d = own(d.withColumn("__ls", F.sum(val_col).over(w)).localCheckpoint(
        eager=True, storageLevel=checkpoint_storage
    ))
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
