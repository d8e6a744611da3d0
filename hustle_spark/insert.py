"""Bulk JSON event ingest — the reference's ``insert(...)``.

Reference (public repo: ``hustle/__init__.py`` insert →
``hustle/core/marble.py`` marble build): a *client-side* loop decodes
newline-JSON (ujson), applies an optional ``preprocess(row)`` hook,
coerces to the declared column types (unknown fields dropped), packs an
LMDB marble, and ``ddfs.push``-es it under the table tag when
``maxsize`` is exceeded.

Spark mapping: ``spark.read.schema(declared).json(path)`` gives the
same decode+coerce+drop semantics (schema-on-read discards undeclared
fields; type coercion per declared type), the ``preprocess`` hook
becomes a DataFrame transformation (or Arrow-batched Pandas UDF), and
the write is an append into the partitioned Parquet table. Unlike the
reference this path is *distributed* — ingest parallelism scales with
the cluster instead of one client process; there is no ``maxsize``
marble-roll knob because Parquet file sizing is handled by
``spark.sql.files.maxRecordsPerFile`` / partition sizing.

The returned row count is collected via ``observe`` DURING the append
action — the source is scanned exactly ONCE (a separate ``count()``
would double 100 TB ingest cost), and the count is by construction the
rows actually written, not a second evaluation that could diverge.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .catalog import Catalog, conform


def insert(
    catalog: Catalog,
    table: str,
    phile: str | None = None,
    streams: DataFrame | None = None,
    preprocess: Callable[[DataFrame], DataFrame] | None = None,
    decoder: str = "json",
) -> int:
    """Load events into ``table``; returns the number of rows ingested.

    ``phile``: path to newline-JSON (or CSV with ``decoder='csv'``).
    ``streams``: alternatively, an already-built DataFrame to append
    (the reference accepted open file streams here).
    ``preprocess``: DataFrame -> DataFrame hook, run before the write —
    the distributed analogue of the reference's per-row hook. Its
    output is re-coerced to the declared schema (``catalog.conform``),
    so a hook that adds, renames, or retypes columns cannot write
    files that disagree with the schema every read trusts.
    """
    path, schema = catalog._resolve(table)
    if schema is None:
        raise ValueError(f"insert target {table!r} has no declared hustle schema")
    struct = schema.to_struct()

    if streams is not None:
        df = conform(streams, schema)
    elif phile is not None:
        if decoder == "json":
            df = catalog.spark.read.schema(struct).json(phile)
        elif decoder == "csv":
            df = catalog.spark.read.schema(struct).option("header", "true").csv(phile)
        else:
            raise ValueError(f"unknown decoder {decoder!r}")
        # schema-on-read silently null-fills an absent/misspelled
        # partition field (routing rows to __HIVE_DEFAULT_PARTITION__);
        # probe ONE row up front to catch the common total-absence case
        # before any write (the observe backstop below catches the rest)
        if schema.partition:
            head = df.select(schema.partition).limit(1).collect()
            if head and head[0][0] is None:
                raise ValueError(
                    f"insert into {table!r}: partition column "
                    f"{schema.partition!r} is null in the first input row "
                    "— absent or misspelled in the source records?"
                )
    else:
        raise ValueError("insert needs phile= or streams=")

    if preprocess is not None:
        # re-coerce: the hook may filter/derive, but what lands must be
        # the declared schema (partition presence re-checked — a hook
        # that drops the partition column gets the loud error, not
        # __HIVE_DEFAULT_PARTITION__ corruption)
        df = conform(preprocess(df), schema)

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n")]
    if schema.partition:
        metrics.append(F.count(schema.partition).alias("n_part"))
    df = df.observe(obs, *metrics)
    catalog.append(table, df)
    got = obs.get
    n = int(got["n"])
    if schema.partition and n > 0 and int(got["n_part"]) == 0:
        raise ValueError(
            f"insert into {table!r}: every ingested row had a NULL "
            f"partition value for {schema.partition!r}; the rows landed in "
            f"{schema.partition}=__HIVE_DEFAULT_PARTITION__ — reclaim with "
            f"catalog.delete_partitions({table!r}, ['__HIVE_DEFAULT_PARTITION__'])"
        )
    return n
