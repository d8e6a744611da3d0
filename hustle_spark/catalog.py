"""Catalog: table registration / create / drop / partition lifecycle.

Reference semantics (public repo: ``hustle/__init__.py``): tables live
as DDFS tags ``hustle:<table>[:<partition>]`` whose attributes hold the
schema; ``Table.create`` declares, ``insert`` appends marbles,
``delete`` drops whole partitions (the only deletion unit),
``drop`` removes the table, ``tables()/schema()/partitions()``
enumerate metadata.

Spark mapping: a catalog directory holds one subdirectory of Parquet
per table (Hive-style ``<part>=<value>/`` layout when partitioned) plus
``_hustle_schema.json`` carrying the hustle column specs and index
hints. Partition pruning and columnar scans come from Catalyst/Parquet;
append-only ingest is ``mode("append")``; delete-by-partition is a
directory remove — identical lifecycle, zero custom storage.

The declared schema is the read contract, as the tag attributes are in
hustle: every write (``append``, ``compact``) projects onto it, and
every read of a managed table hands it to Spark
(``spark.read.schema``), so no read launches a schema-inference job and
the partition column keeps its declared type instead of one Spark
guesses from directory names. Only tables without a sidecar — bare
``<name>.parquet`` files and foreign directories — are inferred.

Scale notes: at 100 TB the catalog dir sits on HDFS/S3; everything here
is path manipulation + Spark reads, so nothing changes. Indexed columns
(``index`` spec prefix) get Parquet bloom filters + a sort within
partitions at write time — the analogue of hustle's EWAH bitmap
indexes, enabling row-group skip on point predicates. Compaction is one
read, one shuffle and one write however many partitions a table has.
"""

from __future__ import annotations

import json
import shutil
import uuid
from collections import Counter
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import TableSchema
from .table import Table

SCHEMA_FILE = "_hustle_schema.json"


def conform(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Project onto the declared schema: drop unknown columns, cast
    declared ones, fill declared-but-absent columns with typed NULLs so
    every written file carries the complete table schema in a
    consistent order — the files then hold exactly the types the
    declared-schema reads trust. The partition column must be PRESENT:
    NULL-filling it would silently route every row to
    __HIVE_DEFAULT_PARTITION__ and corrupt the delete-by-partition
    lifecycle."""
    present = set(df.columns)
    if schema.partition and schema.partition not in present:
        raise ValueError(
            f"write into {schema.name!r}: partition column "
            f"{schema.partition!r} missing from input"
        )
    return df.select(
        *[
            (df[f.name].cast(f.dataType) if f.name in present
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in schema.to_struct().fields
        ]
    )


def _nanos_timestamp_columns(path: Path) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) under ``path``."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return []
    target = path
    if path.is_dir():
        files = sorted(path.rglob("*.parquet"))
        if not files:
            return []
        target = files[0]
    try:
        schema = pq.read_schema(str(target))
    except Exception:
        return []
    out = []
    for field_ in schema:
        t = field_.type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            out.append(field_.name)
    return out


def _indexed(schema: TableSchema) -> list[str]:
    """Indexed data columns (the partition column is a directory)."""
    return [c for c in schema.indexed_columns if c != schema.partition]


def _writer(df: DataFrame, schema: TableSchema | None, indexed: list[str], mode: str):
    """Parquet writer with a bloom filter per indexed column and the
    hive layout of a partitioned table."""
    writer = df.write.mode(mode)
    for c in indexed:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if schema is not None and schema.partition:
        writer = writer.partitionBy(schema.partition)
    return writer


class Catalog:
    def __init__(self, spark: SparkSession, root: str | Path, scratch: str | Path | None = None):
        self.spark = spark
        self.root = Path(root)
        self.scratch = Path(scratch) if scratch else self.root / "_scratch"
        self._cache: dict[str, Table] = {}
        self._sweep_stale_compaction_dirs()

    def _sweep_stale_compaction_dirs(self) -> None:
        """Connect-time orphan sweep. ``_recover_orphans`` (below) runs
        only when a table DIR is missing — so a crash after
        ``staging.rename(path)`` but before ``rmtree(trash)`` leaves a
        stale ``_<name>.trash.*`` that is hidden from tables() yet
        silently holds disk equal to the table size (ADVICE r3). One
        pass at connect time reclaims every trash/staging sibling whose
        table dir is present; missing-dir cases still go through the
        restore path in _recover_orphans."""
        if not self.root.is_dir():
            return
        for d in self.root.glob("_*.trash.*"):
            name = d.name[1:].split(".trash.")[0]
            if (self.root / name).is_dir():
                shutil.rmtree(d, ignore_errors=True)
        for d in self.root.glob("_*.compact.*"):
            name = d.name[1:].split(".compact.")[0]
            if (self.root / name).is_dir():
                shutil.rmtree(d, ignore_errors=True)

    # ---- discovery ----

    def tables(self) -> list[str]:
        """List table names: bare ``<name>.parquet`` files (driver
        testdata layout) and managed table directories."""
        names: set[str] = set()
        if self.root.exists():
            for p in self.root.iterdir():
                if p.name.startswith("_") or p.name.startswith("."):
                    continue
                if p.is_file() and p.suffix == ".parquet":
                    names.add(p.stem)
                elif p.is_dir():
                    names.add(p.name)
        return sorted(names)

    def table(self, name: str) -> Table:
        if name in self._cache:
            return self._cache[name]
        path, schema = self._resolve(name)
        if schema is not None:
            # declared schema: no inference job, and a table created
            # but never written reads as an empty relation
            df = self.spark.read.schema(schema.to_struct()).parquet(str(path))
        else:
            df = self._read_parquet(path)
        t = Table(name, df, schema=schema, catalog=self)
        self._cache[name] = t
        return t

    def _read_parquet(self, path: Path) -> DataFrame:
        """Read parquet, transparently handling TIMESTAMP(NANOS) columns
        (Spark's vectorized reader rejects them; the driver testdata's
        ``events.ts`` is nanos). We read nanos as raw int64 and convert
        to TimestampType at microsecond precision — a metadata-only
        change per batch, no row-at-a-time work."""
        ns_cols = _nanos_timestamp_columns(path)
        if not ns_cols:
            return self._ltz(self.spark.read.parquet(str(path)))
        # nanosAsLong is pinned session-wide (session.DEFAULT_CONFIGS /
        # tune_existing); set it here too for foreign sessions that
        # bypassed both, and deliberately do NOT restore it — the scan
        # is lazy, so toggling the conf back before the action runs
        # would make the read fail or misread at execution time.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(str(path))
        dtypes = dict(df.dtypes)
        for c in ns_cols:
            # Spark-written files carry row metadata declaring the
            # column TimestampType, which overrides nanosAsLong and
            # yields a ready timestamp — only convert when the scan
            # actually surfaced the raw int64
            if dtypes.get(c) != "bigint":
                continue
            # integer division keeps full int64 precision (a float path
            # would lose it: 1.7e18 ns exceeds double's 53-bit mantissa)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return self._ltz(df)

    def _ltz(self, df: DataFrame) -> DataFrame:
        """Normalize TIMESTAMP_NTZ columns to session-TZ TimestampType.

        Plain pyarrow/pandas-written micros files (isAdjustedToUTC=
        false, e.g. the driver testdata) surface as NTZ under Spark 4's
        default inferTimestampNTZ; the engine convention is LTZ with a
        UTC session (session.DEFAULT_CONFIGS), where this cast is a
        metadata-only reinterpretation of the same micros value. It
        keeps every downstream epoch/interval expression valid — ANSI
        Spark refuses NTZ→numeric casts — and matches the declared-
        schema streaming source, so batch and stream reads of the same
        file agree bit-for-bit."""
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        return df

    def _recover_orphans(self, name: str, path: Path | None = None) -> None:
        """Crash-recovery sweep for ``compact``'s non-atomic dir swap.

        The swap is ``path.rename(trash); staging.rename(path);
        rmtree(trash)`` — a crash between the renames leaves the table
        dir missing with the data intact in ``_<name>.trash.*``. This
        sweep (run on table resolution when the dir is absent, and at
        the start of every ``compact``) restores the newest stranded
        trash dir and deletes dead trash/staging siblings once the
        table dir is in place, so no manual recovery is ever needed.
        """
        path = path or (self.root / name)
        parent = path.parent
        trash = list(parent.glob(f"_{name}.trash.*"))
        staging = list(parent.glob(f"_{name}.compact.*"))
        if not path.exists() and trash:
            newest = max(trash, key=lambda p: p.stat().st_mtime)
            newest.rename(path)
            trash.remove(newest)
        if path.exists():
            for d in trash + staging:
                shutil.rmtree(d)

    def _resolve(self, name: str) -> tuple[Path, TableSchema | None]:
        file_path = self.root / f"{name}.parquet"
        dir_path = self.root / name
        if not dir_path.is_dir() and not file_path.exists():
            self._recover_orphans(name, dir_path)
        if dir_path.is_dir():
            schema = None
            sf = dir_path / SCHEMA_FILE
            if sf.exists():
                schema = TableSchema.from_json_dict(json.loads(sf.read_text()))
            return dir_path, schema
        if file_path.exists():
            return file_path, None
        raise KeyError(f"no table {name!r} under {self.root}")

    def schema(self, name: str) -> list[str]:
        """Hustle-style schema listing (reference ``schema(t)``)."""
        t = self.table(name)
        if t.hustle_schema:
            return [c.spec or f"{c.type_name} {c.name}" for c in t.hustle_schema.columns]
        return [f"{f.dataType.simpleString()} {f.name}" for f in t.df.schema.fields]

    def partitions(self, name: str) -> list[str]:
        """Partition values present (reference ``partitions(t)``)."""
        path, schema = self._resolve(name)
        if schema is None or schema.partition is None or not path.is_dir():
            return []
        prefix = f"{schema.partition}="
        return sorted(
            p.name[len(prefix):] for p in path.iterdir()
            if p.is_dir() and p.name.startswith(prefix)
        )

    # ---- lifecycle ----

    def create(self, name: str, columns: list[str], partition: str | None = None) -> Table:
        """Reference ``Table.create(name, columns=[...], partition=...)``."""
        schema = TableSchema.parse(name, columns, partition)
        dir_path = self.root / name
        if dir_path.exists():
            raise ValueError(f"table {name!r} already exists")
        dir_path.mkdir(parents=True)
        (dir_path / SCHEMA_FILE).write_text(json.dumps(schema.to_json_dict(), indent=2))
        return self.table(name)

    def drop(self, name: str) -> None:
        """Reference ``drop(table)`` — remove table + data."""
        dir_path = self.root / name
        if dir_path.is_dir():
            shutil.rmtree(dir_path)
        self._cache.pop(name, None)

    def delete_partitions(self, name: str, values: list[str]) -> None:
        """Reference ``delete(where=...)`` — deletion only by whole
        partition (append-only model, SURVEY section 1)."""
        path, schema = self._resolve(name)
        if schema is None or schema.partition is None:
            raise ValueError(f"table {name!r} is not partitioned")
        for v in values:
            pdir = path / f"{schema.partition}={v}"
            if pdir.is_dir():
                shutil.rmtree(pdir)
        self._cache.pop(name, None)

    def delete(self, name: str, where) -> list[str]:
        """Reference ``delete(where=<partition predicate>)``: a
        predicate over the partition column selects whole partitions to
        drop. ``where`` is a Python predicate over the partition value
        string (e.g. ``lambda d: d < '2014-01-21'``) or an explicit
        value list. Returns the partition values deleted."""
        values = self.partitions(name)
        if callable(where):
            doomed = [v for v in values if where(v)]
        else:
            # materialize ONCE: a generator would be consumed by the
            # first membership test and silently match nothing after
            wanted = set(where)
            doomed = [v for v in values if v in wanted]
        self.delete_partitions(name, doomed)
        return doomed

    # ---- write paths ----

    def append(self, name: str, df: DataFrame) -> None:
        """Append a DataFrame into a managed table (the marble push).
        A declared table receives ``df`` projected onto its schema
        (:func:`conform`)."""
        path, schema = self._resolve(name)
        indexed: list[str] = []
        if schema is not None:
            df = conform(df, schema)
            indexed = _indexed(schema)
            if indexed:
                # sort + bloom filter per indexed column ~= hustle's
                # per-value bitmap index
                df = df.sortWithinPartitions(*indexed)
        _writer(df, schema, indexed, "append").parquet(str(path))
        self._cache.pop(name, None)

    def compact(self, name: str, target_file_mb: int = 128) -> int:
        """Small-file compaction: rewrite a managed table so data files
        approach ``target_file_mb`` each. Micro-batch appends accumulate
        tiny files; at scale, file count drives scan task count and
        listing pressure, so periodic compaction is a core operational
        task (the 100 TB analogue of the reference's marble GC).
        Returns the number of data files after compaction.

        One read (by the declared schema when the table has one), one
        shuffle and one write, however many partitions the table has:
        the cost is a fixed number of Spark jobs, parallel across
        partitions. Each hive partition is sized from its own file
        bytes: it gets a salt range of ``ceil(partition_bytes /
        target)`` and the shuffle is keyed on (partition value, salt),
        so a hot partition larger than the target still splits into
        several files while a small one lands in exactly one.
        File-count bound: a partition ends with at least one and at
        most ``ceil(partition_bytes / target)`` files — fewer when two
        of its salts hash to the same shuffle partition. An
        unpartitioned table is dealt round-robin into
        ``ceil(table_bytes / target)`` files. Index options are
        preserved: each file is sorted on the indexed columns and bloom
        filters are re-written, so compaction also repairs sort/bloom
        locality lost to many small appends.

        Single-writer, single-process semantics (the engine's
        append-only model has no concurrent writers): the rewrite lands
        in a sibling staging dir and is swapped in with two renames.
        The swap is NOT atomic — a crash between the two renames leaves
        the table dir absent with the data intact in a
        ``_<name>.trash.*`` sibling; ``compact`` (and ``table``
        resolution) therefore starts with an orphan sweep that restores
        a stranded trash dir and clears dead staging dirs, so the
        recovery path is automatic on next contact. DataFrames resolved
        BEFORE the compaction must be re-acquired afterwards
        (``catalog.table`` re-resolves; the internal cache is
        invalidated here). On a multi-writer lake this swap is where a
        transactional table format's commit protocol — and its snapshot
        retention — would slot in.
        """
        path, schema = self._resolve(name)
        self._recover_orphans(name, path)
        if not path.is_dir():
            raise ValueError(f"table {name!r} is not a managed directory table")
        # the files Spark reads: hidden paths (a crashed write's
        # ``_temporary``) are skipped as the reader skips them
        data_files = [
            p for p in path.rglob("*.parquet")
            if not any(s.startswith(("_", ".")) for s in p.relative_to(path).parts)
        ]
        if not data_files:
            return 0
        target_bytes = target_file_mb * 1024 * 1024
        staging = path.parent / f"_{name}.compact.{uuid.uuid4().hex[:8]}"
        if schema is None:
            # raw read of a foreign table: compaction must rewrite
            # BYTES-equivalent data. Going through _read_parquet would
            # bake its read-time conversions (nanos->micros, NTZ->LTZ)
            # into the files — silently changing on-disk types. A
            # foreign nanos table fails loudly here instead of being
            # lossily rewritten.
            read = self.spark.read
            part, indexed = None, []
        else:
            read = self.spark.read.schema(schema.to_struct())
            part, indexed = schema.partition, _indexed(schema)
        if part:
            prefix = f"{part}="
            part_bytes: Counter = Counter()
            stray = []
            for p in data_files:
                top, *rest = p.relative_to(path).parts
                if rest and top.startswith(prefix):
                    part_bytes[unquote(top[len(prefix):])] += p.stat().st_size
                else:
                    stray.append(str(p.relative_to(path)))
            if stray:
                # a foreign/manual write left data files outside the
                # hive layout; the partitioned rewrite would silently
                # drop them and the trash removal would destroy them
                stray.sort()
                raise ValueError(
                    f"partitioned table {name!r} has non-hive data files "
                    f"({stray[:3]}{'...' if len(stray) > 3 else ''}); "
                    "refusing to compact — move them into a "
                    f"{prefix}<value>/ directory first"
                )
            salts = {v: max(1, -(-b // target_bytes)) for v, b in part_bytes.items()}
            # only partitions over the target need a salt; the map is
            # looked up per row, so it holds just those
            hot = {v: n for v, n in salts.items() if n > 1}
            salt = F.lit(0)
            if hot:
                n_salt = F.create_map(*[F.lit(x) for kv in hot.items() for x in kv])
                salt = F.pmod(
                    F.monotonically_increasing_id(),
                    F.coalesce(n_salt[F.col(part).cast("string")], F.lit(1)),
                )
            out = (
                read.parquet(str(path))
                .withColumn("__salt", salt)
                .repartition(sum(salts.values()), part, "__salt")
                .drop("__salt")
            )
        else:
            total_bytes = sum(p.stat().st_size for p in data_files)
            out = read.parquet(str(path)).repartition(max(1, -(-total_bytes // target_bytes)))
        # the partition column leads so the hive writer needs no sort
        # of its own, which would not keep the indexed order
        order = ([part] if part else []) + indexed
        if order:
            out = out.sortWithinPartitions(*order)
        _writer(out, schema, indexed, "overwrite").parquet(str(staging))
        # carry the schema sidecar, then swap dirs
        sidecar = path / SCHEMA_FILE
        if sidecar.exists():
            shutil.copy2(sidecar, staging / SCHEMA_FILE)
        trash = path.parent / f"_{name}.trash.{uuid.uuid4().hex[:8]}"
        path.rename(trash)
        staging.rename(path)
        shutil.rmtree(trash)
        self._cache.pop(name, None)
        return len(list(path.rglob("*.parquet")))

    def materialize(self, df: DataFrame, name: str | None = None) -> Table:
        """``nest=True`` support: persist a result as a queryable Table
        (reference wrote marbles to a fresh DDFS tag). The name must
        not collide with a managed table: the nested result lives in
        the session cache + scratch only, so shadowing a root table
        would silently flip ``table(name)`` between two datasets
        across cache invalidations."""
        name = name or f"nest_{uuid.uuid4().hex[:8]}"
        # both managed-table forms: a directory table or a bare
        # <name>.parquet file (same lookup _resolve performs)
        if (self.root / name).is_dir() or (self.root / f"{name}.parquet").exists():
            raise ValueError(
                f"nest name {name!r} collides with a managed table; "
                "pick a distinct nest_name"
            )
        out = self.scratch / name
        if out.exists():
            shutil.rmtree(out)
        df.write.mode("overwrite").parquet(str(out))
        # read back by the schema just written: no inference job
        t = Table(name, self.spark.read.schema(df.schema).parquet(str(out)), catalog=self)
        self._cache[name] = t
        return t


def connect(spark: SparkSession, root: str | Path, scratch: str | Path | None = None) -> Catalog:
    """Open a catalog over a directory of parquet tables (the analogue of
    pointing a hustle client at a DDFS master)."""
    return Catalog(spark, root, scratch=scratch)
