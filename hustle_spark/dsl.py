"""``select(...)`` — the flagship query entry point of the DSL.

Reference lifecycle (public repo: ``hustle/__init__.py`` select →
``hustle/core/pipeline.py`` SelectPipe): validate the query, build a
Disco pipeline (restrict/scan stage with partial aggregation, shuffle
by ``hash(join_key) % n``, group/join stage, final
agg/distinct/order/limit stage), stream tuples back.

Here the "pipeline spec" is a Catalyst logical plan: we declare the
query as DataFrame transformations and Spark plans the physical
execution (broadcast vs sort-merge join, partial+final HashAggregate,
TakeOrderedAndProject for order+limit — strictly better than the
reference's fixed one-shot physical plan).

Scale notes: every construct below stays JVM-side (no Python UDFs);
joins are eligible for AQE broadcast/skew handling; ``order_by`` +
``limit`` compiles to a top-k (TakeOrderedAndProject), not a full sort.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .expr import Aggregate, Column, Expr
from .table import Table
from .util import own

_JOIN_TYPES = {
    "inner", "cross", "full", "full_outer", "left", "left_outer",
    "right", "right_outer", "left_semi", "left_anti",
}


def _flatten_projection(items: Sequence[Any]) -> list[Any]:
    out: list[Any] = []
    for it in items:
        if isinstance(it, (list, tuple)):
            out.extend(_flatten_projection(it))
        else:
            out.append(it)
    return out


def _collect_tables(*nodes: Any) -> list[Table]:
    seen: dict[int, Table] = {}
    ordered: list[Table] = []
    for node in nodes:
        if node is None:
            continue
        if isinstance(node, (list, tuple)):
            for sub in node:
                for t in _collect_tables(sub):
                    if id(t) not in seen:
                        seen[id(t)] = t
                        ordered.append(t)
            continue
        tables = getattr(node, "tables", None)
        if tables:
            for t in tables:
                if id(t) not in seen:
                    seen[id(t)] = t
                    ordered.append(t)
        elif isinstance(node, Table):
            if id(node) not in seen:
                seen[id(node)] = node
                ordered.append(node)
    return ordered


def _proj_scol(item: Any) -> SparkColumn:
    if isinstance(item, Column):
        return item.scol  # bare column keeps its own name
    if isinstance(item, Expr):
        return item.scol  # Spark auto-names; alias() recommended for oracle parity
    if isinstance(item, str):
        return F.col(item)
    raise TypeError(f"cannot project {item!r}")


def select(
    *project: Any,
    where: Any = None,
    join: Any = None,
    full_join: bool = False,
    join_type: str = "inner",
    broadcast: Any = None,
    order_by: Any = None,
    desc: Any = False,
    limit: int | None = None,
    distinct: bool = False,
    nest: bool = False,
    nest_name: str | None = None,
) -> DataFrame | Table:
    """Run a hustle-style query; returns a DataFrame (or Table if ``nest``).

    Parity kwargs (public repo ``hustle/__init__.py`` select):
    ``where`` (Expr, or per-table tuple of Exprs when joining), ``join``
    (pair of Columns, or a common column name), ``full_join``,
    ``order_by`` (columns, names, or 0-based select-list positions),
    ``desc``, ``limit``, ``distinct``, ``nest``.

    EXT kwargs: ``join_type`` (outer/semi/anti/cross), multi-way joins
    via a list of column pairs in ``join``, computed projections via
    aliased Exprs, ``broadcast=`` (a Table or list of Tables whose side
    of the join should be broadcast — the explicit form of what AQE
    decides from size estimates; use when statistics lie, e.g. a small
    post-filter output of a large table).
    """
    proj = _flatten_projection(project)
    if not proj:
        raise ValueError("select() needs at least one projected column or aggregate")

    tables = _collect_tables(proj, where, join, order_by)
    if not tables:
        raise ValueError("could not infer source tables from the query")

    where_list = list(where) if isinstance(where, tuple) else None

    # --- resolve source relation (scan / join) ---
    if len(tables) == 1:
        df = tables[0].df
        if where_list is not None:
            for w in where_list:
                if w is not None:
                    df = df.filter(w.scol)
        elif where is not None:
            df = df.filter(where.scol)
    else:
        bcast = set()
        if broadcast is not None:
            items = broadcast if isinstance(broadcast, (list, tuple)) else [broadcast]
            bcast = {id(t) for t in items}
        df = _build_join(tables, where, where_list, join, full_join, join_type, bcast)

    # --- projection / aggregation (implicit GROUP BY = non-agg columns) ---
    aggs = [p for p in proj if isinstance(p, Aggregate)]
    keys = [p for p in proj if not isinstance(p, Aggregate)]
    if aggs:
        agg_cols = [a.spark_agg() for a in aggs]
        if keys:
            df = df.groupBy(*[_proj_scol(k) for k in keys]).agg(*agg_cols)
        else:
            df = df.agg(*agg_cols)
        # restore the user's projection order (groupBy puts keys first already)
        out_names = [_item_out_name(p, df) for p in proj]
        df = df.select(*out_names)
    else:
        df = df.select(*[_proj_scol(p) for p in proj])

    if distinct:
        df = df.distinct()

    if order_by is not None:
        df = _apply_order(df, proj, order_by, desc)

    if limit is not None:
        df = df.limit(limit)

    if nest:
        return _materialize(df, tables, nest_name)
    return df


def _item_out_name(item: Any, df: DataFrame) -> str:
    if isinstance(item, Aggregate):
        return item.output_name
    if isinstance(item, Column):
        return item.name
    if isinstance(item, Expr):
        if item.name:
            return item.name
        raise ValueError(
            "computed (non-column) group keys must be aliased: use expr.alias('name')"
        )
    if isinstance(item, str):
        return item.split(".")[-1]
    raise TypeError(f"cannot name projection item {item!r}")


def _build_join(
    tables: list[Table],
    where: Any,
    where_list: list | None,
    join: Any,
    full_join: bool,
    join_type: str,
    bcast: set | None = None,
) -> DataFrame:
    bcast = bcast or set()
    if join_type not in _JOIN_TYPES:
        raise ValueError(f"unknown join_type {join_type!r}")
    if full_join:
        join_type = "full_outer" if join is not None else "cross"

    # per-table restriction (reference: where=(expr_on_t1, expr_on_t2));
    # applying before the join keeps the shuffle input minimal, though
    # Catalyst would push a conjunctive post-filter down anyway. A
    # tuple element that references MORE than one table cannot be
    # applied pre-join — it is collected and applied post-join below
    # (previously it was silently dropped).
    filtered: dict[int, DataFrame] = {}
    applied: set[int] = set()
    for i, t in enumerate(tables):
        df_t = t.df
        if where_list is not None:
            for j, w in enumerate(where_list):
                if w is not None and _only_touches(w, t):
                    df_t = df_t.filter(w.scol)
                    applied.add(j)
        if id(t) in bcast:
            df_t = F.broadcast(df_t)
        filtered[id(t)] = df_t

    pairs = _join_pairs(tables, join)

    if join is None and join_type != "cross":
        raise ValueError("joining two tables requires join=(a.col, b.col) or full_join/cross")

    df = filtered[id(tables[0])]
    joined = {id(tables[0])}
    remaining = list(tables[1:])
    # greedy chain order: each step joins some table connected to the
    # already-joined set (the user's table order need not be a chain)
    while remaining:
        progress = False
        for t in list(remaining):
            cond = None
            for left_col, right_col in pairs:
                touches = {id(tb) for tb in (left_col.table, right_col.table)}
                if id(t) in touches and touches - {id(t)} <= joined:
                    c = left_col.scol == right_col.scol
                    cond = c if cond is None else cond & c
            if join_type == "cross":
                df = df.crossJoin(filtered[id(t)])
            elif cond is None:
                continue
            else:
                df = df.join(filtered[id(t)], cond, join_type)
            joined.add(id(t))
            remaining.remove(t)
            progress = True
        if not progress:
            names = [t.name for t in remaining]
            raise ValueError(f"no join condition connects table(s) {names}")

    # a single where-Expr in join form (EXT convenience): apply post-join;
    # Catalyst pushes single-table conjuncts below the join automatically.
    if where is not None and where_list is None:
        df = df.filter(where.scol)
    # cross-table tuple conjuncts (touching 2+ tables) from the loop above
    if where_list is not None:
        for j, w in enumerate(where_list):
            if w is not None and j not in applied:
                df = df.filter(w.scol)
    return df


def _only_touches(expr: Expr, table: Table) -> bool:
    return all(t is table for t in expr.tables) if expr.tables else True


def _join_pairs(tables: list[Table], join: Any) -> list[tuple[Column, Column]]:
    if join is None:
        return []
    if isinstance(join, str):
        # reference alt form: a common column name shared by both tables
        if len(tables) != 2:
            raise ValueError("join by common column name requires exactly two tables")
        a, b = tables
        return [(Column(a, join), Column(b, join))]
    if isinstance(join, tuple) and len(join) == 2 and isinstance(join[0], Column):
        return [join]  # the classic two-table form
    if isinstance(join, (list, tuple)):
        out = []
        for p in join:
            if not (isinstance(p, (tuple, list)) and len(p) == 2):
                raise ValueError(f"bad join pair {p!r}")
            out.append((p[0], p[1]))
        return out
    raise ValueError(f"bad join spec {join!r}")


def _apply_order(df: DataFrame, proj: list, order_by: Any, desc: Any) -> DataFrame:
    items = order_by if isinstance(order_by, (list, tuple)) else [order_by]
    n = len(items)
    descs = list(desc) if isinstance(desc, (list, tuple)) else [bool(desc)] * n
    if len(descs) != n:
        raise ValueError("desc list length must match order_by length")
    sort_cols = []
    for item, d in zip(items, descs):
        if isinstance(item, int):  # reference: order_by by select-list position
            name = _item_out_name(proj[item], df)
            c = F.col(name)
        elif isinstance(item, str):
            c = F.col(item)
        elif isinstance(item, Column):
            c = F.col(item.name)  # post-projection: unqualified output name
        elif isinstance(item, Aggregate):
            c = F.col(item.output_name)
        elif isinstance(item, Expr):
            c = F.col(item.name) if item.name else item.scol
        else:
            raise TypeError(f"cannot order by {item!r}")
        sort_cols.append(c.desc() if d else c.asc())
    return df.orderBy(*sort_cols)


def _materialize(df: DataFrame, tables: list[Table], nest_name: str | None) -> Table:
    """Reference ``nest=True``: write the result back as a queryable
    Table (public repo: ``hustle/core/pipeline.py``). With a catalog we
    persist to parquet (exactly hustle's marbles-to-a-fresh-tag move);
    otherwise cache in memory, owned by the calling thread (util.own)
    until util.release()."""
    catalog = next((t.catalog for t in tables if t.catalog is not None), None)
    if catalog is not None:
        return catalog.materialize(df, name=nest_name)
    name = nest_name or f"nested_{abs(id(df)) % 10**8}"
    return Table(name, own(df.cache()))
