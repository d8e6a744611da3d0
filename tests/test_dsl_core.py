"""DSL parity tests: the reference's select() surface end-to-end
(SURVEY.md section 2 non-EXT rows), differentially checked vs DuckDB."""

import pytest

import hustle_spark as h

from helpers import assert_df_matches_duck


def test_schema_parser():
    spec = h.parse_column_spec("wide index string token")
    assert spec.name == "token" and spec.index and spec.wide
    assert spec.dtype.simpleString() == "string"
    spec2 = h.parse_column_spec("index uint32 time")
    assert spec2.dtype.simpleString() == "bigint" and spec2.index and not spec2.wide
    spec3 = h.parse_column_spec("lz4 ua")
    assert spec3.dtype.simpleString() == "string" and not spec3.index
    with pytest.raises(ValueError):
        h.parse_column_spec("frobnicate x")


def test_catalog_discovery(catalog):
    names = catalog.tables()
    for t in ["lineitem", "orders", "events", "documents", "embeddings"]:
        assert t in names


def test_restrict_groupby_sum(catalog, duck):
    li = catalog.table("lineitem")
    df = h.select(
        li.l_returnflag,
        h.h_sum(li.l_quantity).alias("sum_qty"),
        where=li.l_shipdate > "1995-01-01",
        order_by=li.l_returnflag,
    )
    assert_df_matches_duck(
        df,
        duck,
        """SELECT l_returnflag, SUM(l_quantity) AS sum_qty
           FROM lineitem WHERE l_shipdate > TIMESTAMP '1995-01-01'
           GROUP BY l_returnflag""",
    )


def test_predicates_and_combinators(catalog, duck):
    ev = catalog.table("events")
    df = h.select(
        ev.event_id,
        ev.user_id,
        where=(ev.event_type == "click") & ~(ev.value < 10.0) | (ev.user_id == 7),
    )
    assert_df_matches_duck(
        df,
        duck,
        """SELECT event_id, user_id FROM events
           WHERE (event_type = 'click' AND NOT value < 10.0) OR user_id = 7""",
    )


def test_isin_lshift(catalog, duck):
    ev = catalog.table("events")
    df = h.select(
        ev.event_type,
        h.h_count().alias("n"),
        where=ev.event_type << ["click", "view"],
        order_by=ev.event_type,
    )
    assert_df_matches_duck(
        df,
        duck,
        """SELECT event_type, COUNT(*) AS n FROM events
           WHERE event_type IN ('click','view') GROUP BY event_type""",
    )


def test_all_six_aggregates(catalog, duck):
    o = catalog.table("orders")
    # raw float h_sum/h_avg are the reference-parity functions but are
    # ULP-nondeterministic across engines, so the value compare uses the
    # exact-decimal funnel (the registry determinism doctrine); the raw
    # variants get a smoke run below.
    df = h.select(
        o.o_orderstatus,
        h.h_count().alias("n"),
        h.h_sum_exact(o.o_totalprice).alias("total"),
        h.h_avg_exact(o.o_totalprice).alias("mean"),
        h.h_min(o.o_totalprice).alias("lo"),
        h.h_max(o.o_totalprice).alias("hi"),
        h.h_count_distinct(o.o_custkey).alias("nd_cust"),
    )
    assert_df_matches_duck(
        df,
        duck,
        """SELECT o_orderstatus, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
                  MIN(o_totalprice) AS lo,
                  MAX(o_totalprice) AS hi, COUNT(DISTINCT o_custkey) AS nd_cust
           FROM orders GROUP BY o_orderstatus""",
    )
    raw = h.select(
        o.o_orderstatus,
        h.h_sum(o.o_totalprice).alias("total"),
        h.h_avg(o.o_totalprice).alias("mean"),
    ).collect()
    assert all(r.total is not None and r.mean is not None for r in raw)


def test_cardinality_approx_close(catalog):
    ev = catalog.table("events")
    df = h.select(h.h_cardinality(ev.user_id).alias("card"))
    exact = h.select(h.h_count_distinct(ev.user_id).alias("card"))
    approx_v = df.collect()[0][0]
    exact_v = exact.collect()[0][0]
    assert abs(approx_v - exact_v) / exact_v < 0.1  # HLL++ default rsd ~2.3%


def test_join_two_table(catalog, duck):
    li = catalog.table("lineitem")
    o = catalog.table("orders")
    df = h.select(
        o.o_orderpriority,
        h.h_sum(li.l_extendedprice).alias("revenue"),
        where=(li.l_quantity > 10.0, o.o_orderstatus == "F"),
        join=(li.l_orderkey, o.o_orderkey),
        order_by=o.o_orderpriority,
    )
    assert_df_matches_duck(
        df,
        duck,
        """SELECT o_orderpriority, SUM(l_extendedprice) AS revenue
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_quantity > 10.0 AND o_orderstatus = 'F'
           GROUP BY o_orderpriority""",
    )


def test_join_by_common_name(catalog, spark, duck):
    # build two tiny tables sharing a column name, reference's alt join form
    n = catalog.table("nation")
    r = catalog.table("region")
    df = h.select(
        r.r_name,
        h.h_count().alias("n_nations"),
        join=(n.n_regionkey, r.r_regionkey),
        order_by=r.r_name,
    )
    assert_df_matches_duck(
        df,
        duck,
        """SELECT r_name, COUNT(*) AS n_nations
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name""",
    )


def test_distinct_order_limit(catalog, duck):
    p = catalog.table("part")
    df = h.select(p.p_brand, distinct=True, order_by=p.p_brand, desc=True, limit=5)
    assert_df_matches_duck(
        df,
        duck,
        "SELECT DISTINCT p_brand FROM part ORDER BY p_brand DESC LIMIT 5",
    )


def test_order_by_position_and_star(catalog, duck):
    r = catalog.table("region")
    df = h.select(h.star(r), order_by=0, desc=True)
    rows = [tuple(x) for x in df.collect()]
    duck_rows = duck.execute(
        "SELECT * FROM region ORDER BY r_regionkey DESC"
    ).fetchall()
    assert rows == duck_rows


def test_nest_without_catalog_is_owned_and_released(spark):
    """A nest=True select with no catalog caches its result in memory;
    that cache is owned by the calling thread and release() frees it."""
    from pyspark import StorageLevel

    from hustle_spark import util

    t = h.Table("t", spark.createDataFrame(
        [(1, 2.0), (1, 3.0), (2, 5.0)], "k long, v double"))
    util.release()
    nested = h.select(t.k, h.h_sum(t.v).alias("total"), nest=True)
    (cached,) = [f for f, _ in util._owned()]
    assert cached.storageLevel != StorageLevel.NONE
    assert sorted(tuple(r) for r in nested.df.collect()) == [(1, 5.0), (2, 5.0)]
    assert util.release() == 1
    assert cached.storageLevel == StorageLevel.NONE


def test_nest_materialize_requery(catalog, duck):
    ev = catalog.table("events")
    nested = h.select(
        ev.user_id,
        h.h_sum(ev.value).alias("total"),
        where=ev.event_type == "purchase",
        nest=True,
    )
    assert isinstance(nested, h.Table)
    df = h.select(
        h.h_count().alias("n_users"),
        h.h_max(nested.total).alias("max_total"),
        where=nested.total > 50.0,
    )
    assert_df_matches_duck(
        df,
        duck,
        """WITH nested AS (
             SELECT user_id, SUM(value) AS total FROM events
             WHERE event_type = 'purchase' GROUP BY user_id)
           SELECT COUNT(*) AS n_users, MAX(total) AS max_total
           FROM nested WHERE total > 50.0""",
    )


def test_expr_not_boolable(catalog):
    ev = catalog.table("events")
    with pytest.raises(TypeError):
        bool(ev.event_type == "click")


def test_remaining_aggregate_apis(catalog, duck):
    o = catalog.table("orders")
    df = h.select(
        o.o_orderstatus,
        h.h_avg(o.o_totalprice).alias("m"),
        h.h_stddev(o.o_totalprice).alias("sd"),
        h.h_variance(o.o_totalprice).alias("var"),
        h.h_first(o.o_orderkey).alias("f"),
        h.h_last(o.o_orderkey).alias("l"),
        h.h_collect_set(o.o_orderpriority).alias("ps"),
        h.h_percentile(o.o_totalprice, 0.5).alias("med"),
    )
    rows = {r.o_orderstatus: r for r in df.collect()}
    exp = {
        s: (m, sd) for s, m, sd in duck.execute(
            "SELECT o_orderstatus, AVG(o_totalprice), STDDEV_SAMP(o_totalprice) FROM orders GROUP BY 1"
        ).fetchall()
    }
    for s, r in rows.items():
        assert abs(r.m - exp[s][0]) < 1e-6
        assert abs(r.sd - exp[s][1]) < 1e-4
        assert abs(r.var - exp[s][1] ** 2) < 1e-2  # VAR_SAMP == stddev^2
        assert r.f is not None and r.l is not None and len(r.ps) >= 1
        assert r.med > 0


def test_uint64_strict_mode():
    spec = h.parse_column_spec("uint64 big")
    assert spec.dtype.simpleString() == "bigint"
    from hustle_spark.schema import parse_column_spec

    strict = parse_column_spec("uint64 big", strict_uint64=True)
    assert strict.dtype.simpleString() == "decimal(20,0)"


def test_unknown_column_raises_attribute_error(catalog):
    t = catalog.table("region")
    import pytest

    with pytest.raises(AttributeError):
        t.no_such_column


def test_two_tables_without_join_raises(catalog):
    import pytest

    n = catalog.table("nation")
    r = catalog.table("region")
    with pytest.raises(ValueError, match="join"):
        import hustle_spark as h2

        h2.select(n.n_name, r.r_name)


def test_cross_table_where_conjunct_applied(spark, catalog):
    """A where-tuple element touching BOTH tables must be applied
    post-join (it used to be silently dropped)."""
    import hustle_spark as h

    n = catalog.table("nation")
    r = catalog.table("region")
    out = h.select(
        n.n_name,
        where=(r.r_name == "ASIA", n.n_regionkey + r.r_regionkey >= 4),
        join=(n.n_regionkey, r.r_regionkey),
    )
    rows = [x.n_name for x in out.collect()]
    # ASIA is regionkey 2: conjunct 2+2 >= 4 holds, so ASIA nations stay
    assert rows  # non-empty
    strict = h.select(
        n.n_name,
        where=(r.r_name == "ASIA", n.n_regionkey + r.r_regionkey >= 5),
        join=(n.n_regionkey, r.r_regionkey),
    )
    assert strict.count() == 0  # 2+2 < 5: the conjunct MUST filter


def test_materialize_rejects_managed_name(catalog):
    import pytest

    df = catalog.table("region").df
    with pytest.raises(ValueError, match="collides"):
        catalog.materialize(df, name="region")


def test_column_dict_lookup_degrades_cleanly(catalog):
    """Equal-but-distinct Columns (every attribute access builds a
    fresh one) must not crash dict lookups with the non-boolean __eq__;
    identity hashing turns the old TypeError into a clean miss."""
    t = catalog.table("region")
    d = {t.r_name: "k"}
    assert d.get(t.r_name) is None  # distinct object: honest miss
    k = t.r_name
    assert {k: 1}[k] == 1           # same object: hit


def test_isin_accepts_columns(spark, catalog):
    import hustle_spark as h

    n = catalog.table("nation")
    # column-vs-column membership: regionkey in (nationkey, 2)
    out = h.select(n.n_name, where=n.n_regionkey << [n.n_nationkey, 2])
    assert out.count() > 0  # no py4j unsupported-literal error


def test_table_subscription_reaches_awkward_names(spark):
    from hustle_spark.table import Table

    df = spark.createDataFrame([(1, "x", "t")], "`_id` long, name string, df string")
    t = Table("awk", df, catalog=None)
    assert t["_id"].name == "_id"     # underscore col reachable
    assert t["name"].name == "name"   # shadows Table.name attribute
    assert t["df"].name == "df"
    import pytest

    with pytest.raises(KeyError):
        t["missing"]
