"""Each DataSource runs on its own child session: tables, UDFs and SQL
conf are private to it, the caller's session is never changed, and the
SparkContext and table cache stay shared."""

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from dfsql_spark import DataSource, sql_query


def _frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = 200 * (seed + 1)
    return pd.DataFrame({
        "p_class": rng.integers(1, 4, n),
        "fare": rng.integers(0, 500, n).astype(float),
    })


def _expected(frame: pd.DataFrame) -> pd.DataFrame:
    return (
        frame.groupby("p_class")
        .agg(n=("fare", "size"), s=("fare", "sum"))
        .reset_index()
        .sort_values("p_class")
        .reset_index(drop=True)
    )


def _normal(out: pd.DataFrame) -> pd.DataFrame:
    out = out.sort_values("p_class").reset_index(drop=True)
    return out.astype({"p_class": "int64", "n": "int64", "s": "float64"})


def test_concurrent_oneshot_calls_same_table_name(spark):
    """Four threads pass their own data under the same table name
    through sql_query, the pandas accessor and the pandas-on-Spark
    accessor; every result is that thread's own."""
    import pyspark.pandas as ps

    group_by = "SELECT p_class, COUNT(*) AS n, SUM(fare) AS s {src} GROUP BY p_class"

    def band(s):
        return s * 0.0 + 1.0

    def client(seed: int) -> list:
        frame = _frame(seed)
        want = _expected(frame)
        psdf = ps.from_pandas(frame)
        bad = []
        for i in range(10):
            got = {
                "sql_query": sql_query(
                    group_by.format(src="FROM titanic"),
                    titanic=frame,
                    reduce_output=False,
                ),
                "sql_query_udf": sql_query(
                    "SELECT p_class, COUNT(*) AS n, SUM(fare * band(fare)) AS s "
                    "FROM titanic GROUP BY p_class",
                    custom_functions={"band": band},
                    titanic=frame,
                    reduce_output=False,
                ),
                "pandas .sql": frame.sql(group_by.format(src=""), reduce_output=False),
                "pandas-on-Spark .sql": psdf.sql(group_by.format(src="")).to_pandas(),
            }
            for kind, out in got.items():
                if not _normal(out).equals(want):
                    bad.append((seed, i, kind))
        return bad

    with ThreadPoolExecutor(4) as pool:
        bad = [b for result in pool.map(client, range(4)) for b in result]
    assert not bad, f"results that are not the calling thread's own: {bad}"


def test_runtime_conf_carried_and_parent_untouched(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        before = spark.conf.getAll
        ds_ci = DataSource(spark=spark, case_sensitive=False, cache=False)
        ds_cs = DataSource(spark=spark, case_sensitive=True, cache=False)
        assert ds_ci.spark.conf.get(key) == "7"
        assert ds_cs.spark.conf.get(key) == "7"
        for ds in (ds_ci, ds_cs):
            ds.add_table("conf_tbl", pd.DataFrame({"NaMe": ["x"]}))
        assert ds_ci.query("SELECT name FROM conf_tbl") == "x"
        assert ds_cs.query("SELECT NaMe FROM conf_tbl") == "x"
        one_shot = pd.DataFrame({"name": ["y"]})
        assert sql_query("SELECT name FROM conf_tbl", spark=spark, conf_tbl=one_shot) == "y"
        assert spark.conf.getAll == before
    finally:
        spark.conf.set(key, prev)


def test_caller_dataframe_rebound_to_datasource(spark):
    """A caller-session DataFrame is queryable through the DataSource,
    does not appear in the caller's catalog, and still reads the
    caller's cached relation."""
    sdf = spark.createDataFrame(pd.DataFrame({"x": [3, 5, 7]}))
    sdf.cache()
    try:
        sdf.count()
        ds = DataSource(spark=spark, cache=False)
        ds.add_table("rebound_tbl", sdf)
        assert ds.query("SELECT SUM(x) AS s FROM rebound_tbl") == 15
        assert not spark.catalog.tableExists("rebound_tbl")
        plan = ds.query_df("SELECT x FROM rebound_tbl")._jdf.queryExecution().optimizedPlan()
        assert "InMemoryRelation" in plan.toString()
    finally:
        sdf.unpersist()


def test_oneshot_calls_leave_no_listeners_or_cache_entries(spark):
    frame = pd.DataFrame({"a": [1, 2, 3]})
    sql_query("SELECT SUM(a) AS s FROM t", t=frame)  # first child session
    bus = spark.sparkContext._jsc.sc().listenerBus()
    cache = spark._jsparkSession.sharedState().cacheManager()
    listeners, entries = bus.listeners().size(), cache.numCachedEntries()
    for i in range(200):
        # every fourth call pins its table, which the call must release
        got = sql_query("SELECT SUM(a) AS s FROM t", t=frame, ds_kwargs={"cache": i % 4 == 0})
        assert got == 6
    assert bus.listeners().size() == listeners
    assert cache.numCachedEntries() == entries


def test_udfs_named_like_rewrite_output_keep_builtins(spark):
    """``^`` becomes POWER( and a LIKE over a column becomes RLIKE
    CONCAT(; user functions named ``power``/``concat`` take only the
    call sites the user wrote."""
    ds = DataSource(spark=spark, cache=False)
    ds.add_table("rw_tbl", pd.DataFrame({"a": [2.0], "s": ["abc"], "pat": ["a.c"]}))
    ds.register_function("power", lambda x, y: x * 0.0 - 1.0)
    ds.register_function("concat", lambda x, y: x, return_type="string")
    out = ds.query(
        "SELECT a ^ 3 AS p, s LIKE pat AS m, power(a, 2) AS u FROM rw_tbl",
        reduce_output=False,
    )
    assert (out.p[0], bool(out.m[0]), out.u[0]) == (8.0, True, -1.0)
