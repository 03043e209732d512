"""Golden-behavior parity with the reference engine.

Each test pins an observable behavior of mindsdb/dfsql documented in
SURVEY.md §2.6/§2.8, modeled on the reference's own suite
(tests/test_data_sources/test_file_data_source.py:20-893).  Fixture
mirrors the shape of the reference's titanic fixture (9 rows, NaNs,
strings) without copying its data.
"""

import numpy as np
import pandas as pd
import pytest

from dfsql_spark import DataSource, QueryExecutionException
from dfsql_spark.datasource import QueryExecutionException as DSException  # noqa: F401


@pytest.fixture(scope="module")
def ds(spark):
    ds = DataSource(spark=spark)
    crew = pd.DataFrame(
        {
            "crew_id": [1, 2, 3, 4, 5, 6, 7, 8, 9],
            "name": [
                "Alice Owen", "Bob Stone", "Carol Owen", "Dan Reed",
                "Eve Park", "Frank Hill", "Grace Lane", "Hank Ford", "Ivy Bell",
            ],
            "age": [22.0, np.nan, 26.0, 35.0, 35.0, np.nan, 54.0, 2.0, 27.0],
            "fare": [7.25, 71.28, 7.92, 53.1, 8.05, 8.46, 51.86, 21.07, 11.13],
            "survived": [0, 1, 1, 1, 0, 0, 1, 0, 1],
            "pclass": [3, 1, 3, 1, 3, 3, 1, 3, 2],
        }
    )
    ds.add_table("crew", crew)
    ds.add_table("crew2", crew.copy())
    yield ds
    # Every ds.query() auto-pins referenced tables in the Spark cache
    # (DataSource._touch_referenced -> MemoryCache.touch); drain them so
    # the module leaves the shared session's cache empty (the conftest
    # module-teardown assert enforces this for every test module).
    ds.cache.clear(ds.spark)
    for t in ("crew", "crew2"):
        ds.spark.catalog.dropTempView(t)


# ---------------------------------------------------------------- basics
def test_select_constant_no_from(ds):
    assert ds.query("SELECT 1") == 1


def test_select_star_shape(ds):
    out = ds.query("SELECT * FROM crew", reduce_output=False)
    assert out.shape == (9, 6)


def test_double_quoted_string_is_literal(ds):
    # reference: '"' quotes string literals, not identifiers (§2.8.5)
    out = ds.query('SELECT crew_id FROM crew WHERE name = "Bob Stone"')
    assert out == 2


def test_projection_expression_and_alias(ds):
    out = ds.query(
        "SELECT fare * 2 AS double_fare FROM crew WHERE crew_id = 1"
    )
    assert out == pytest.approx(14.5)


def test_scalar_broadcast_to_all_rows(ds):
    out = ds.query("SELECT name, 1 AS one FROM crew", reduce_output=False)
    assert list(out["one"]) == [1] * 9


# ---------------------------------------------------------- predicates
def test_is_null(ds):
    out = ds.query("SELECT crew_id FROM crew WHERE age IS NULL", reduce_output=False)
    assert sorted(out["crew_id"]) == [2, 6]


def test_is_not_null_count(ds):
    assert ds.query("SELECT COUNT(age) AS n FROM crew WHERE age IS NOT NULL") == 7


def test_is_true_is_false(ds):
    # reference maps IS TRUE/FALSE to equality (dfsql/functions.py:75-91)
    t = ds.query(
        "SELECT COUNT(crew_id) AS n FROM crew WHERE (survived = 1) IS TRUE"
    )
    f = ds.query(
        "SELECT COUNT(crew_id) AS n FROM crew WHERE (survived = 1) IS FALSE"
    )
    assert (t, f) == (5, 4)


def test_in_list_and_not_in(ds):
    got = ds.query(
        "SELECT name FROM crew WHERE pclass IN (1, 2) ORDER BY crew_id",
        reduce_output=False,
    )
    assert len(got) == 4
    not_in = ds.query(
        "SELECT COUNT(crew_id) AS n FROM crew WHERE pclass NOT IN (1, 2)"
    )
    assert not_in == 5


def test_like_is_anchored_regex(ds):
    # reference: LIKE '.*Owen.*' regex-matches (dfsql/functions.py:278-288)
    out = ds.query("SELECT name FROM crew WHERE name LIKE '.*Owen.*'", reduce_output=False)
    assert sorted(out["name"]) == ["Alice Owen", "Carol Owen"]
    # anchored at start: a mid-string pattern without wildcards matches nothing
    none = ds.query("SELECT name FROM crew WHERE name LIKE 'Owen'", reduce_output=False)
    assert len(none) == 0


def test_between_and_arithmetic(ds):
    out = ds.query(
        "SELECT crew_id FROM crew WHERE fare % 2 > 1 AND fare BETWEEN 7 AND 9",
        reduce_output=False,
    )
    assert sorted(out["crew_id"]) == [1, 3]


def test_concat_operator(ds):
    out = ds.query(
        "SELECT name || '!' AS loud FROM crew WHERE crew_id = 1"
    )
    assert out == "Alice Owen!"


def test_power_is_caret(ds):
    assert ds.query("SELECT 3 ^ 2 AS p FROM crew WHERE crew_id = 1") == 9


def test_unary_minus_and_division(ds):
    out = ds.query("SELECT -fare / 2 AS half FROM crew WHERE crew_id = 1")
    assert out == pytest.approx(-3.625)


# ---------------------------------------------------------------- cast
def test_cast_pandas_dtype_names(ds):
    assert ds.query("SELECT CAST(fare AS int) AS f FROM crew WHERE crew_id = 2") == 71
    assert ds.query("SELECT CAST(crew_id AS str) AS s FROM crew WHERE crew_id = 2") == "2"
    assert ds.query("SELECT CAST('2.5' AS float) AS v FROM crew WHERE crew_id = 1") == 2.5


# --------------------------------------------------------- aggregation
def test_implicit_global_agg(ds):
    assert ds.query("SELECT SUM(survived) AS s FROM crew") == 5


def test_group_by_with_having_on_alias(ds):
    # HAVING filters the projected aggregate output, so select aliases
    # are visible (reference: base_data_source.py:424-428)
    out = ds.query(
        "SELECT pclass, COUNT(crew_id) AS n FROM crew "
        "GROUP BY pclass HAVING n > 1 ORDER BY pclass",
        reduce_output=False,
    )
    assert list(out["pclass"]) == [1, 3]
    assert list(out["n"]) == [3, 5]


def test_group_by_expression(ds):
    out = ds.query(
        "SELECT pclass + 1 AS pc, COUNT(crew_id) AS n FROM crew "
        "GROUP BY pclass + 1 ORDER BY pc",
        reduce_output=False,
    )
    assert list(out["pc"]) == [2, 3, 4]


def test_count_distinct(ds):
    assert ds.query("SELECT COUNT(DISTINCT pclass) AS n FROM crew") == 3


def test_avg_skips_nulls(ds):
    # pandas mean and Spark avg both ignore nulls
    expected = (22 + 26 + 35 + 35 + 54 + 2 + 27) / 7
    assert ds.query("SELECT AVG(age) AS a FROM crew") == pytest.approx(expected)


def test_min_max(ds):
    out = ds.query("SELECT MIN(fare) AS lo, MAX(fare) AS hi FROM crew", reduce_output=False)
    assert out.iloc[0]["lo"] == pytest.approx(7.25)
    assert out.iloc[0]["hi"] == pytest.approx(71.28)


# ------------------------------------------------- sort/limit/distinct
def test_order_by_multi_key_directions(ds):
    out = ds.query(
        "SELECT pclass, fare FROM crew ORDER BY pclass ASC, fare DESC LIMIT 3",
        reduce_output=False,
    )
    assert list(out["pclass"]) == [1, 1, 1]
    assert list(out["fare"]) == sorted(out["fare"], reverse=True)


def test_limit_offset(ds):
    out = ds.query(
        "SELECT crew_id FROM crew ORDER BY crew_id LIMIT 3 OFFSET 2",
        reduce_output=False,
    )
    assert list(out["crew_id"]) == [3, 4, 5]


def test_select_distinct(ds):
    out = ds.query("SELECT DISTINCT pclass FROM crew ORDER BY pclass", reduce_output=False)
    assert list(out["pclass"]) == [1, 2, 3]


# ------------------------------------------------------------- joins
def test_self_join_with_aliases(ds):
    out = ds.query(
        "SELECT a.name AS left_name, b.name AS right_name "
        "FROM crew AS a JOIN crew2 AS b ON a.crew_id = b.crew_id "
        "ORDER BY a.crew_id LIMIT 2",
        reduce_output=False,
    )
    assert list(out["left_name"]) == list(out["right_name"]) == [
        "Alice Owen", "Bob Stone",
    ]


def test_in_subquery(ds):
    out = ds.query(
        "SELECT COUNT(crew_id) AS n FROM crew WHERE pclass IN "
        "(SELECT pclass FROM crew2 WHERE fare > 50)"
    )
    assert out == 3  # fares > 50 are all pclass 1, which has 3 members


def test_scalar_subquery(ds):
    out = ds.query(
        "SELECT name FROM crew WHERE fare = (SELECT MAX(fare) FROM crew2)"
    )
    assert out == "Bob Stone"


# ------------------------------------------------------------ output
def test_reduce_output_scalar_series_frame(ds):
    assert np.isscalar(ds.query("SELECT COUNT(crew_id) AS n FROM crew"))
    s = ds.query("SELECT name FROM crew")
    assert isinstance(s, pd.Series) and len(s) == 9
    f = ds.query("SELECT name, age FROM crew", reduce_output=True)
    assert isinstance(f, pd.DataFrame)


# --------------------------------------------------- case sensitivity
def test_case_insensitive_column_lookup(spark):
    ds2 = DataSource(spark=spark, case_sensitive=False)
    ds2.add_table("caps_tbl", pd.DataFrame({"NaMe": ["x"], "VALUE": [7]}))
    try:
        assert ds2.query("SELECT value FROM caps_tbl") == 7
        assert ds2.query("SELECT name FROM CAPS_TBL") == "x"
    finally:
        spark.conf.set("spark.sql.caseSensitive", "true")
        ds2.spark.catalog.dropTempView("caps_tbl")


def test_case_sensitivity_scoped_per_datasource(spark):
    """Two DataSources with different case_sensitive settings on one
    SparkSession do not clobber each other: each sets it on its own
    child session, and the caller's session conf is never changed.
    Each DataSource has its own table map (as in the reference), so
    each registers the table itself."""
    prev = spark.conf.get("spark.sql.caseSensitive")
    ds_cs = DataSource(spark=spark, case_sensitive=True)
    ds_ci = DataSource(spark=spark, case_sensitive=False)
    ds_cs.add_table("scope_tbl", pd.DataFrame({"NaMe": ["x"]}))
    ds_ci.add_table("scope_tbl", pd.DataFrame({"NaMe": ["x"]}))
    try:
        assert ds_ci.query("SELECT name FROM scope_tbl") == "x"
        with pytest.raises(QueryExecutionException):
            ds_cs.query("SELECT name FROM scope_tbl")
        # the interleaved queries above must leave the session conf as-is
        assert spark.conf.get("spark.sql.caseSensitive") == prev
    finally:
        for d in (ds_cs, ds_ci):
            d.spark.catalog.dropTempView("scope_tbl")


def test_backtick_identifier_multiword(spark):
    ds2 = DataSource(spark=spark)
    ds2.add_table("mw", pd.DataFrame({"two words": [5], "plain": [1]}))
    try:
        out = ds2.query("SELECT `two words` FROM mw")
        assert out == 5
    finally:
        ds2.spark.catalog.dropTempView("mw")


# -------------------------------------------------------- error paths
# Reference hierarchy (dfsql/exceptions.py:1-14): parse errors, command
# errors, and execution errors are distinct leaves under DfsqlException,
# and callers catch them separately (reference tests/test_interface.py).
def test_unknown_table_raises(ds):
    with pytest.raises(QueryExecutionException):
        ds.query("SELECT * FROM no_such_table")


def test_unknown_column_raises(ds):
    with pytest.raises(QueryExecutionException):
        ds.query("SELECT no_such_col FROM crew")


def test_malformed_sql_raises_parsing_exception(ds):
    from dfsql_spark import DfsqlException, SQLParsingException

    # Spark 4 parses bare keywords as identifiers, so use SQL that
    # cannot tokenize into a statement at all
    with pytest.raises(SQLParsingException) as ei:
        ds.query("SELEC * FROM crew ((")
    assert isinstance(ei.value, DfsqlException)
    assert not isinstance(ei.value, QueryExecutionException)


def test_drop_missing_table_raises(ds):
    # engine-level catalog error, not a command-syntax error
    # (reference: base_data_source.py:177 raises QueryExecutionException)
    with pytest.raises(QueryExecutionException):
        ds.drop_table("ghost")


def test_bad_command_raises_command_exception(ds):
    from dfsql_spark import CommandException, DfsqlException

    with pytest.raises(CommandException) as ei:
        ds.query("CREATE TABLE ghost_tbl ('/no/such/file.csv')")
    assert isinstance(ei.value, DfsqlException)


def test_exception_hierarchy_is_disjoint():
    from dfsql_spark import (
        CommandException,
        DfsqlException,
        QueryExecutionException,
        SQLParsingException,
    )

    for leaf in (SQLParsingException, CommandException, QueryExecutionException):
        assert issubclass(leaf, DfsqlException)
    assert not issubclass(SQLParsingException, QueryExecutionException)
    assert not issubclass(CommandException, QueryExecutionException)


def test_sql_query_ds_kwargs_passthrough(spark):
    # reference signature forwards ds_kwargs to the DataSource
    # (dfsql/__init__.py:12,22) — e.g. a one-shot case-insensitive query
    from dfsql_spark import sql_query

    pdf = pd.DataFrame({"NaMe": ["x"]})
    out = sql_query(
        "SELECT name FROM odd_case",
        spark=spark,
        ds_kwargs={"case_sensitive": False},
        odd_case=pdf,
    )
    assert out == "x"
    with pytest.raises(QueryExecutionException):
        sql_query(
            "SELECT name FROM odd_case",
            spark=spark,
            ds_kwargs={"case_sensitive": True},
            odd_case=pdf,
        )


def test_case_insensitive_table_catalog_lookup(spark):
    """Catalog-dict operations resolve table names case-insensitively
    when case_sensitive=False (reference wraps its table map in a
    CaseInsensitiveDict: base_data_source.py:48-59, utils.py:87-157;
    behavior pinned by its test_select_table_case_insensitive,
    test_file_data_source.py:118-131)."""
    ds = DataSource(spark=spark, case_sensitive=False)
    ds.add_table("titanic_ci", pd.DataFrame({"a": [1, 2]}))
    try:
        # mixed-case query resolves
        assert list(ds.query("SELECT a FROM TiTaNiC_CI")) == [1, 2]
        # cache/uncache under a case variant resolve to the same entry
        ds.cache_table("TITANIC_CI")
        ds.uncache_table("Titanic_Ci")
        # re-registering a case variant replaces, not duplicates
        ds.add_table("TITANIC_CI", pd.DataFrame({"a": [3]}))
        assert len(ds.tables) == 1
        # DROP under a different case succeeds (reference parity)
        ds.drop_table("Titanic_Ci")
        assert not ds.tables
    finally:
        ds.spark.catalog.dropTempView("titanic_ci")
        spark.conf.set("spark.sql.caseSensitive", "true")


def test_case_sensitive_drop_still_strict(spark):
    """With case_sensitive=True (the default) a case-mismatched DROP
    of a dict-registered table still errors — but only if the name
    also misses Spark's own (case-insensitive) temp-view catalog, so
    pin the dict behavior directly via _resolve_name."""
    ds = DataSource(spark=spark, case_sensitive=True)
    ds.add_table("strict_tbl", pd.DataFrame({"a": [1]}))
    try:
        assert ds._resolve_name("STRICT_TBL") == "STRICT_TBL"
        assert ds._resolve_name("strict_tbl") == "strict_tbl"
    finally:
        ds.drop_table("strict_tbl")


def test_csv_int_with_nulls_dtype_divergence(spark, tmp_path):
    """Reference pins nullable pandas dtypes: read_csv().convert_dtypes()
    turns an int column with missing values into Int64 (reference
    dfsql/table.py:7-10).  Spark's CSV reader infers IntegerType and
    keeps true NULLs engine-side — the SQL-correct representation — but
    the pandas hand-off renders int-with-null as float64/NaN.  Values
    are semantically identical; only the client-side dtype differs.
    Documented divergence (README §Testing), pinned here."""
    p = tmp_path / "people.csv"
    p.write_text("pid,age\n1,22\n2,\n3,35\n")
    ds = DataSource(spark=spark)
    ds.add_table_from_file("people_nulls", str(p))
    try:
        sdf = ds.spark.table("people_nulls")
        # engine-side: integer column, real NULL (not NaN, not string)
        assert dict(sdf.dtypes)["age"] == "int"
        assert sdf.filter("age IS NULL").count() == 1
        out = ds.query(
            "SELECT pid, age FROM people_nulls", reduce_output=False
        ).sort_values("pid")
        # client-side: float64 with NaN where the reference gives Int64
        assert str(out["age"].dtype) == "float64"
        assert list(out["age"].fillna(-1)) == [22.0, -1.0, 35.0]
        ref = pd.read_csv(p).convert_dtypes()
        assert str(ref["age"].dtype) == "Int64"  # the reference's shape
        assert list(ref["age"].fillna(-1)) == list(out["age"].fillna(-1))
    finally:
        ds.drop_table("people_nulls")


def test_infer_format_sees_through_compression():
    """Compression suffixes are transparent to format inference;
    ``.tsv`` is its own (tab-separated) format."""
    from dfsql_spark.sources.tables import infer_format

    assert infer_format("a.jsonl.gz") == "json"
    assert infer_format("a.csv.gz") == "csv"
    assert infer_format("a.tsv.bz2") == "tsv"
    assert infer_format("a.json.zst") == "json"
    assert infer_format("a.gz") == "csv"  # bare .gz -> csv fallback
    assert infer_format("A.PARQUET") == "parquet"


def test_read_gzipped_jsonl_and_tab_separated_tsv(spark, tmp_path):
    """Spark decompresses .gz transparently, so gzipped JSON-lines
    (the crawl interchange format) reads as JSON, and .tsv actually
    splits on tabs (documented divergence: the reference's pd.read_csv
    comma default would mangle it, dfsql/table.py:57)."""
    import gzip

    from dfsql_spark.sources.tables import read_file

    p = tmp_path / "docs.jsonl.gz"
    with gzip.open(p, "wt") as f:
        f.write('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = read_file(spark, str(p))
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]

    t = tmp_path / "people.tsv"
    t.write_text("name\tage\nann\t30\nbob\t40\n")
    tdf = read_file(spark, str(t))
    assert tdf.columns == ["name", "age"]
    assert sorted((r.name, r.age) for r in tdf.collect()) == [("ann", 30), ("bob", 40)]


def test_from_dir_registers_supported_files(spark, tmp_path):
    """Directory ingest (reference: base_data_source.py:103-116)
    registers every supported file — including compressed ones, named
    by their inner stem — and querying them works."""
    import gzip

    import pandas as pd

    from dfsql_spark import DataSource

    pd.DataFrame({"a": [1, 2]}).to_csv(tmp_path / "plain.csv", index=False)
    pd.DataFrame({"b": [3]}).to_parquet(tmp_path / "cols.parquet")
    with gzip.open(tmp_path / "logs.jsonl.gz", "wt") as f:
        f.write('{"c": 7}\n')
    (tmp_path / "notes.txt").write_text("ignored")
    (tmp_path / "people.tsv").write_text("name\tage\nann\t30\n")

    dsd = DataSource.from_dir(str(tmp_path), spark=spark)
    try:
        got = sorted(dsd.tables_dataframe()["table_name"])
        assert got == ["cols", "logs", "people", "plain"]
        assert dsd.query("SELECT SUM(a) AS s FROM plain") == 3
        assert dsd.query("SELECT c FROM logs") == 7
        assert dsd.query("SELECT age FROM people WHERE name = 'ann'") == 30
    finally:
        dsd.cache.clear(dsd.spark)
        for t in got:
            dsd.spark.catalog.dropTempView(t)


def test_with_provenance_names_the_shard(spark, tmp_path):
    """Each row cites its originating shard file; a glob read across
    shards keeps per-shard attribution."""
    import pandas as pd

    from dfsql_spark.sources.tables import read_file, with_provenance

    pd.DataFrame({"a": [1, 2]}).to_csv(tmp_path / "shard-0.csv", index=False)
    pd.DataFrame({"a": [3]}).to_csv(tmp_path / "shard-1.csv", index=False)
    df = with_provenance(read_file(spark, str(tmp_path / "shard-*.csv")))
    got = {(r.a, r.source_file) for r in df.collect()}
    assert got == {
        (1, "shard-0.csv"), (2, "shard-0.csv"), (3, "shard-1.csv"),
    }
