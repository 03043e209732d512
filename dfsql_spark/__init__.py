"""dfsql_spark — a PySpark-native engine with the query surface of
mindsdb/dfsql, rebuilt Spark-first.

Public API mirrors the reference package root (dfsql/__init__.py):

* :func:`sql_query` — one-shot SQL over keyword DataFrames
* :class:`DataSource` — named-table catalog with ``query()``
* ``dfsql_spark.extensions`` — pandas ``.sql`` accessor

plus the Spark-era extensions: ``operators`` (dedup / similarity /
text / multimodal) and ``streaming``.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .config import Configuration
from .datasource import DataSource
from .exceptions import (
    CommandException,
    DfsqlException,
    QueryExecutionException,
    SQLParsingException,
)
from .functions import AggregateFunction, CustomFunction
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "sql_query",
    "DataSource",
    "DfsqlException",
    "SQLParsingException",
    "CommandException",
    "QueryExecutionException",
    "Configuration",
    "CustomFunction",
    "AggregateFunction",
    "get_spark",
    "maybe_add_from_to_query",
    "__version__",
]


def sql_query(
    sql: str,
    spark: SparkSession | None = None,
    custom_functions: dict | None = None,
    reduce_output: bool = True,
    ds_kwargs: dict | None = None,
    **table_dfs,
):
    """Run one SQL statement against keyword-passed DataFrames.

    Reference semantics (dfsql/__init__.py:12-36): each keyword is a
    table name that **must** appear in the SQL text (validated, raises
    otherwise); the result is a pandas DataFrame auto-collapsed to
    Series/scalar; ``ds_kwargs`` is forwarded verbatim to the
    one-shot :class:`DataSource` (reference signature's ``ds_kwargs=``,
    dfsql/__init__.py:12,22 — e.g. ``{"case_sensitive": False}``).
    Unlike the reference there is no CSV round-trip: pandas input
    crosses to the JVM once via Arrow and Spark DataFrames are
    registered by plan, all in the one-shot DataSource's own session,
    so concurrent calls that pass the same table name never see each
    other's data.  That DataSource caches nothing unless ``ds_kwargs``
    says otherwise.
    """
    if not table_dfs:
        raise DfsqlException("At least one table must be provided")
    word_re = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
    sql_words = {w.lower() for w in word_re.findall(sql)}
    for name in table_dfs:
        # cheap name-in-SQL validation (reference: dfsql/__init__.py:24-25)
        if name.lower() not in sql_words:
            raise DfsqlException(
                f"Table {name} is not used in the query"
            )
    ds = DataSource(spark=spark, **{"cache": False, **(ds_kwargs or {})})
    if custom_functions:
        for fname, fn in custom_functions.items():
            ds.register_function(fname, fn)
    try:
        for name, df in table_dfs.items():
            if not isinstance(df, (pd.DataFrame, DataFrame)):
                raise QueryExecutionException(
                    f"Table {name} must be a pandas or Spark DataFrame"
                )
            ds.add_table(name, df)
        return ds.query(sql, reduce_output=reduce_output)
    finally:
        # views go with ds's session; a pin in the shared cache would not
        ds.cache.clear(ds.spark)


# importing the package registers the pandas ``.sql`` accessor
# (reference behavior: dfsql/extensions.py:10 registers on import)
from .extensions import maybe_add_from_to_query  # noqa: E402
from . import extensions as extensions  # noqa: E402, F401
