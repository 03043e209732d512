"""``sql_serve``: the dfsql surface served as a shared catalog.

``nproc`` client threads share one ``DataSource`` whose catalog holds the
seven sf0.1 star-schema tables, registered with ``CREATE TABLE``.  Each
client sends its next query as soon as the previous one returns (closed
loop).  Queries come from a seeded pool of template instances; the op
sequence is stratified in blocks of one op per template, so every prefix
of it holds each template about equally often.  All tables fit the
default ``MemoryCache``, so after the warm-up every read hits the cache:
per-query fixed cost (command parse, dialect rewrite, analysis under the
case-sensitivity lock, job scheduling, ``toPandas``) dominates, and the
operators layer is idle.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import data
from .oracle import Verdicts, duckdb_connection, rows

POOL_PER_TEMPLATE = 16
# The templates the dfsql surface is served with.  No measured traffic of
# this engine exists to weight them by, so each has the same weight: an
# assumption, stated in README.md, not a measured mix.
TEMPLATES = ("show", "point", "like", "in_sub", "udf", "group_having", "join4")


def price_band(price):
    """The registered scalar function (a vectorised pandas UDF)."""
    return price // 50.0


def _instances(template: str, rng: np.random.Generator, words: list, types: list) -> tuple[str, str]:
    """One (dfsql SQL, DuckDB SQL) pair of ``template``; ``words`` and
    ``types`` are the words of ``p_name`` and the values of ``p_type``."""
    if template == "point":
        k = int(rng.integers(0, 150_000))
        q = f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = {k}"
        return q, q
    if template == "like":
        w, s = str(rng.choice(words)), int(rng.integers(10, 51))
        tail = f"AND p_size <= {s} ORDER BY p_retailprice DESC, p_partkey LIMIT 20"
        return (
            f"SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_name LIKE '.*{w}.*' {tail}",
            f"SELECT p_partkey, p_name, p_retailprice FROM part "
            f"WHERE regexp_full_match(p_name, '.*{w}.*') {tail}",
        )
    if template == "show":
        return "SHOW TABLES", ""
    if template == "in_sub":
        r, x = int(rng.integers(0, 5)), int(rng.integers(0, 9000))
        where = (f"FROM customer WHERE c_nationkey IN (SELECT n_nationkey FROM nation "
                 f"WHERE n_regionkey = {r}) AND c_acctbal > {x} ORDER BY c_custkey LIMIT 10")
        return (
            f"SELECT CAST(c_custkey AS str) AS ck, c_acctbal ^ 2 AS bal_sq {where}",
            f"SELECT CAST(c_custkey AS VARCHAR) AS ck, power(c_acctbal, 2) AS bal_sq {where}",
        )
    if template == "udf":
        s, t = int(rng.integers(1, 51)), str(rng.choice(types))
        tail = f"FROM part WHERE p_size = {s} AND p_type = '{t}' ORDER BY p_partkey LIMIT 10"
        return (
            f"SELECT p_partkey, price_band(p_retailprice) AS band {tail}",
            f"SELECT p_partkey, floor(p_retailprice / 50.0) AS band {tail}",
        )
    if template == "group_having":
        d, h = int(rng.integers(0, 6)) / 100.0, int(rng.integers(1000, 60_000))
        q = (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
             f"AVG(l_extendedprice) AS avg_price FROM lineitem WHERE l_discount >= {d} "
             f"GROUP BY l_returnflag, l_linestatus HAVING COUNT(*) > {h} "
             f"ORDER BY l_returnflag, l_linestatus")
        return q, q
    if template == "join4":
        r, y = int(rng.integers(0, 5)), int(rng.integers(1992, 2002))
        body = ("SELECT c.c_name, o.o_orderkey, l.l_linenumber, n.n_name, l.l_extendedprice "
                "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
                "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
                "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE n.n_regionkey = {r} AND o.o_orderdate >= {{ts}}'{y}-01-01' "
                f"AND o.o_orderdate < {{ts}}'{y}-04-01' "
                "ORDER BY l.l_extendedprice DESC, o.o_orderkey, l.l_linenumber LIMIT 10")
        return body.format(ts=""), body.format(ts="TIMESTAMP ")
    raise ValueError(template)


class Workload:
    name = "sql_serve"

    def __init__(self, seed: int) -> None:
        self.data_dir = data.base_dir()
        words, types = data.part_vocabulary(self.data_dir)
        rng = np.random.default_rng(seed)
        self.pool: list[tuple[str, str, str]] = [
            (t, *_instances(t, rng, words, types)) for t in TEMPLATES for _ in range(POOL_PER_TEMPLATE)
        ]
        by_template = {t: [i for i, p in enumerate(self.pool) if p[0] == t] for t in TEMPLATES}
        self.sequence: list[int] = []
        for _ in range(5000):
            for t in rng.permutation(TEMPLATES):
                self.sequence.append(int(rng.choice(by_template[str(t)])))
        # the untimed warm-up sends every instance of the pool once, after
        # the part of the sequence a timed window can reach
        self.warmup_ops = range(len(self.sequence), len(self.sequence) + len(self.pool))
        self.sequence.extend(int(k) for k in rng.permutation(len(self.pool)))
        self.verdicts = Verdicts()
        self.ds = None

    # -- set-up --------------------------------------------------------------
    def setup(self, spark) -> None:
        from dfsql_spark import DataSource

        self.ds = DataSource(spark=spark)
        for t in data.STAR_TABLES:
            self.ds.query(f"CREATE TABLE {t}('{os.path.join(self.data_dir, t + '.parquet')}')")
        self.ds.register_function("price_band", price_band)
        # warm-up: one instance of every template, sent concurrently as the
        # clients would, pins each table and starts the UDF's Python workers
        first = [next(p[1] for p in self.pool if p[0] == t) for t in TEMPLATES]
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            list(pool.map(self.ds.query, first))

    # -- the timed op --------------------------------------------------------
    def key(self, i: int) -> int:
        """Op ``i``'s query: an index into the pool."""
        return self.sequence[i % len(self.sequence)]

    def op(self, i: int) -> str:
        key = self.key(i)
        return self.verdicts.keep(key, rows(self.ds.query(self.pool[key][1])))

    def template(self, key: int) -> str:
        return self.pool[key][0]

    def records_out(self, r) -> int:
        """Result rows the op returned."""
        return len(self.verdicts.samples[(r.key, r.digest)])

    # -- correctness ---------------------------------------------------------
    def check(self, records, tmp_dir: str) -> None:
        con = duckdb_connection(tmp_dir)
        for t in data.STAR_TABLES:
            path = os.path.join(self.data_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        for key in {r.key for r in records if r.error is None}:
            template, _, duck_sql = self.pool[key]
            if template == "show":
                expected[key] = rows_of_show(self.data_dir)
            else:
                expected[key] = rows(con.execute(duck_sql).df())
        con.close()
        self.verdicts.judge(records, expected)


def rows_of_show(data_dir: str) -> list[list]:
    import pandas as pd

    return rows(pd.DataFrame(
        [(t, os.path.join(data_dir, t + ".parquet")) for t in data.STAR_TABLES],
        columns=["table_name", "fpath"],
    ))
