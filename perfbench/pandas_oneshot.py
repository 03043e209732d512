"""``pandas_oneshot``: the reference's primary API under concurrency.

``nproc`` client threads in a closed loop; each call is
``sql_query(sql, t=frame)`` (optionally with ``custom_functions``) or
``frame.sql("SELECT ... WHERE ...")``, over frames from a seeded pool of
1k, 10k and 100k titanic-shaped rows.  Each call passes its own data
under the table name a caller would naturally use (``titanic``, or the
accessor's ``temp``).  Every call runs the catalog and cache the
opposite way from ``sql_serve``: Arrow ingest, temp-view register and
drop, UDF registration, and a ``cacheTable`` pin that is never hit.

Concurrent calls that pass the same table name read or drop each
other's temp view.  That defect is left visible: such ops count as
failed, split by cause (wrong result vs. the error class raised).
"""

from __future__ import annotations

import numpy as np

from . import data
from .oracle import Verdicts, duckdb_connection, rows

FRAMES_PER_SIZE = 2


def fare_band(fare):
    return fare // 10.0


# (kind, dfsql SQL, DuckDB SQL over table ``t``); {p} is the parameter
TEMPLATES = (
    ("sql_query",
     "SELECT p_class, COUNT(*) AS n, AVG(fare) AS avg_fare FROM titanic WHERE age > {p} "
     "GROUP BY p_class ORDER BY p_class",
     "SELECT p_class, COUNT(*) AS n, AVG(fare) AS avg_fare FROM t WHERE age > {p} "
     "GROUP BY p_class ORDER BY p_class"),
    ("sql_query_udf",
     "SELECT passenger_id, fare_band(fare) AS band FROM titanic WHERE p_class = {p} "
     "ORDER BY fare DESC, passenger_id LIMIT 10",
     "SELECT passenger_id, floor(fare / 10.0) AS band FROM t WHERE p_class = {p} "
     "ORDER BY fare DESC, passenger_id LIMIT 10"),
    ("accessor",
     "SELECT sex, survived, COUNT(*) AS n WHERE p_class = {p} GROUP BY sex, survived",
     "SELECT sex, survived, COUNT(*) AS n FROM t WHERE p_class = {p} GROUP BY sex, survived"),
    ("accessor",
     "SELECT passenger_id, name, age WHERE age IS NOT NULL AND fare > {p} "
     "ORDER BY fare DESC, passenger_id LIMIT 5",
     "SELECT passenger_id, name, age FROM t WHERE age IS NOT NULL AND fare > {p} "
     "ORDER BY fare DESC, passenger_id LIMIT 5"),
)
PARAMS = ((10, 30, 50), (1, 2, 3), (1, 2, 3), (50, 100, 200))


class Workload:
    name = "pandas_oneshot"

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.frames = [
            data.titanic_frame(rng, n) for n in data.FRAME_SIZES for _ in range(FRAMES_PER_SIZE)
        ]
        # op i -> (frame, template, parameter); templates cycle so every
        # prefix of the sequence has the same mix
        self.sequence = [
            (int(rng.integers(0, len(self.frames))), i % len(TEMPLATES),
             int(rng.integers(0, len(PARAMS[0]))))
            for i in range(20_000)
        ]
        self.verdicts = Verdicts()
        # untimed warm-up: ops from a part of the sequence the timed window
        # does not reach
        self.warmup_ops = range(10_000, 10_024)

    def setup(self, spark) -> None:
        # warm-up: every template once on the smallest frame
        for t in range(len(TEMPLATES)):
            self._call(0, t, 0)

    def _call(self, frame: int, template: int, param: int):
        import dfsql_spark

        kind, sql, _ = TEMPLATES[template]
        sql = sql.format(p=PARAMS[template][param])
        df = self.frames[frame]
        if kind == "sql_query":
            return dfsql_spark.sql_query(sql, titanic=df)
        if kind == "sql_query_udf":
            return dfsql_spark.sql_query(sql, custom_functions={"fare_band": fare_band}, titanic=df)
        return df.sql(sql)

    def key(self, i: int) -> tuple:
        """Op ``i``'s (frame, template, parameter)."""
        return self.sequence[i % len(self.sequence)]

    def op(self, i: int) -> str:
        key = self.key(i)
        return self.verdicts.keep(key, rows(self._call(*key)))

    def template(self, key) -> str:
        return TEMPLATES[key[1]][0]

    def records_out(self, r) -> int:
        """Frame rows the call ingested."""
        return len(self.frames[r.key[0]])

    def check(self, records, tmp_dir: str) -> None:
        con = duckdb_connection(tmp_dir)
        expected = {}
        for key in {r.key for r in records if r.error is None}:
            frame, template, param = key
            con.register("t", self.frames[frame])
            expected[key] = rows(con.execute(TEMPLATES[template][2].format(p=PARAMS[template][param])).df())
            con.unregister("t")
        con.close()
        self.verdicts.judge(records, expected)
