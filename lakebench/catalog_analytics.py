"""``catalog_analytics``: passes over lake-free catalog queries.

The tables are generated from the seed at a small scale factor. Each
query is checked once per run, untimed, against its DuckDB twin from
``catalog.all_oracles()``; the verified result's hash is kept. Timed
passes then build each query's DataFrame and collect it, and every
pass must reproduce the verified hash. None of these queries commits
to a ``TxnTable``.
"""

from __future__ import annotations

import hashlib
import math
import time
from datetime import date, datetime
from decimal import Decimal
from functools import partial

from gen import write_catalog_tables
from harness import Run

#: scale of the generated tables (lineitem = 6M x SF rows)
SF = 0.01
#: lake-free queries with DuckDB twins, one or more per family:
#: relational, windows, as-of join, events, text, ANN
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "agg_rollup",
    "window_rank",
    "join_asof",
    "events_sessionize",
    "text_quality",
    "ann_topk_int8",
]


def _norm(v, digits: int):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.{digits}g}")
    if isinstance(v, Decimal):
        return float(f"{float(v):.{digits}g}")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, digits) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x, digits)) for k, x in v.items()))
    return v


def canonical(rows, columns, digits: int = 10) -> list[tuple]:
    """Rows as tuples in sorted column-name order with floats rounded
    to ``digits`` significant digits, sorted; order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i], digits) for i in order) for r in rows]
    return sorted(out, key=repr)


def result_hash(rows, columns) -> str:
    return hashlib.sha256(repr(canonical(rows, columns)).encode()).hexdigest()


def matches_oracle(spark_rows, spark_cols, duck_rows, duck_cols) -> bool:
    """Same column names, same row multiset; floats agree to 9
    significant digits (the engines may round the last bits apart)."""
    if sorted(spark_cols) != sorted(duck_cols) or len(spark_rows) != len(duck_rows):
        return False
    return canonical(spark_rows, spark_cols, 9) == canonical(duck_rows, duck_cols, 9)


class Catalog:
    def __init__(self, session, seed: int, run: Run, data_dir):
        from interop_datalake_spark import catalog

        self.spark = session.spark
        self.data_seed = seed
        self.run = run
        self.data_dir = data_dir
        self.queries = catalog.all_queries()
        self.oracles = catalog.all_oracles()
        self.verified: dict[str, str] = {}

    def seed(self) -> None:
        write_catalog_tables(self.data_dir, self.data_seed, SF)

    def warmup(self) -> None:
        self.queries[QUERIES[0]](self.spark, str(self.data_dir)).collect()

    def verify(self) -> None:
        """Untimed: every query against its DuckDB twin."""
        import duckdb

        from interop_datalake_spark.sources.tables import TABLES

        conn = duckdb.connect()
        try:
            for t in TABLES:
                conn.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
                )
            for q in QUERIES:
                df = self.queries[q](self.spark, str(self.data_dir))
                rows = [tuple(r) for r in df.collect()]
                cur = conn.execute(self.oracles[q])
                duck_cols = [d[0] for d in cur.description]
                duck_rows = cur.fetchall()

                def check(_, rows=rows, df=df, duck_rows=duck_rows, duck_cols=duck_cols):
                    return len(rows) > 0 and matches_oracle(rows, df.columns, duck_rows, duck_cols)

                self.run.call(f"verify.{q}", "verify", lambda: None, check=check)
                self.verified[q] = result_hash(rows, df.columns)
        finally:
            conn.close()

    def units(self):
        """One pass over ``QUERIES`` per unit."""
        while True:
            yield [partial(self._query, q) for q in QUERIES]

    def _query(self, q: str) -> None:
        info: dict = {}

        def go():
            t0 = time.perf_counter()
            with self.run.span("catalog.build", "catalog"):
                df = self.queries[q](self.spark, str(self.data_dir))
            info["build_s"] = time.perf_counter() - t0
            with self.run.span("catalog.action", "catalog"):
                return df.columns, df.collect()

        self.run.call(
            q, "catalog", go,
            check=lambda res: result_hash(res[1], res[0]) == self.verified.get(q),
            info=info,
        )
