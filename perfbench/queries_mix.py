"""query_mix workload: a pass over registry queries on seeded tables.

The seed generates the tables (tables.py) and permutes the query order of
each pass.  Every query is planned (the registry call) and then run into
Spark's `noop` sink.  The output check collects each query once and
compares it with its DuckDB oracle, as tests/test_oracle_parity.py does.
"""

from __future__ import annotations

import time

import numpy as np


def pass_order(queries: list[str], seed: int, i: int) -> list[str]:
    """Query order of pass `i`."""
    rng = np.random.default_rng((seed, 0x9E, i))
    return [queries[j] for j in rng.permutation(len(queries))]


def run_pass(spark, trace, sf_dir: str, order: list[str]) -> None:
    """Plan each query (the registry call), then run it into the noop sink."""
    from tegallega_spark.queries import SPARK_QUERIES
    from tegallega_spark.session import release_intermediates

    for q in order:
        with trace.span(f"queries.{q}") as rec:
            t0 = time.perf_counter()
            df = SPARK_QUERIES[q](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if rec is not None:
            rec["plan_s"], rec["exec_s"] = t1 - t0, t2 - t1
        release_intermediates(df)


def check_against_oracles(spark, sf_dir: str, queries: list[str]) -> list[str]:
    """Collect every query and compare it with its DuckDB oracle, through
    the oracle-parity test's own canonicalization; returns the names of
    the queries whose results differ."""
    from tegallega_spark.queries import ORACLE_SQL, SPARK_QUERIES
    from tegallega_spark.session import release_intermediates
    from tests.test_oracle_parity import _canon, _duck

    con = _duck(sf_dir)
    bad = []
    for q in queries:
        df = SPARK_QUERIES[q](spark, sf_dir)
        s_cols, s_body = _canon(df.columns, [tuple(r) for r in df.collect()])
        release_intermediates(df)
        rel = con.sql(ORACLE_SQL[q])
        d_cols, d_body = _canon(rel.columns, rel.fetchall())
        if s_cols != [c.lower() for c in d_cols] or s_body != d_body:
            bad.append(q)
    con.close()
    return bad
