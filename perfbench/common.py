"""Shared pieces of the workloads: the op interface and the output
comparison used by the checks."""

from __future__ import annotations

import math
import os
import time


class Workload:
    """One workload over one Spark session. ``setup`` builds inputs and
    stores and warms up, leaving the warm-up round times in ``warm_up``;
    ``op(i)`` runs one operation and returns its latency in seconds, or
    None to be timed by the caller; ``check`` returns {op index: reason}
    for ops whose outputs are wrong; ``rows_committed(ops)`` and
    ``backfill_rows_per_s()`` feed the two row-rate metrics.

    Every Spark action of an op goes through ``action``, and every
    stream drain through ``drain``, so the traced run can wrap them."""

    tracer = None
    #: ops in one cycle of the workload's request mix; a timed loop
    #: runs whole cycles, at least ``min_cycles`` of them
    cycle = 1
    min_cycles = 1

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.stores = StoreTimer()

    def action(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def drain(self, query) -> None:
        query.awaitTermination()  # raises if the stream failed

    def count(self, name: str, n: float) -> None:
        if self.tracer is not None:
            self.tracer.count(name, n)


class StoreTimer:
    """Times the build callback of every ``cached_store`` call — the
    engine's on-disk store builds — without changing what it builds."""

    def __init__(self) -> None:
        from time_series_data_pipeline_spark.operators import _util

        self.seconds = 0.0
        self.builds = 0
        orig = _util.cached_store

        def cached_store(build, prefix, key_material):
            def timed(out_dir):
                t0 = time.perf_counter()
                build(out_dir)
                self.seconds += time.perf_counter() - t0
                self.builds += 1

            return orig(timed, prefix, key_material)

        _util.cached_store = cached_store


def _cell(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def rows_multiset(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, then
    rows sorted (the comparison the engine's oracle-parity test uses)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """Run a registered DuckDB oracle over the generated tables."""
    import duckdb

    from time_series_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, rows_multiset(cols, res.fetchall())
    finally:
        con.close()
