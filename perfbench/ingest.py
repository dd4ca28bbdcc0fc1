"""``ingest``: the reference ETL, a new sensor day per op.

Set-up generates a history of wide day CSVs in the reference's format
and runs their batch backfill (``gas_csv.ingest_wide`` →
``bucket.to_long`` → ``bucket.write_bucket`` → manifest refresh).

An op writes the next day file aside and renames it into the watched
directory (the op's latency starts at the rename), then drains:

1. the exactly-once stream ingest into the live bucket (persistent
   checkpoint, ``streaming.ingest.start_bucket_ingest``);
2. the rollup maintenance stream, which refreshes the hourly rollup
   and the bucket's stats manifest (``start_rollup_maintenance``);
3. a keyed-state live panel (``compile_flux_stream``, EMA) into a
   parquet table;
4. one read-after-write panel (``compile_flux``) to the noop sink.

The op's latency is the new day's freshness: landing to panel done.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import Workload, rows_multiset

HISTORY_DAYS = 3
#: days landed before the timed loop
WARM_DAYS = 3
FIRST_DAY = np.datetime64("2016-10-01")
PANEL_FIELDS = ("CO (ppm)", "Humidity (%r.h.)", "Temperature (C)", "R1 (MOhm)")


class Ingest(Workload):
    #: at least three days per timed loop, so the median op is never
    #: the mean of two; wherever --seconds is shorter, every run lands
    #: the same days
    min_cycles = 3

    def setup(self) -> None:
        from time_series_data_pipeline_spark.sources import gas_csv

        self.labels = list(gas_csv.FIELD_LABELS.values())
        d = {k: os.path.join(self.work, k) for k in (
            "history", "staged", "land", "backfill", "bucket", "rollup",
            "live", "ck_ingest", "ck_rollup", "ck_live")}
        self.dirs = d
        for k in ("history", "staged", "land"):
            os.makedirs(d[k])
        self.rng = np.random.default_rng([self.seed, 5])
        self.field = str(self.rng.choice(PANEL_FIELDS))
        self.hist_sums = np.zeros(len(self.labels), np.int64)
        for k in range(HISTORY_DAYS):
            _n, s = gen.write_gas_day(self.rng, FIRST_DAY + k, self.labels, d["history"])
            self.hist_sums += s
        self.landed_sums = np.zeros(len(self.labels), np.int64)
        self.landed = 0

        t0 = time.perf_counter()
        self._backfill()
        self.backfill_s = time.perf_counter() - t0

        # a fixed count; README.md says why
        self.warm_up = [round(self._ingest_day(), 3) for _ in range(WARM_DAYS)]

    def _backfill(self) -> None:
        from time_series_data_pipeline_spark.sources import bucket as bkt
        from time_series_data_pipeline_spark.sources import gas_csv

        long_df = bkt.to_long(
            gas_csv.ingest_wide(self.spark, self.dirs["history"]),
            "gas",
            value_cols=list(gas_csv.VALUE_COLS),
            field_labels=gas_csv.FIELD_LABELS,
        )
        bkt.write_bucket(long_df, self.dirs["backfill"])
        bkt.refresh_bucket_manifest(self.spark, self.dirs["backfill"])

    def _live_text(self) -> str:
        return (
            'from(bucket: "live")\n'
            f'  |> filter(fn: (r) => r["_field"] == "{self.field}")\n'
            "  |> exponentialMovingAverage(n: 10)\n"
        )

    def _ingest_day(self) -> float:
        from time_series_data_pipeline_spark.flux import compile_flux, compile_flux_stream
        from time_series_data_pipeline_spark.streaming import ingest as sti

        d = self.dirs
        # the producer writes the day file aside, then lands it atomically
        day = FIRST_DAY + HISTORY_DAYS + self.landed
        name, sums = gen.write_gas_day(self.rng, day, self.labels, d["staged"])
        os.rename(os.path.join(d["staged"], name), os.path.join(d["land"], name))
        t0 = time.perf_counter()
        self.landed += 1
        self.landed_sums += sums
        self.drain(sti.start_bucket_ingest(self.spark, d["land"], d["bucket"], d["ck_ingest"]))
        self.count("bucket.rows_written", gen.GAS_ROWS * len(self.labels))
        self.drain(sti.start_rollup_maintenance(
            self.spark, d["bucket"], d["rollup"], d["ck_rollup"],
            maintain_manifest=True, watch_recent_days=2,
        ))
        live = compile_flux_stream(self.spark, self._live_text(), {"live": d["bucket"]})
        self.drain(
            live.writeStream.format("parquet")
            .option("path", d["live"])
            .option("checkpointLocation", d["ck_live"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        self.action(compile_flux(
            self.spark,
            'from(bucket: "live")\n'
            "  |> range(start: v.timeRangeStart, stop: v.timeRangeStop)\n"
            f'  |> filter(fn: (r) => r["_field"] == "{self.field}")\n'
            "  |> aggregateWindow(every: 1m, fn: mean, createEmpty: false)\n",
            {"live": d["bucket"]},
            params={"timeRangeStart": f"{day}T00:00:00Z",
                    "timeRangeStop": f"{day + 1}T00:00:00Z"},
        ))
        return time.perf_counter() - t0

    def op(self, i: int) -> float:
        return self._ingest_day()

    def check(self, ok_ops: list[int]) -> dict[int, str]:
        """Bucket rows = 19 × wide rows landed, per-field sums equal the
        generator's, and the live panel equals batch ``compile_flux`` of
        the same text over the final bucket."""
        from pyspark.sql import functions as F

        from time_series_data_pipeline_spark.flux import compile_flux

        problems = []
        for store, days, sums in (
            ("bucket", self.landed, self.landed_sums),
            ("backfill", HISTORY_DAYS, self.hist_sums),
        ):
            got = {
                r["_field"]: (r["n"], r["s"])
                for r in self.spark.read.parquet(self.dirs[store])
                .groupBy("_field")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("_value").cast("decimal(38,4)")).alias("s"))
                .collect()
            }
            want = {
                lab: (days * gen.GAS_ROWS, int(s)) for lab, s in zip(self.labels, sums)
            }
            have = {k: (n, int(s * 10_000)) for k, (n, s) in got.items()}
            if have != want:
                problems.append(f"{store}: per-field rows or sums differ from the generator's")
        live = self.spark.read.parquet(self.dirs["live"])
        batch = compile_flux(self.spark, self._live_text(), {"live": self.dirs["bucket"]})
        cols = sorted(batch.columns)
        if sorted(live.columns) != cols or rows_multiset(
            cols, live.select(*cols).collect()
        ) != rows_multiset(cols, batch.select(*cols).collect()):
            problems.append("live panel differs from batch compile_flux")
        return {i: "; ".join(problems) for i in ok_ops} if problems else {}

    def rows_committed(self, ops) -> int:
        return sum(1 for _i, _lat, err in ops if err is None) * gen.GAS_ROWS * len(self.labels)

    def backfill_rows_per_s(self) -> float:
        return HISTORY_DAYS * gen.GAS_ROWS * len(self.labels) / self.backfill_s

