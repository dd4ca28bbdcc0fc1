"""``dashboard``: Grafana panel refreshes against the bucket stores.

Each op is one panel refresh: Flux or InfluxQL text with Grafana-style
variables (field, window period, a 1-30 day time range) compiled and
executed to the noop sink. Requests follow a fixed cycle (``CYCLE``)
weighted toward the reference dashboard's own two panels; the seed
picks field, start hour and host. A request equal to a registered
query (the saved mean panel) runs through the registered builder. The
variables span far more distinct requests than the engine's 64-entry
relation and prune caches hold, so a new request misses them; the
cycle's repeats hit them.
"""

from __future__ import annotations

import time
from collections import Counter
from typing import NamedTuple

import numpy as np

import gen
from common import Workload, oracle_rows, rows_multiset

FIELDS = gen.EVENT_TYPES
HOSTS = ("h0", "h1", "h2", "h3")
WARM_CYCLES = 1

_HEAD = 'from(bucket: "{bucket}")\n  |> range(start: v.timeRangeStart, stop: v.timeRangeStop)\n'
_MEAS = '  |> filter(fn: (r) => r["_measurement"] == "events")\n'
_FIELD = '  |> filter(fn: (r) => r["_field"] == "{field}")\n'


def _flux(tail: str, bucket: str = "gas-quality", field: str | None = None) -> str:
    body = _HEAD.format(bucket=bucket) + _MEAS
    if field is not None:
        body += _FIELD.format(field=field)
    return body + tail


class Request(NamedTuple):
    panel: str
    field: str
    window: str
    start: int  # first hour of the range, counted from gen.EPOCH
    days: int
    n: int  # the EMA's n
    host: str


#: the seeded variables each panel's query uses besides its range; the
#: others are left empty, so that two requests are equal exactly when
#: they ask the engine the same thing
USES = {
    "mean": ("field",),
    "gauge": (),
    "ema": ("field",),
    "tag_filter": ("field", "host"),
    "influxql_group_mean": ("field", "host"),
}


def _panel_text(v: Request) -> tuple[str, str, str]:
    """(front-end, text, store) for a request's variables."""
    panel, field, window, n, host = v.panel, v.field, v.window, v.n, v.host
    if panel == "mean":
        return "flux", _flux(
            '  |> filter(fn: (r) => r["_field"] == "${Resistances}")\n'
            "  |> aggregateWindow(every: v.windowPeriod, fn: mean, createEmpty: false)\n"
            '  |> yield(name: "mean")\n'
        ), "event"
    if panel == "gauge":
        return "flux", _flux("  |> last()\n"), "event"
    if panel == "ema":
        return "flux", _flux(
            f"  |> exponentialMovingAverage(n: {n})\n  |> last()\n", field=field
        ), "event"
    if panel == "tag_filter":
        return "flux", _flux(
            f'  |> filter(fn: (r) => r["host"] == "{host}")\n'
            f"  |> aggregateWindow(every: {window}, fn: mean, createEmpty: false)\n",
            bucket="tagged", field=field,
        ), "tagged"
    if panel == "influxql_group_mean":
        return "influxql", (
            f'SELECT mean("{field}") FROM events WHERE "host" = \'{host}\' '
            "AND time >= '{start}' AND time < '{stop}' "
            f'GROUP BY time({window}), "dc" fill(none)'
        ), "tagged"
    raise ValueError(f"unknown panel {panel!r}")


#: panel → (registered query, the request equal to it)
CANONICAL = {
    "mean": ("flux_compiled_mean", Request("mean", "click", "5m", 168, 7, 0, "")),
    "gauge": ("flux_compiled_gauge", Request("gauge", "", "", 0, 30, 0, "")),
    "ema": ("flux_compiled_ema", Request("ema", "click", "", 0, 30, 10, "")),
    "tag_filter": (
        "flux_compiled_tag_filter", Request("tag_filter", "click", "1h", 168, 7, 0, "h1")
    ),
    "influxql_group_mean": (
        "influxql_group_mean",
        Request("influxql_group_mean", "click", "6h", 168, 7, 0, "h1"),
    ),
}


class Slot(NamedTuple):
    """A new request's fixed part; the seed fills in the rest."""

    panel: str
    days: int
    window: str
    n: int


#: One cycle of requests, in order: a ``Slot`` is a new request, an
#: ``int`` refreshes the request made at that position of the cycle once
#: more, a ``Request`` is that request as it is. Seven of ten requests
#: are the reference dashboard's mean panel and gauge; the other three
#: are one each of an EMA-class panel, InfluxQL and the tagged bucket.
#: README.md gives the reasons for each share.
CYCLE = (
    Slot("mean", 7, "5m", 0),
    Slot("gauge", 1, "", 0),
    0,
    Slot("ema", 7, "", 10),
    CANONICAL["mean"][1],  # the saved mean panel as it opens
    1,
    Slot("influxql_group_mean", 7, "1h", 0),
    Slot("gauge", 1, "", 0),
    Slot("tag_filter", 3, "5m", 0),
    7,
)


def _time(hour: int) -> str:
    return str(gen.EPOCH + np.timedelta64(hour, "h")).split(".")[0] + "Z"


class Dashboard(Workload):
    cycle = len(CYCLE)
    #: the loop is this many cycles wherever --seconds is shorter, so
    #: every run measures the same requests in the same order
    min_cycles = 3

    def setup(self) -> None:
        self.sf_dir = f"{self.work}/sf"
        gen.write_corpus(self.sf_dir, self.seed)
        import pyarrow.parquet as pq

        ev = pq.read_table(f"{self.sf_dir}/events.parquet", columns=["ts", "event_type"])
        self.ev_hour = (ev["ts"].to_numpy() - gen.EPOCH) // np.timedelta64(1, "h")
        self.ev_field = ev["event_type"].to_numpy(zero_copy_only=False)
        from time_series_data_pipeline_spark.queries import timeseries_q as tq

        self.paths = {
            "event": tq._event_bucket_path(self.spark, self.sf_dir),
            "tagged": tq._tagged_bucket_path(self.spark, self.sf_dir),
        }
        # every new request of a run, warm-up included, is one not made
        # before in the run, nor a saved panel: a query new to the engine
        self.made = {c for _name, c in CANONICAL.values()}
        self.requests = self._requests(np.random.default_rng([self.seed, 2]))
        self.variants: dict[int, Request] = {}
        self._warm_up()

    def _warm_up(self) -> None:
        """WARM_CYCLES cycles of requests, with variables from their own
        seed stream; ``warm_up`` records the cycle times."""
        requests = self._requests(np.random.default_rng([self.seed, 3]))
        self.warm_up = []
        for _ in range(WARM_CYCLES):
            t0 = time.perf_counter()
            for _ in CYCLE:
                self._execute(next(requests))
            self.warm_up.append(round(time.perf_counter() - t0, 3))

    def _requests(self, rng):
        """Requests, cycle after cycle, with seeded field, start hour and
        host in every new request."""
        while True:
            cycle: list[Request] = []
            for entry in CYCLE:
                if isinstance(entry, int):
                    v = cycle[entry]
                elif isinstance(entry, Request):
                    v = entry
                else:
                    v = self._new_request(entry, rng)
                cycle.append(v)
                yield v

    def _new_request(self, slot: Slot, rng) -> Request:
        uses = USES[slot.panel]
        while True:
            field = str(rng.choice(FIELDS))
            start = int(rng.integers(0, (gen.EVENT_DAYS - slot.days) * 24 + 1))
            host = str(rng.choice(HOSTS))
            v = Request(
                slot.panel,
                field if "field" in uses else "",
                slot.window,
                start,
                slot.days,
                slot.n,
                host if "host" in uses else "",
            )
            if v not in self.made:
                self.made.add(v)
                return v

    def build(self, v: Request):
        """The request's DataFrame: the registered builder for a saved
        panel, otherwise the compiled text."""
        from time_series_data_pipeline_spark.queries import QUERIES

        name, canonical = CANONICAL[v.panel]
        if v == canonical:
            return QUERIES[name](self.spark, self.sf_dir)
        lang, text, store = _panel_text(v)
        start, stop = _time(v.start), _time(v.start + 24 * v.days)
        if lang == "influxql":
            from time_series_data_pipeline_spark.influxql import compile_influxql

            return compile_influxql(
                self.spark, text.format(start=start, stop=stop), self.paths[store]
            )
        from time_series_data_pipeline_spark.flux import compile_flux

        bucket = "tagged" if store == "tagged" else "gas-quality"
        return compile_flux(
            self.spark, text, {bucket: self.paths[store]},
            params={
                "timeRangeStart": start,
                "timeRangeStop": stop,
                "windowPeriod": v.window,
                "Resistances": v.field,
            },
        )

    def _execute(self, v: Request) -> None:
        self.action(self.build(v))

    def op(self, i: int) -> None:
        v = next(self.requests)
        self.variants[i] = v
        self._execute(v)

    def check(self, ok_ops: list[int]) -> dict[int, str]:
        """Every panel shape of the cycle: its saved panel against the
        registered DuckDB oracle; a failure fails every op of that shape.
        Every new request the last cycle made twice: the same value hash
        on two more executions (the saved panel is checked against its
        oracle instead)."""
        from time_series_data_pipeline_spark.queries import ORACLE

        bad_panel: dict[str, str] = {}
        for panel in sorted({e.panel for e in CYCLE if isinstance(e, Slot)}):
            name, canonical = CANONICAL[panel]
            got = self.build(canonical)
            want_cols, want = oracle_rows(self.sf_dir, ORACLE[name])
            have = rows_multiset(got.columns, got.collect())
            if sorted(got.columns) != sorted(want_cols) or have != want:
                bad_panel[panel] = f"{name} differs from its DuckDB oracle"
        last_cycle = ok_ops[-self.cycle:]
        runs = Counter(self.variants[i] for i in last_cycle)
        saved = {c for _name, c in CANONICAL.values()}
        bad: dict[Request, str] = {}
        for v in sorted(v for v, n in runs.items() if n > 1 and v not in saved):
            if _value_hash(self.build(v)) != _value_hash(self.build(v)):
                bad[v] = "two executions returned different rows"
        out = {}
        for i in ok_ops:
            v = self.variants[i]
            why = bad.get(v) or bad_panel.get(v.panel)
            if why:
                out[i] = why
        return out

    def rows_committed(self, ops) -> int:
        """Source rows in each refreshed panel's field and time range."""
        total = 0
        for i, _lat, err in ops:
            if err is not None:
                continue
            v = self.variants[i]
            in_range = (self.ev_hour >= v.start) & (self.ev_hour < v.start + 24 * v.days)
            if v.field and v.panel != "gauge":
                in_range &= self.ev_field == v.field
            total += int(in_range.sum())
        return total

    def backfill_rows_per_s(self) -> float:
        """Long rows per second through the two bucket-store builds."""
        return 2 * gen.N_EVENTS / self.stores.seconds


def _value_hash(df) -> tuple:
    """Order-insensitive hash of a result: the row count and the sum of
    the rows' 64-bit hashes, computed in Spark."""
    from pyspark.sql import functions as F

    r = df.select(F.xxhash64(*[df[c] for c in df.columns]).alias("h")).agg(
        F.count(F.lit(1)), F.sum(F.col("h").cast("decimal(38,0)"))
    ).first()
    return tuple(r)
