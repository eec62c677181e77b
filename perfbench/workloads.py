"""The benchmark's workloads, driven only through the engine's public
functions. See README.md in this directory for why each one exists.

A workload generates its inputs when it is built, then hands out rounds
of :class:`Step` objects: a dashboard round is one pass over its fixed
operation sequence, a daily round is one pipeline run. A step's ``run``
is what the clock times; its ``check`` runs after the clock stops and
returns an error message, or ``None`` when the output is right.
"""

from __future__ import annotations

import functools
import random
from dataclasses import dataclass
from datetime import timedelta
from pathlib import Path
from typing import Callable

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

import inputs
from spans import Tracer

from yahoofinancedatalake_spark.pipeline import Pipeline
from yahoofinancedatalake_spark.queries import serve
from yahoofinancedatalake_spark.queries.pack import QUERIES


@dataclass
class Step:
    key: str
    run: Callable[[], object]
    check: Callable[[object], str | None]


class Dashboard:
    """Read-only dashboard operations: the Lens panels of the query pack
    and the bound serving templates, each forced through the ``noop``
    sink. One round is a seeded, fixed sequence of 16 operations."""

    PANELS = (
        "top_flop", "last_value_per_group", "daily_lag_returns",
        "distinct_count_per_day", "topk_other_bucket", "date_bucket_avg",
        "min_per_group", "sort_limit_feed", "range_filter_scan",
        "group_agg_count_max",
    )
    #: bindings drawn per serving template in one round
    BINDINGS = 2
    warmup_rounds = 3

    def __init__(self, spark: SparkSession, work: Path, seed: int, tracer: Tracer):
        self.spark, self.tr = spark, tracer
        self.sf = work / "tables"
        inputs.write_tables(self.sf, seed)
        rng = random.Random(seed)
        ops = [(name, None) for name in self.PANELS]
        for _ in range(self.BINDINGS):
            start = rng.randrange(1, 21)
            ops += [
                ("top_flop_for_symbol", {"uid": rng.randrange(inputs.EVENT_USERS)}),
                ("type_window_daily", {
                    "uid": rng.randrange(inputs.EVENT_USERS),
                    "etype": rng.choice(inputs.EVENT_TYPES),
                    "start_day": f"2024-01-{start:02d}",
                    "end_day": f"2024-01-{start + rng.randrange(3, 11):02d}",
                }),
                ("source_quality_drill", {
                    "src": f"src{rng.randrange(inputs.DOC_SOURCES)}",
                    "min_chars": rng.randrange(50, 400),
                }),
            ]
        rng.shuffle(ops)
        self.ops = ops
        #: row count per operation, recorded by the first round of set-up
        self.reference: dict[str, int] = {}

    def _execute(self, df) -> Observation:
        # the row count rides the forced action; it is read after the
        # clock stops
        rows = Observation()
        sink = df.observe(rows, F.count(F.lit(1)).alias("rows")).write
        self.tr.span("query.exec", sink.format("noop").mode("overwrite").save)
        return rows

    def _panel(self, name: str) -> Observation:
        df = self.tr.span("panel.plan", QUERIES[name].spark, self.spark, str(self.sf))
        return self._execute(df)

    def _template(self, name: str, params: dict) -> Observation:
        df = self.tr.span(
            "serve.bind", serve.bound, self.spark, str(self.sf), name, **params
        )
        return self._execute(df)

    def _check(self, key: str, rows: Observation) -> str | None:
        n = rows.get["rows"]
        want = self.reference.setdefault(key, n)
        return None if n == want else f"{key}: {n} rows, reference {want}"

    def round(self) -> list[Step]:
        steps = []
        for i, (name, params) in enumerate(self.ops):
            key = f"{i}:{name}"
            run = (
                functools.partial(self._panel, name)
                if params is None
                else functools.partial(self._template, name, params)
            )
            steps.append(Step(key, run, functools.partial(self._check, key)))
        return steps


class Daily:
    """The medallion run (ingest, format, combine, predict, serve) for
    the next ingest date, over seeded bronze sources, on one lake that
    grows by one ingest date per run."""

    SYMBOLS = 10
    DAYS = 90
    #: ``forecast_predictions`` keeps this many days of history per
    #: symbol and forecasts this many ahead
    HISTORY, HORIZON = 90, 30
    STAGES = ("ingest", "format", "combine", "predict", "serve")
    warmup_rounds = 2

    def __init__(self, spark: SparkSession, work: Path, seed: int, tracer: Tracer):
        self.tr = tracer
        symbols, self.expected, self.next_date = inputs.write_bronze(
            work / "bronze", seed, self.SYMBOLS, self.DAYS
        )
        self.expected["predictions"] = self.SYMBOLS * (
            min(self.HISTORY, self.DAYS) + self.HORIZON
        )
        self.pipe = Pipeline(
            spark, str(work / "lake"), fixtures=str(work / "bronze"),
            symbols=symbols,
        )
        # instance attributes shadow the methods ``run`` calls, so each
        # stage runs inside its own span without touching the program
        for stage in self.STAGES:
            setattr(
                self.pipe, stage,
                functools.partial(tracer.span, stage, getattr(self.pipe, stage)),
            )

    def _check(self, counts: dict) -> str | None:
        return None if counts == self.expected else (
            f"counts {counts}, expected {self.expected}"
        )

    def round(self) -> list[Step]:
        day = self.next_date.isoformat()
        self.next_date += timedelta(days=1)
        run = functools.partial(self.tr.span, "pipeline.audit", self.pipe.run, day)
        return [Step(f"run:{day}", run, self._check)]


WORKLOADS = {"dashboard": Dashboard, "daily": Daily}
