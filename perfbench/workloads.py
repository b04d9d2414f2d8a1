"""The benchmark workloads.

Each workload is a list of calls into the engine's public functions.  A
call has a build step (the function that returns the lazy result), a
forcing action and an output check.  A call belongs to the layer of the
module that defines the function the benchmark calls (``fn.__module__``).

Sizes and call lists are small on purpose: every run pays a JVM start and a
JIT-cold warm pass as long as two to five timed passes, and 22 runs per
workload must fit one fixed time budget on a 4-core machine.  So there are
two workloads: the write-heavy lake calls ride in ``forecast_refresh``, and
the short LLM-data operators in ``analyst_interactive``.  The short analyst
calls keep speeding up for a few passes after the cold one, so that
workload warms up longer before timing.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

from hackatonbigdata_spark.catalog import Catalog
from hackatonbigdata_spark.plans import submission
from hackatonbigdata_spark.registry import all_oracles, all_queries
from hackatonbigdata_spark.sources import io
from hackatonbigdata_spark.streaming import jobs
from perfbench import gate

QUERIES = all_queries()
ORACLES = all_oracles()


def layer_of(fn: Callable) -> str:
    mod = fn.__module__.removeprefix("hackatonbigdata_spark.")
    return mod.removeprefix("operators.")


@dataclass
class Context:
    spark: object
    sf_dir: str
    out_dir: str

    def __post_init__(self):
        self.catalog = Catalog(self.spark, self.sf_dir)
        self.gate = gate.OracleGate(self.sf_dir, ORACLES)
        os.makedirs(self.out_dir, exist_ok=True)


@dataclass
class Call:
    name: str
    layer: str
    build: Callable[[Context], object]
    force: Callable[[Context, object], object]
    check: Callable[[Context, object], str | None]
    sink_layer: str | None = None  # layer of the forcing function, if a sink
    output_mb: Callable[[Context, object], float] | None = None


def query(name: str) -> Call:
    """A registered, oracled query collected to pandas."""
    fn = QUERIES[name]
    if name not in ORACLES:
        raise ValueError(f"{name} has no oracle; workloads use oracled queries only")
    return Call(
        name,
        layer_of(fn),
        build=lambda c: fn(c.spark, c.sf_dir),
        force=lambda c, df: df.toPandas(),
        check=lambda c, out: c.gate.check(name, out),
    )


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def submission_call() -> Call:
    """``build_submission`` forced by the ``write_submission`` CSV sink."""

    def path(c):
        return os.path.join(c.out_dir, "submission")

    def check(c, n):
        # the forecast grid is the oracled heuristic forecast's row count
        grid = len(c.gate.expected("heuristic_blend_forecast"))
        return gate.check_submission(path(c), n, grid)

    return Call(
        "build_submission+write_submission",
        layer_of(submission.build_submission),
        build=lambda c: submission.build_submission(c.spark, c.sf_dir),
        force=lambda c, df: io.write_submission(df, path(c)),
        check=check,
        sink_layer=layer_of(io.write_submission),
        output_mb=lambda c, n: _dir_mb(path(c)),
    )


def serving_path(c: Context) -> str:
    return os.path.join(c.out_dir, "serving")


def serving_stream_call() -> Call:
    """``upsert_serving_table_stream`` drains the events stream into a
    parquet serving table; from the second call on every micro-batch is a
    MERGE into the existing table."""
    return Call(
        "upsert_serving_table_stream",
        layer_of(jobs.upsert_serving_table_stream),
        build=lambda c: jobs.upsert_serving_table_stream(
            c.spark, c.sf_dir, serving_path(c)),
        force=lambda c, _: None,
        check=lambda c, _: gate.check_serving_table(c.spark, c.sf_dir, serving_path(c)),
    )


@dataclass
class Workload:
    name: str
    sf: float
    why: str
    tables: tuple[str, ...]  # read directly through Catalog in traced passes
    steps: tuple[str, ...]
    shuffle: bool = False  # seeded call order per pass
    min_passes: int = 1  # timed passes, even when --seconds ends sooner
    warm_passes: int = 1  # untimed passes in set-up; the first is JIT-cold

    def calls(self, seed: int, pass_no: int) -> list[Call]:
        names = list(self.steps)
        if self.shuffle:
            random.Random(seed * 100_003 + pass_no).shuffle(names)
        return [make_call(n) for n in names]


def make_call(step: str) -> Call:
    if step == "build_submission":
        return submission_call()
    if step == "upsert_serving_table_stream":
        return serving_stream_call()
    return query(step)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "forecast_refresh",
            sf=0.003,
            why="weekly batch job: forecast and the ; CSV over the fact table, "
            "then lake upkeep writes (MERGE upsert, streaming serving-table upsert)",
            tables=("lineitem", "part", "supplier", "events"),
            steps=(
                "flagship_weekly_brand_demand",
                "croston_per_series",
                "build_submission",
                "io_upsert_roundtrip",
                "upsert_serving_table_stream",
            ),
            min_passes=4,
        ),
        Workload(
            "analyst_interactive",
            sf=0.001,
            why="short oracled queries, LLM-data dedup and text scoring among them, "
            "in seeded order, where each call's fixed cost dominates",
            tables=("lineitem", "part", "orders", "customer", "events", "documents"),
            steps=(
                "topk_orders_by_value",
                "sample_scan",
                "join_anti_orphans",
                "agg_grouped_quantiles",
                "binning_fixed_tiers",
                "string_normalize",
                "window_zero_streaks",
                "metric_wmape_by_store",
                "stream_hourly_distinct",
                "seq_event_transitions",
                "dedup_exact_docs",
                "text_quality_score",
            ),
            shuffle=True,
            min_passes=10,
            warm_passes=2,
        ),
    )
}
