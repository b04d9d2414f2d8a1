"""Output gate: every call's output is checked outside the timed region.

A checker returns ``None`` when the output is correct and a one-line reason
when it is not; the runner counts a call as failed if it raised or if its
checker returned a reason.
"""

from __future__ import annotations

import glob
import os

import pandas as pd

from hackatonbigdata_spark import oracle
from hackatonbigdata_spark.plans.submission import N_WEEKS
from hackatonbigdata_spark.sources.io import SUBMISSION_COLS
from hackatonbigdata_spark.streaming import jobs


class OracleGate:
    """Compares a query's collected output with its DuckDB oracle run on
    the same parquet files; each oracle result is computed once per run."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        self.sf_dir = sf_dir
        self.oracles = oracles
        self._expected: dict[str, pd.DataFrame] = {}

    def expected(self, name: str) -> pd.DataFrame:
        if name not in self._expected:
            con = oracle.duckdb_connection(self.sf_dir)
            try:
                self._expected[name] = con.execute(self.oracles[name]).fetchdf()
            finally:
                con.close()
        return self._expected[name]

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        res = oracle.compare_frames(name, got, self.expected(name))
        return None if res.ok else " ".join(res.detail.split())[:300]


def check_submission(path: str, n_written: int, n_grid: int) -> str | None:
    """The submission CSV is one file with the fixed header, ``n_written``
    rows (= forecast grid x N_WEEKS) and non-negative integer quantities."""
    files = glob.glob(os.path.join(path, "*.csv"))
    if len(files) != 1:
        return f"expected one CSV file, found {len(files)}"
    df = pd.read_csv(files[0], sep=";", encoding="utf-8")
    if list(df.columns) != SUBMISSION_COLS:
        return f"header {list(df.columns)} != {SUBMISSION_COLS}"
    if len(df) != n_written or n_written != n_grid * N_WEEKS:
        return f"rows: file={len(df)} returned={n_written} grid*weeks={n_grid * N_WEEKS}"
    q = df["quantidade"]
    if not pd.api.types.is_integer_dtype(q) or (q < 0).any():
        return "quantidade has negative or non-integer values"
    return None


def check_serving_table(spark, sf_dir: str, target: str) -> str | None:
    """The streamed serving table equals the hourly aggregate computed in
    batch over the same events file."""
    batch = jobs.tumbling_hourly_stream(jobs.read_events_batch(spark, sf_dir))
    keys = ["window_start", "event_type"]

    def sorted_pdf(df):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    try:
        pd.testing.assert_frame_equal(
            sorted_pdf(spark.read.parquet(target).select(*batch.columns)),
            sorted_pdf(batch),
            rtol=1e-9,
        )
    except AssertionError as exc:
        return f"serving table differs from batch aggregate: {str(exc).splitlines()[0]}"
    return None
