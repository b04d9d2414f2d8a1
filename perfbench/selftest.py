"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Runs every workload once untraced and
once traced and asserts that

- every end-to-end and per-layer metric in BENCHMARK.json is printed with
  its unit, both as a ``name value unit`` line and in the final JSON line;
- no call fails (fail_frac == 0);
- outputs corrupted after the call are counted as failures, so the output
  gate is shown to catch bad outputs.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import sys

import pandas as pd

SF = 0.001
SEED = 1


def corrupt(ctx, call, out):
    """Damage a call's output the way a wrong result would look."""
    if isinstance(out, pd.DataFrame):
        bad = out.copy()
        num = bad.select_dtypes("number").columns
        if len(num):
            bad.loc[bad.index[0], num[0]] += 1
        else:
            col = bad.columns[0]
            bad[col] = bad[col].astype(object)
            bad.loc[bad.index[0], col] = "corrupted"
        return bad
    if isinstance(out, int):  # rows reported written by a sink
        return out + 1
    # the streaming sink writes its table in place: drop one of its files
    from perfbench.workloads import serving_path

    parts = glob.glob(os.path.join(serving_path(ctx), "*.parquet"))
    os.remove(max(parts, key=os.path.getsize))
    return out


def run_captured(run, *args, **kw):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res = run(*args, **kw)
    text = buf.getvalue()
    sys.stdout.write(text)
    return res, text.strip().splitlines()


def check_printed(lines: list[str], expected: dict[str, str]) -> None:
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    assert got == expected, f"JSON metrics differ: {set(got) ^ set(expected)}"
    printed = {
        parts[0]: parts[2] for parts in (ln.split() for ln in lines[:-1]) if len(parts) == 3
    }
    for name, unit in expected.items():
        assert printed.get(name) == unit, f"{name} not printed with unit {unit}"


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    from perfbench import run as bench

    bench.pin_environment(root)
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }, "workloads in BENCHMARK.json differ from perfbench/workloads.py"
    assert layers == bench.per_layer_units(), "per_layer list out of date"

    for name in WORKLOADS:
        for trace, expected in ((False, e2e), (True, layers)):
            res, lines = run_captured(bench.run, name, SEED, 0, trace, sf=SF)
            check_printed(lines, expected)
            assert res["failed"] == 0, f"{name}: {res['failed']} calls failed"
            assert res["attempted"] > 0
    for name in ("analyst_interactive", "forecast_refresh"):
        res, _ = run_captured(bench.run, name, SEED, 0, False, sf=SF, tamper=corrupt)
        assert res["failed"] == res["attempted"] > 0, (
            f"{name}: gate missed corrupted outputs "
            f"({res['failed']} of {res['attempted']} counted as failed)"
        )
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
