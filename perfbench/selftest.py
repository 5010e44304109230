"""Tiny-size self-test of the benchmark (about three minutes on 4 cores).

Runs the query mix on the bundled sf0.001 lake and one epoch of the sync
workload on the tiny generated data set, untraced and traced, and checks:

- every end-to-end and per-layer metric of ``BENCHMARK.json`` is emitted
  with its unit and computed by some workload, and the end-to-end ones are
  computed by both and positive;
- the seed commit's outputs are all correct (``failed == 0``);
- a planted wrong result (one query answering with a row missing) is
  counted as failed, so a fast wrong answer cannot pass.

Run from the repository root: ``python3 perfbench/selftest.py``.
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def _execute(workload: str, trace: int, hooks: dict) -> tuple[dict, dict]:
    args = argparse.Namespace(workload=workload, seed=7, seconds=0, trace=trace)
    return run.execute(args, **hooks)


def execute(workload: str, trace: int, **hooks) -> tuple[dict, dict]:
    """One benchmark run in a fresh process, as the real runs are."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        record, prov = pool.submit(_execute, workload, trace, hooks).result()
    if record["failed"] and not hooks.get("plant"):
        print(prov["errors"])
    return record, prov


def check_names(record: dict, prov: dict, trace: int, label: str) -> set[str]:
    """Checks the record reports exactly BENCHMARK.json's metrics with their
    units; returns the names this workload did not compute."""
    names = run.metric_units(trace)
    got = {k: v["unit"] for k, v in record["metrics"].items()}
    check(got == names, f"{label}: every {'per-layer' if trace else 'end-to-end'} metric with its unit")
    if not trace:
        check(not prov["unmeasured"], f"{label}: every end-to-end metric is computed")
        check(
            all(v["value"] > 0 for v in record["metrics"].values()),
            f"{label}: end-to-end metrics are positive",
        )
    return set(prov["unmeasured"])


def drop_last_row(name: str, rows: list) -> list:
    return rows[:-1] if name == "q1_pricing_summary" else rows


def main() -> int:
    for trace in (0, 1):
        rec, prov = execute("query_mix", trace, lake_name="sf0.001")
        check(rec["failed"] == 0 and rec["correct"], f"query_mix trace={trace}: all results correct")
        unmeasured = check_names(rec, prov, trace, f"query_mix trace={trace}")
        rec, prov = execute("sync", trace, size=gen.TINY)
        check(rec["failed"] == 0 and rec["correct"], f"sync trace={trace}: all results correct")
        unmeasured &= check_names(rec, prov, trace, f"sync trace={trace}")
        check(not unmeasured, f"trace={trace}: every metric is computed by some workload {sorted(unmeasured)}")
    rec, _ = execute("query_mix", 0, lake_name="sf0.001", plant=drop_last_row)
    check(rec["failed"] == 1 and not rec["correct"], "a planted wrong result is counted as failed")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
