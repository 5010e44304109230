"""The ``query_mix`` workload: an analyst's cold session on the lake.

A run makes one pass over the mix, so each query's first collect is its
first execution in the session (the first-pass tier): the code generation
and JIT compilation of its own plan are part of its cold time, as they are
for an analyst. The engine's generic first-use costs are paid in set-up
(``run.warm_engine``). Each query is built from the registry and collected
once, inside a fresh ``caching.cache_scope()``; the same built plan is then
collected again (warm, best of three) before the scope closes. Base tables
are read from parquet and never Spark-cached, and the session cache is
cleared between queries, so no query reuses another's intermediates. Every
result is compared with the stored expectation that ``make_expected.py``
derives from the query's DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from database_synchronize_tool_spark.caching import cache_scope
from database_synchronize_tool_spark.plans.registry import all_queries
from tools.check_oracle import canon

# One query per family. Heavy first-pass rows of the r16 list (triangles,
# column profile, multiprobe recall), a build-time trainer (BPE) and a
# streaming build (t7) are included on purpose. stats_spearman_rank is left
# out: its ~10 s cold run at sf0.01 on 4 cores would double the pass.
MIX = (
    "q1_pricing_summary",  # TPC-H
    "j3_merge_upsert",  # sync operators run as queries
    "dedup_minhash_lsh",  # dedup
    "ann_multiprobe_recall_at_k",  # ANN
    "text_bpe_apply_learned",  # text, trains its merges at build
    "graph_triangle_parts",  # graph
    "profile_column_stats",  # ranks and stats
    "sketch_hll_distinct_orders",  # sketches
    "t7_stream_tumbling",  # streaming, drains its stream at build
)

# Warm re-collects per query; the fastest is the warm time (the data-plane
# floor, as in bench.py's best-of-3 tier).
WARM_REPEATS = 3

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def fingerprint(columns: list[str], rows) -> dict:
    """Row count, sorted column names and an order-insensitive hash of the
    values, with columns taken in name order (as the oracle harness does)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "columns": sorted(columns), "sha256": digest}


def load_expected(lake_name: str) -> dict[str, dict]:
    with open(EXPECTED) as f:
        return json.load(f)[lake_name]


@dataclass
class QueryRun:
    name: str
    build_s: float
    exec_s: float
    warm_s: float

    @property
    def cold_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Outcome:
    runs: list[QueryRun] = field(default_factory=list)
    passes: int = 0
    attempted: int = 0  # two per query run: the cold and the warm result
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def run_query(spark, lake: str, name: str, expected: dict, tracer, out: Outcome, plant=None):
    """Build, collect cold, collect warm; check the cold and the last warm
    result."""
    builder = all_queries()[name].builder
    tr = tracer
    out.attempted += 2
    try:
        rows, warm, columns, times = _collect(spark, lake, name, builder, tr)
    except Exception as e:  # noqa: BLE001 - a failing query is counted, the run goes on
        out.failed += 2
        out.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
        spark.catalog.clearCache()
        return
    if plant is not None:
        rows = plant(name, rows)
    for label, got in (("cold", rows), ("warm", warm)):
        fp = fingerprint(columns, [tuple(r) for r in got])
        want = expected[name]
        if fp != want:
            out.failed += 1
            out.errors.append(f"{name} {label}: {fp['rows']} rows, want {want['rows']}")
    out.runs.append(QueryRun(name, *times))


def _collect(spark, lake, name, builder, tr):
    # The query span also covers the scope's teardown and the cache clear,
    # so the traced run shows time that neither build nor collect accounts for.
    with tr.span("query", query=name):
        with cache_scope():
            with tr.span("plans.build", group="build", query=name):
                t0 = time.perf_counter()
                df = builder(spark, lake)
                t1 = time.perf_counter()
            with tr.span("operators.exec", group="exec", query=name) as s:
                rows = df.collect()
                t2 = time.perf_counter()
            if tr.enabled:
                s.update(cached_storage(spark))
            with tr.span("caching.warm", group="warm", query=name):
                warm_s = []
                for _ in range(WARM_REPEATS):
                    t3 = time.perf_counter()
                    warm = df.collect()
                    warm_s.append(time.perf_counter() - t3)
            columns = df.columns
        spark.catalog.clearCache()
    return rows, warm, columns, (t1 - t0, t2 - t1, min(warm_s))


def cached_storage(spark) -> dict:
    """Frames Spark holds persisted right now, and their bytes."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n, size = 0, 0
    for i in range(len(infos)):
        n += 1
        size += infos[i].memSize() + infos[i].diskSize()
    return {"persisted_frames": n, "cached_bytes": size}


def run_pass(spark, lake, order, expected, tracer, out: Outcome, plant=None) -> float:
    t0 = time.perf_counter()
    for name in order:
        run_query(spark, lake, name, expected, tracer, out, plant)
    out.passes += 1
    return time.perf_counter() - t0


def end_to_end(out: Outcome) -> dict[str, float]:
    cold = [r.cold_s for r in out.runs]
    return {
        "cold_s": sum(cold),
        # the geometric mean (TPC's power-metric summary): every query moves
        # it, where the median of nine jumps between the middle queries
        "work_s": statistics.geometric_mean(cold),
        "repeat_s": sum(r.warm_s for r in out.runs),
    }
