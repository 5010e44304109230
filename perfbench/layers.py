"""Per-layer metrics of a traced run, derived from its spans.

Names are ``<module>.<quantity>``. On ``query_mix`` a value is per pass over
the mix unless it is per query (``query.<name>.*``) or a peak; on ``sync`` it
is per epoch (a copy, then per generated delta a delta cycle and
``sync.NOOPS_PER_DELTA`` no-op cycles) unless the name says otherwise
(``*_per_*``, ratios). ``operators.*`` counts the Spark jobs of the first
collect on ``query_mix`` and of the delta cycles' table syncs on ``sync``.
The names and units are those of ``BENCHMARK.json``; a layer a workload
never calls reads 0.

``trace.*`` repeats the end-to-end timings under tracing; their difference
from untraced runs is the tracing overhead. ``trace.accounted_share`` is the
part of the traced time that the layer spans cover. On ``query_mix`` it is
build + first collect over the wall time of each query (its cache scope's
set-up and teardown and the cache clear included) less its warm
re-collects; on ``sync``, the sinks' sync loops (runner overhead + sink
writes) plus the file sync over the summed cycle times.
"""

from __future__ import annotations

import statistics

from mix import MIX

_OPERATOR_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _named(spans, name, **match):
    return [s for s in spans if s["name"] == name and all(s.get(k) == v for k, v in match.items())]


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span nested under it."""
    ids, out = {root["id"]}, [root]
    for s in spans[root["id"] + 1 :]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _sum(spans, key) -> float:
    return sum(s.get(key, 0) for s in spans)


def mix_layers(spans: list[dict], stream, out) -> dict[str, float]:
    """Per-pass layer totals over the traced passes of ``query_mix``."""
    n = max(out.passes, 1)
    build, execs = _named(spans, "plans.build"), _named(spans, "operators.exec")
    m = {
        "plans.build_s": sum(map(_dur, build)) / n,
        "plans.build_jobs": _sum(build, "jobs") / n,
        "operators.exec_s": sum(map(_dur, execs)) / n,
        "caching.persisted_frames": _sum(execs, "persisted_frames") / n,
        "caching.cached_bytes_peak": max((s.get("cached_bytes", 0) for s in execs), default=0),
        "caching.warm_exec_s": sum(map(_dur, _named(spans, "caching.warm"))) / n,
        "streaming.batches": stream.batches / n,
        "streaming.input_rows": stream.input_rows / n,
        "streaming.trigger_ms": stream.ms["triggerExecution"] / n,
        "streaming.add_batch_ms": stream.ms["addBatch"] / n,
        "streaming.query_planning_ms": stream.ms["queryPlanning"] / n,
        "streaming.get_batch_ms": stream.ms["getBatch"] / n,
        "streaming.wal_commit_ms": stream.ms["walCommit"] / n,
    }
    m.update({f"operators.{k}": _sum(execs, k) / n for k in _OPERATOR_KEYS})
    cold_parts = ("plans.build", "operators.exec")
    for q in MIX:
        runs = [
            [s for s in _subtree(spans, r) if s["name"] in cold_parts]
            for r in _named(spans, "query", query=q)
        ]
        m[f"query.{q}.cold_s"] = statistics.median([sum(map(_dur, r)) for r in runs] or [0])
        m[f"query.{q}.jobs"] = statistics.median([_sum(r, "jobs") for r in runs] or [0])
    cold_wall = sum(map(_dur, _named(spans, "query"))) - sum(map(_dur, _named(spans, "caching.warm")))
    m["trace.accounted_share"] = sum(map(_dur, build + execs)) / max(cold_wall, 1e-9)
    return m


def sync_layers(spans: list[dict], out, epochs: int, pg_delta: dict) -> dict[str, float]:
    """Per-epoch layer totals over the traced epochs of a sync workload."""
    n = max(epochs, 1)
    cycles = _named(spans, "cycle")
    tables = _named(spans, "runner.table")
    writes = _named(spans, "sinks.write") + _named(spans, "sinks.copy")
    fs_plan, fs_copy = _named(spans, "filesync.plan"), _named(spans, "filesync.copy")
    probes = _named(spans, "watermark.probe")
    lake_probes = [s for s in probes if s["sink"] == "lake"]
    loops = _named(spans, "runner.run_all_syncs")
    cycle_s = sum(map(_dur, cycles))
    runner_s = sum(map(_dur, loops))
    write_s = sum(map(_dur, writes))

    def jobs_per_table(kind):
        ts = [t for t in tables if t["kind"] == kind]
        return sum(_sum(_subtree(spans, t), "jobs") for t in ts) / max(len(ts), 1)

    delta_tables = [s for t in tables if t["kind"] == "delta" for s in _subtree(spans, t)]
    delta_rows = sum(c.rows for c in out.cycles if c.kind == "delta")
    all_rows = sum(c.rows for c in out.cycles)
    source_bytes = sum(c.source_bytes for c in out.cycles)
    fs_spans = _named(spans, "filesync.sync_file_sets")
    m = {
        "runner.overhead_s": (runner_s - write_s) / n,
        "runner.jobs_per_noop_table": jobs_per_table("noop"),
        "runner.jobs_per_delta_table": jobs_per_table("delta"),
        "runner.lake_s": sum(_dur(s) for s in loops if s["sink"] == "lake") / n,
        "runner.pg_s": sum(_dur(s) for s in loops if s["sink"] == "pg") / n,
        "watermark.lake_probe_s": sum(map(_dur, lake_probes)) / n,
        "watermark.pg_probe_s": sum(_dur(s) for s in probes if s["sink"] == "pg") / n,
        "watermark.probe_input_bytes": _sum(lake_probes, "input_bytes") / max(len(lake_probes), 1),
        "readers.scan_efficiency": delta_rows / max(_sum(delta_tables, "input_records"), 1),
        "sinks.read_target_s": sum(map(_dur, _named(spans, "sinks.read_target"))) / n,
        "sinks.write_s": sum(map(_dur, _named(spans, "sinks.write"))) / n,
        "sinks.copy_s": sum(map(_dur, _named(spans, "sinks.copy"))) / n,
        "sinks.rows_written": all_rows / n,
        "filesync.plan_s": sum(map(_dur, fs_plan)) / n,
        "filesync.copy_s": sum(map(_dur, fs_copy)) / n,
        "filesync.files_listed": _sum(fs_spans, "files_listed") / n,
        "filesync.files_copied": _sum(fs_spans, "files_copied") / n,
        "filesync.jobs": sum(_sum(_subtree(spans, s), "jobs") for s in fs_spans) / n,
        "operators.exec_s": sum(_dur(t) for t in tables if t["kind"] == "delta") / n,
    }
    m.update({f"operators.{k}": _sum(delta_tables, k) / n for k in _OPERATOR_KEYS})
    m.update({f"pg.{k}": pg_delta[k] / n for k in ("sessions", "xact_commit", "tup_inserted", "tup_updated")})
    pg_rows = sum(_sum(_named(spans, k, sink="pg"), "rows") for k in ("sinks.write", "sinks.copy"))
    m["pg.wal_bytes_per_row"] = pg_delta["wal_bytes"] / max(pg_rows, 1)
    # target bytes written by both sinks (parquet output, Postgres WAL) per
    # source byte that arrived
    target_bytes = _sum(writes, "output_bytes") + pg_delta["wal_bytes"]
    m["sinks.write_amplification"] = target_bytes / max(2 * source_bytes, 1)
    fs_s = sum(map(_dur, fs_spans))
    m["trace.accounted_share"] = (runner_s + fs_s) / max(cycle_s, 1e-9)
    return m


def pg_stats(connect) -> dict[str, int]:
    """Server counters of the current database and the WAL position."""
    con = connect()
    try:
        cur = con.cursor()
        cur.execute(
            "SELECT sessions, xact_commit, tup_inserted, tup_updated, "
            "pg_current_wal_lsn() - '0/0'::pg_lsn FROM pg_stat_database "
            "WHERE datname = current_database()"
        )
        row = cur.fetchall()[0]
        con.commit()
    finally:
        con.close()
    keys = ("sessions", "xact_commit", "tup_inserted", "tup_updated", "wal_bytes")
    return dict(zip(keys, (int(v) for v in row)))
