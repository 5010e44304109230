"""The sync workload: the reference's replication loop, cycle by cycle.

One epoch is an initial full copy, then for each generated delta a delta
cycle followed by ``NOOPS_PER_DELTA`` no-op cycles. A cycle is ``runner.run_all_syncs`` over the
three generated tables into each sink, plus ``filesync.sync_file_sets``. Every
epoch starts from the same state (source holds only the base rows, target
empty) and its end state is checked against the generator.

Each cycle runs the loop twice over the same source: into the parquet lake
through ``ParquetMergeSink`` (the GCP variant's lakehouse, which rewrites the
target on every delta) and into a live Postgres through
``PgWireWatermarkTarget`` (COPY into an empty table, batched ``ON CONFLICT``
upserts after). The traced run splits the cycle by sink.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb

from database_synchronize_tool_spark import runner
from database_synchronize_tool_spark.sources import filesync, pgwire
from database_synchronize_tool_spark.sources.config import SyncConfig
from database_synchronize_tool_spark.sources.readers import ParquetSource
from database_synchronize_tool_spark.sources.sinks import (
    ParquetMergeSink,
    PgWireWatermarkTarget,
)

from gen import CHECK_SQL, PG_DDL, TARGET_COLUMNS, SyncData

CONFIGS = {
    "shows": SyncConfig(
        "shows", "date_added", "timestamp",
        ignore_columns=("cast_members",), merge_keys=("show_id",),
    ),
    "events": SyncConfig("events", "ts", "timestamp", merge_keys=("id",)),
    "ledger": SyncConfig("ledger", "id", "id", merge_keys=("id",)),
}

# Postgres settings pinned for every run: no checkpoint or autovacuum starts
# inside a run. Durability stays at the server defaults, so commits and WAL
# flushes are part of every timed cycle; DURABILITY is printed with the
# result to show it.
PG_SETTINGS = {
    "autovacuum": "off",
    "checkpoint_timeout": "1h",
    "max_wal_size": "4GB",
}
DURABILITY = ("fsync", "synchronous_commit", "full_page_writes", "wal_sync_method")

# No-op cycles after each delta cycle; the reported no-op time is their
# median, since one no-op cycle is the cheapest and noisiest sample.
NOOPS_PER_DELTA = 3


@dataclass
class Cycle:
    kind: str  # copy | delta | noop
    seconds: float
    rows: int  # rows the runner reported synced
    source_bytes: int  # parquet bytes new in the source this cycle


@dataclass
class Outcome:
    """What the measured epochs did, for metrics and ``error_rate``."""

    cycles: list[Cycle] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def seconds(self, kind: str) -> list[float]:
        return [c.seconds for c in self.cycles if c.kind == kind]


def start_postgres(port: int) -> pgwire.EphemeralPostgres:
    """A fresh server with :data:`PG_SETTINGS` applied."""
    pg = pgwire.EphemeralPostgres(port=port)
    if not pg.available:
        raise RuntimeError(f"postgres unavailable: {pg.error}")
    # appended, so the file keeps the server user as owner; every pinned
    # setting takes effect on reload
    with open(os.path.join(pg.data, "postgresql.conf"), "a") as f:
        f.writelines(f"{k} = '{v}'\n" for k, v in PG_SETTINGS.items())
    con = pgwire.connect(**pg.connect_kwargs())
    try:
        cur = con.cursor()
        cur.execute("SELECT pg_reload_conf()")
        con.commit()
    finally:
        con.close()
    return pg


def pg_settings(pg: pgwire.EphemeralPostgres) -> dict[str, str]:
    con = pgwire.connect(**pg.connect_kwargs())
    try:
        cur = con.cursor()
        out = {}
        for k in (*PG_SETTINGS, *DURABILITY):
            cur.execute(f"SHOW {k}")
            out[k] = cur.fetchall()[0][0]
        cur.execute("SHOW server_version")
        out["server_version"] = cur.fetchall()[0][0]
        return out
    finally:
        con.close()


class SyncWorkload:
    """Drives epochs of sync cycles from ``data`` into both sinks.

    A cycle syncs the three tables into the parquet lake, then into the
    Postgres server ``pg``, then syncs the file set. ``tracer`` wraps source,
    sink, watermark probe and file sync calls in spans when tracing is on.
    """

    def __init__(self, spark, data: SyncData, work_dir: str, pg, tracer):
        self.spark, self.data, self.tracer = spark, data, tracer
        self.src_root = os.path.join(work_dir, "source")
        self.files_src = os.path.join(work_dir, "files_src")
        self.files_dst = os.path.join(work_dir, "files_dst")
        self.lake_root = os.path.join(work_dir, "lake_target")
        self.source = ParquetSource(self.src_root)
        self.connect = functools.partial(pgwire.connect, **pg.connect_kwargs())
        self.sinks = {
            "lake": ParquetMergeSink(self.lake_root),
            "pg": PgWireWatermarkTarget(
                connect=self.connect,
                check_columns={t: c.check_column for t, c in CONFIGS.items()},
            ),
        }

    # -- state -----------------------------------------------------------------

    def reset(self) -> None:
        """Source back to the base rows, targets and file destination empty."""
        for path in (self.src_root, self.files_src, self.files_dst, self.lake_root):
            shutil.rmtree(path, ignore_errors=True)
        for table in CONFIGS:
            d = os.path.join(self.src_root, f"{table}.parquet")
            os.makedirs(d)
            os.link(self.data.base_file(table), os.path.join(d, "part-00000.parquet"))
        shutil.copytree(self.data.files_base, self.files_src, copy_function=os.link)
        os.makedirs(self.files_dst)
        con = self.connect()
        try:
            cur = con.cursor()
            for table, ddl in PG_DDL.items():
                cur.execute(f"DROP TABLE IF EXISTS {table}")
                cur.execute(ddl)
            con.commit()
        finally:
            con.close()

    def arrive(self, cycle: int) -> int:
        """Make delta ``cycle`` visible in the source; returns its bytes."""
        n = 0
        for table in CONFIGS:
            src = self.data.delta_file(table, cycle)
            os.link(src, os.path.join(self.src_root, f"{table}.parquet", os.path.basename(src)))
            n += os.path.getsize(src)
        shutil.copytree(
            self.data.files_staged(cycle), self.files_src,
            copy_function=os.link, dirs_exist_ok=True,
        )
        return n

    # -- one cycle ---------------------------------------------------------------

    def cycle(self, kind: str, delta: int, out: Outcome) -> Cycle:
        """Run one timed cycle and check every table's and the file set's
        reported counts against the generator."""
        if kind == "copy":
            source_bytes = sum(os.path.getsize(self.data.base_file(t)) for t in CONFIGS)
        else:
            source_bytes = self.arrive(delta) if kind == "delta" else 0
        tr = self.tracer
        results = {}
        t0 = time.perf_counter()
        with tr.span("cycle", kind=kind):
            for target, sink in self.sinks.items():
                source = self.source
                if tr.enabled:
                    source = TracedSource(source, tr, kind, target)
                    sink = TracedSink(sink, tr, kind, target)
                with tr.span("runner.run_all_syncs", kind=kind, sink=target):
                    results[target] = runner.run_all_syncs(self.spark, CONFIGS, source, sink)
                    if tr.enabled:
                        source.finish()
            with tr.span("filesync.sync_file_sets", group="filesync", kind=kind) as s:
                if tr.enabled:
                    s["files_listed"] = len(listing(self.files_src)) + len(listing(self.files_dst))
                stats = filesync.sync_file_sets(self.spark, self.files_src, self.files_dst)
                s["files_copied"] = stats["new_files"]
        seconds = time.perf_counter() - t0

        rows = 0
        for target, rs in results.items():
            for r in rs:
                want = {
                    "copy": self.data.size.base_rows(r.table),
                    "delta": self.data.delta_rows[r.table][delta - 1] if delta else 0,
                    "noop": 0,
                }[kind]
                out.check(r.ok and r.rows_synced == want, f"{kind} {target} {r.table}: {r}")
                rows += r.rows_synced
        want = {
            "copy": self.data.size.files,
            "delta": len(self.data.files_delta[delta - 1]) if delta else 0,
            "noop": 0,
        }[kind]
        out.check(stats["new_files"] == want, f"{kind} files: {stats}")
        c = Cycle(kind, seconds, rows, source_bytes)
        out.cycles.append(c)
        return c

    def epoch(self, out: Outcome) -> None:
        self.reset()
        self.cycle("copy", 0, out)
        for d in range(1, self.data.size.deltas + 1):
            self.cycle("delta", d, out)
            for _ in range(NOOPS_PER_DELTA):
                self.cycle("noop", d, out)
        self.check_state(out)

    # -- end-state checks --------------------------------------------------------

    def state(self, target: str, table: str) -> tuple[tuple, list[str]]:
        """The table's check aggregates and column names at one target."""
        sql = CHECK_SQL[table]
        if target == "lake":
            path = os.path.join(self.lake_root, f"{table}.parquet", "*.parquet")
            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
                cols = [d[0] for d in con.execute(f"SELECT * FROM {table} LIMIT 0").description]
                row = con.execute(sql.format(t=table)).fetchone()
            finally:
                con.close()
        else:
            con = self.connect()
            try:
                cur = con.cursor()
                cur.execute(sql.format(t=table))
                row = cur.fetchall()[0]
                cur.execute(
                    "SELECT column_name FROM information_schema.columns "
                    f"WHERE table_name = '{table}' ORDER BY ordinal_position"
                )
                cols = [r[0] for r in cur.fetchall()]
                con.commit()
            finally:
                con.close()
        return tuple(int(v) for v in row), cols

    def check_state(self, out: Outcome) -> None:
        for target in self.sinks:
            for table in CONFIGS:
                got, cols = self.state(target, table)
                out.check(
                    got == self.data.expected[table]
                    and sorted(cols) == sorted(TARGET_COLUMNS[table]),
                    f"state {target} {table}: {got} {cols} != {self.data.expected[table]}",
                )
        out.check(listing(self.files_src) == listing(self.files_dst), "file listing differs")


@contextmanager
def traced_layers(tracer):
    """Wrap the watermark probe and the two file-sync phases in spans for
    the duration of the block. They are looked up as module globals at call
    time (``runner.sync_table``, ``filesync.sync_file_sets``), so replacing
    the module attributes reaches every call."""
    if not tracer.enabled:
        yield
        return

    def wrap(fn, name, group):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, group=group):
                return fn(*args, **kwargs)

        return traced

    targets = [
        (runner, "probe_watermark", "watermark.probe", "probe"),
        (filesync, "plan_file_sets", "filesync.plan", "plan"),
        (filesync, "execute_copy", "filesync.copy", "copy"),
    ]
    originals = [getattr(mod, attr) for mod, attr, _, _ in targets]
    for (mod, attr, name, group), fn in zip(targets, originals):
        setattr(mod, attr, wrap(fn, name, group))
    try:
        yield
    finally:
        for (mod, attr, _, _), fn in zip(targets, originals):
            setattr(mod, attr, fn)


def listing(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def end_to_end(out: Outcome) -> dict[str, float]:
    return {
        "cold_s": statistics.median(out.seconds("copy")),
        "work_s": statistics.median(out.seconds("delta")),
        "repeat_s": statistics.median(out.seconds("noop")),
    }


# -- tracing proxies ---------------------------------------------------------------


class TracedSource:
    """Source proxy: each ``read`` starts the table's span, tagging every
    Spark job of that table's sync (probes, delta scan, write) with one job
    group; the next table's ``read`` or :meth:`finish` ends it."""

    def __init__(self, inner, tracer, kind: str, sink: str):
        self.inner, self.tracer, self.kind, self.sink = inner, tracer, kind, sink
        self._open = None

    def read(self, spark, table: str):
        self.finish()
        self._open = self.tracer.span(
            "runner.table", group="table", table=table, kind=self.kind, sink=self.sink
        )
        self._open.__enter__()
        with self.tracer.span("readers.read", table=table, kind=self.kind):
            return self.inner.read(spark, table)

    def finish(self) -> None:
        if self._open is not None:
            self._open.__exit__(None, None, None)
            self._open = None


class TracedSink:
    """Sink proxy: spans around ``read_target``, ``write`` and
    ``write_copy``. Attributes the wrapped sink lacks stay absent, so the
    runner's ``hasattr`` dispatch (COPY path, server-side emptiness probe)
    sees exactly the wrapped sink's surface."""

    def __init__(self, inner, tracer, kind: str, sink: str):
        self.inner, self.tracer, self.kind, self.sink = inner, tracer, kind, sink

    def read_target(self, spark, table, schema):
        with self.tracer.span("sinks.read_target", table=table, kind=self.kind):
            return self.inner.read_target(spark, table, schema)

    def write(self, df, table, keys):
        with self.tracer.span(
            "sinks.write", group="write", table=table, kind=self.kind, sink=self.sink
        ) as s:
            n = self.inner.write(df, table, keys)
            s["rows"] = n
            return n

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if name != "write_copy":
            return attr

        def write_copy(df, table, keys=()):
            with self.tracer.span(
                "sinks.copy", group="copy", table=table, kind=self.kind, sink=self.sink
            ) as s:
                n = attr(df, table, keys)
                s["rows"] = n
                return n

        return write_copy
