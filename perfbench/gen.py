"""Seeded inputs for the sync workload: three source tables and a file set.

Nothing is downloaded. One seed gives byte-identical parquet and files.

- ``shows``: Netflix-shaped (the reference's ``netflix.yaml`` table): text
  key ``show_id``, ``date`` watermark ``date_added``, long text columns and a
  nullable ``cast_members`` listed in ``ignore_columns``.
- ``events``: narrow; bigint key ``id``, timestamp watermark ``ts`` and a
  JSON-string ``payload``.
- ``ledger``: small and append-only, watermarked on its ``id`` (the
  reference's id path, where a missing MAX reads as 0).
- a source file-set directory for the bucket sync.

A delta cycle appends one parquet file per table holding about 5% new rows
and about 1% new versions of existing keys. Every row of a cycle carries a
watermark strictly above the previous maximum, so the runner's strict ``>``
(reference T3) never drops a tie; ``shows`` moves one whole day per cycle
because its watermark has day granularity. Each row also carries ``rev``, the
cycle that last wrote it, so the last-writer-wins state is checkable with
aggregates that DuckDB and Postgres compute with the same SQL.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Per-table state checks. The same SQL runs in DuckDB over the lake target
# and in Postgres over the live target; `_State.checks` computes the same
# four numbers from the generator's own record of the latest version per key.
CHECK_SQL = {
    "shows": (
        "SELECT count(*), sum(cast(substr(show_id, 2) AS bigint) * (rev + 1)), "
        "sum(length(description)), sum(date_added - DATE '1970-01-01') FROM {t}"
    ),
    "events": (
        "SELECT count(*), sum(id * (rev + 1)), sum(length(payload)), "
        "sum(cast(round(amount * 100) AS bigint)) FROM {t}"
    ),
    "ledger": (
        "SELECT count(*), sum(id * (rev + 1)), sum(length(note)), "
        "sum(cast(round(amount * 100) AS bigint)) FROM {t}"
    ),
}

# Target columns after the runner prunes the nullable ignored column.
TARGET_COLUMNS = {
    "shows": (
        "show_id", "type", "title", "director", "country", "date_added",
        "release_year", "rating", "duration", "listed_in", "description", "rev",
    ),
    "events": ("id", "ts", "user_id", "kind", "payload", "amount", "rev"),
    "ledger": ("id", "account", "amount", "note", "rev"),
}

PG_DDL = {
    "shows": (
        "CREATE TABLE shows (show_id text PRIMARY KEY, type text, title text, "
        "director text, country text, date_added date, release_year int, "
        "rating text, duration text, listed_in text, description text, rev int)"
    ),
    "events": (
        "CREATE TABLE events (id bigint PRIMARY KEY, ts timestamp, user_id int, "
        "kind text, payload text, amount double precision, rev int)"
    ),
    "ledger": (
        "CREATE TABLE ledger (id bigint PRIMARY KEY, account int, "
        "amount double precision, note text, rev int)"
    ),
}

_WORDS = (
    "a man woman family war love city night dark secret life story young old "
    "world home lost last first girl boy friend house murder island road time "
    "journey power heart fire king queen team school summer winter river"
).split()
_COUNTRIES = ["US", "IN", "GB", "JP", "KR", "FR", "ES", "DE", "BR", "MX"]
_RATINGS = ["TV-MA", "TV-14", "TV-PG", "R", "PG-13", "PG", "TV-Y7", "G"]
_GENRES = ["Dramas", "Comedies", "Documentaries", "Action", "Thrillers", "Kids"]
_KINDS = ["view", "click", "cart", "buy", "refund"]

SHOWS_EPOCH = dt.date(2015, 1, 1)
EVENTS_EPOCH_US = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000


@dataclass(frozen=True)
class Size:
    """Row and file counts of one generated data set."""

    shows: int
    events: int
    ledger: int
    files: int
    deltas: int  # delta cycles generated; each epoch replays all of them

    def base_rows(self, table: str) -> int:
        return getattr(self, table)


# The measured size. A run is one cold epoch (copy, delta, three no-ops,
# both sinks), and a sync run should take about a minute at most, so that a
# schedule of 48 runs of the two workloads fits in an hour with a margin for
# a loaded host. Runs at 2x and 4x of (3k shows, 40k events, 3k ledger rows,
# 60 files) took 54 and 56 s on 4 vCPUs, the copy 22.8 and 24.2 s; the size
# is the larger of the two.
FULL = Size(shows=12_000, events=160_000, ledger=12_000, files=240, deltas=1)
TINY = Size(shows=300, events=2_000, ledger=200, files=20, deltas=1)


def _text(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` ASCII phrases of ``lo``..``hi`` words."""
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(_WORDS[w] for w in words[i : i + k]))
        i += k
    return out


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> list[str]:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def _shows(rng, keys: np.ndarray, days: np.ndarray, rev: int) -> pa.Table:
    n = len(keys)
    director = _text(rng, n, 2, 3)
    cast = _text(rng, n, 3, 8)
    no_director = rng.random(n) < 0.3
    no_cast = rng.random(n) < 0.1
    return pa.table(
        {
            "show_id": pa.array([f"s{k:07d}" for k in keys], pa.string()),
            "type": _pick(rng, ["Movie", "TV Show"], n),
            "title": _text(rng, n, 1, 5),
            "director": [None if m else d for m, d in zip(no_director, director)],
            "cast_members": [None if m else c for m, c in zip(no_cast, cast)],
            "country": _pick(rng, _COUNTRIES, n),
            "date_added": pa.array(
                [SHOWS_EPOCH + dt.timedelta(days=int(d)) for d in days], pa.date32()
            ),
            "release_year": pa.array(rng.integers(1950, 2024, n), pa.int32()),
            "rating": _pick(rng, _RATINGS, n),
            "duration": [f"{m} min" for m in rng.integers(20, 200, n)],
            "listed_in": _pick(rng, _GENRES, n),
            "description": _text(rng, n, 20, 60),
            "rev": pa.array(np.full(n, rev), pa.int32()),
        },
        schema=pa.schema(
            [pa.field("show_id", pa.string(), nullable=False)]
            + [
                pa.field(c, t)
                for c, t in [
                    ("type", pa.string()), ("title", pa.string()),
                    ("director", pa.string()), ("cast_members", pa.string()),
                    ("country", pa.string()), ("date_added", pa.date32()),
                    ("release_year", pa.int32()), ("rating", pa.string()),
                    ("duration", pa.string()), ("listed_in", pa.string()),
                    ("description", pa.string()), ("rev", pa.int32()),
                ]
            ]
        ),
    )


def _events(rng, keys: np.ndarray, ts_us: np.ndarray, rev: int) -> pa.Table:
    n = len(keys)
    users = rng.integers(0, 5_000, n)
    kinds = _pick(rng, _KINDS, n)
    skus = rng.integers(0, 900, n)
    cents = rng.integers(100, 50_000, n)
    payload = [
        f'{{"sku": {s}, "kind": "{k}", "qty": {q}, "rev": {rev}}}'
        for s, k, q in zip(skus, kinds, rng.integers(1, 9, n))
    ]
    return pa.table(
        {
            "id": pa.array(keys, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int32()),
            "kind": kinds,
            "payload": payload,
            "amount": pa.array(cents / 100.0, pa.float64()),
            "rev": pa.array(np.full(n, rev), pa.int32()),
        }
    )


def _ledger(rng, keys: np.ndarray, rev: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "id": pa.array(keys, pa.int64()),
            "account": pa.array(rng.integers(0, 300, n), pa.int32()),
            "amount": pa.array(rng.integers(-90_000, 90_000, n) / 100.0, pa.float64()),
            "note": _text(rng, n, 1, 6),
            "rev": pa.array(np.full(n, rev), pa.int32()),
        }
    )


@dataclass
class _State:
    """Every version of a table's rows in write order, as the columns the
    checks aggregate."""

    parts: list[tuple[np.ndarray, ...]] = field(default_factory=list)

    def apply(self, keys, revs, text_len, values) -> None:
        self.parts.append(tuple(np.asarray(a, np.int64) for a in (keys, revs, text_len, values)))

    def checks(self) -> tuple[int, int, int, int]:
        keys, revs, text_len, values = (np.concatenate(c) for c in zip(*self.parts))
        # the latest version of a key is its last occurrence in write order
        _, first_from_end = np.unique(keys[::-1], return_index=True)
        last = len(keys) - 1 - first_from_end
        return (
            len(last),
            int((keys[last] * (revs[last] + 1)).sum()),
            int(text_len[last].sum()),
            int(values[last].sum()),
        )


@dataclass
class SyncData:
    """Paths and expectations of one generated data set.

    ``base_dir`` holds the base parquet per table, ``delta_dir`` one file per
    table and cycle, ``files_base``/``files_delta`` the file set. The expected
    per-cycle row counts and final checks let a run verify every cycle.
    """

    root: str
    size: Size
    delta_rows: dict[str, list[int]]  # table -> rows per delta cycle
    expected: dict[str, tuple[int, int, int, int]]  # after the last delta
    files_delta: list[list[str]]  # relative names new in each delta cycle

    @property
    def base_dir(self) -> str:
        return os.path.join(self.root, "base")

    def base_file(self, table: str) -> str:
        return os.path.join(self.base_dir, f"{table}.parquet", "part-00000.parquet")

    def delta_file(self, table: str, cycle: int) -> str:
        return os.path.join(self.root, "delta", table, f"part-{cycle:05d}.parquet")

    @property
    def files_base(self) -> str:
        return os.path.join(self.root, "files_base")

    def files_staged(self, cycle: int) -> str:
        return os.path.join(self.root, "files_delta", str(cycle))


def generate(root: str, seed: int, size: Size) -> SyncData:
    """Write the base tables, every delta cycle and the file set under
    ``root`` and return where they are with the expected end state."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    states = {t: _State() for t in ("shows", "events", "ledger")}
    delta_rows: dict[str, list[int]] = {t: [] for t in states}

    def write(table: str, tbl: pa.Table, path: str, keys: np.ndarray) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(tbl, path, row_group_size=64 * 1024)
        if table == "shows":
            text = tbl["description"]
            value = tbl["date_added"].cast(pa.int32()).to_numpy()  # days since 1970
        else:
            text = tbl["payload" if table == "events" else "note"]
            value = np.round(tbl["amount"].to_numpy() * 100)
        text_len = pc.utf8_length(text).to_numpy()
        states[table].apply(keys, tbl["rev"].to_numpy(), text_len, value)

    def base_path(t: str) -> str:
        return os.path.join(root, "base", f"{t}.parquet", "part-00000.parquet")

    n = size.shows
    days = rng.integers(0, 6 * 365, n)
    write("shows", _shows(rng, np.arange(n), days, 0), base_path("shows"), np.arange(n))
    n = size.events
    ts = EVENTS_EPOCH_US + np.sort(rng.integers(0, 180 * 86_400 * 10**6, n))
    write("events", _events(rng, np.arange(n), ts, 0), base_path("events"), np.arange(n))
    keys = np.arange(1, size.ledger + 1)
    write("ledger", _ledger(rng, keys, 0), base_path("ledger"), keys)

    day_max, ts_max = int(days.max()), int(ts.max())
    next_key = {"shows": size.shows, "events": size.events, "ledger": size.ledger + 1}
    for c in range(1, size.deltas + 1):
        for table in ("shows", "events", "ledger"):
            n_base = size.base_rows(table)
            n_new = max(1, n_base // 20)
            new = np.arange(next_key[table], next_key[table] + n_new)
            next_key[table] += n_new
            if table == "ledger":  # append-only
                keys = new
            else:
                upd = rng.choice(next_key[table] - n_new, max(1, n_base // 100), replace=False)
                keys = np.concatenate([np.sort(upd), new])
            delta_rows[table].append(len(keys))
            path = os.path.join(root, "delta", table, f"part-{c:05d}.parquet")
            if table == "shows":
                day_max += 1
                tbl = _shows(rng, keys, np.full(len(keys), day_max), c)
            elif table == "events":
                steps = rng.integers(1, 3_600 * 10**6, len(keys))
                ts_new = ts_max + np.cumsum(steps)
                ts_max = int(ts_new[-1])
                tbl = _events(rng, keys, ts_new, c)
            else:
                tbl = _ledger(rng, keys, c)
            write(table, tbl, path, keys)

    files_delta: list[list[str]] = []
    frng = np.random.default_rng(seed + 1)

    def put_files(dst_root: str, first: int, count: int) -> list[str]:
        names = []
        for i in range(first, first + count):
            name = os.path.join(f"d{i % 12:02d}", f"obj-{i:06d}.bin")
            path = os.path.join(dst_root, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(frng.bytes(int(frng.integers(512, 8192))))
            names.append(name)
        return names

    put_files(os.path.join(root, "files_base"), 0, size.files)
    n_files = size.files
    for c in range(1, size.deltas + 1):
        step = max(1, size.files // 20)
        files_delta.append(put_files(os.path.join(root, "files_delta", str(c)), n_files, step))
        n_files += step

    return SyncData(
        root=root,
        size=size,
        delta_rows=delta_rows,
        expected={t: s.checks() for t, s in states.items()},
        files_delta=files_delta,
    )
