"""Regenerate ``expected.json``: the DuckDB oracle's result fingerprint for
every ``MIX`` query on each bundled lake.

Run from the repository root: ``python3 perfbench/make_expected.py``.
The lakes under ``perfbench/lake`` are fixed, so this only needs re-running
when the mix or an oracle changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402

from database_synchronize_tool_spark.catalog import TABLES, table_path  # noqa: E402
from database_synchronize_tool_spark.plans.registry import all_queries  # noqa: E402
from mix import EXPECTED, MIX, fingerprint  # noqa: E402


def main() -> int:
    queries = all_queries()
    out = {}
    for lake in sorted(os.listdir(os.path.join(HERE, "lake"))):
        lake_dir = os.path.join(HERE, "lake", lake)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(lake_dir, t)}')"
            )
        out[lake] = {}
        for name in MIX:
            cur = con.execute(queries[name].oracle)
            cols = [d[0] for d in cur.description]
            out[lake][name] = fingerprint(cols, cur.fetchall())
            print(lake, name, out[lake][name]["rows"], file=sys.stderr)
        con.close()
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
