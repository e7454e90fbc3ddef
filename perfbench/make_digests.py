"""Regenerate ``data/catalog_digests.json``: the expected output of every
catalog row the benchmark runs, taken from the row's DuckDB oracle
(``oracle_sql_map()``) over the committed input tables in
``data/sf0.001/``, plus the sha256 of each input file.

    python3 perfbench/make_digests.py

Run it from the repository root after changing ``CATALOG_ROWS`` or the
input tables; the benchmark compares Spark's output with these digests
and refuses to run on input files whose sha256 differs.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402
from perfbench.workloads import CATALOG_DATA, CATALOG_ROWS, COUNT_ONLY, DIGESTS  # noqa: E402


def main() -> None:
    import duckdb

    from mbgspark.plans.catalog import oracle_sql_map

    tables = sorted(f[: -len(".parquet")] for f in os.listdir(CATALOG_DATA)
                    if f.endswith(".parquet"))
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(CATALOG_DATA, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = oracle_sql_map()
    rows = {}
    for name in CATALOG_ROWS:
        cur = con.execute(oracles[name])
        n, h = stats.digest(cur.fetchall(), [d[0] for d in cur.description])
        rows[name] = {"rows": n, "sha256": h}
        if name in COUNT_ONLY:
            rows[name]["count_only"] = COUNT_ONLY[name]
    con.close()
    out = {
        "inputs": {t: stats.file_sha256(os.path.join(CATALOG_DATA, f"{t}.parquet")) for t in tables},
        "rows": rows,
    }
    with open(DIGESTS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {DIGESTS}: {len(rows)} rows over {len(tables)} tables")


if __name__ == "__main__":
    main()
