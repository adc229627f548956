"""Expected results for the benchmark's timed operations.

Results are compared in the canonical multiset form of
``tools/check_oracle.py`` (type-strict value canonicalization,
order-insensitive), reduced to a row count, the sorted column names and
a SHA-256 digest of the sorted canonical rows.

The dedup oracles are slow in DuckDB (tens of seconds each), so their
digests are recorded once for the benchmark's fixed corpus and kept in
``expected.json``; re-record them after changing the corpus generator
or an oracle query:

    python3 perfbench/oracle.py

The star-schema oracles take milliseconds and are evaluated live.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import sys
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED_PATH = os.path.join(HERE, "expected.json")


@functools.cache
def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "_perfbench_check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _naive_utc(v):
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def digest(cols: list[str], rows: list[tuple]) -> dict:
    """Row count, sorted columns and canonical-multiset digest."""
    ms = _check_oracle().df_to_multiset(
        cols, [tuple(_naive_utc(v) for v in r) for r in rows]
    )
    h = hashlib.sha256()
    for row, n in sorted(ms.items()):
        h.update(repr((row, n)).encode())
    return {"rows": len(rows), "cols": sorted(cols), "digest": h.hexdigest()}


def arrow_digest(table) -> dict:
    cols = list(table.column_names)
    return digest(cols, [tuple(d[c] for c in cols) for d in table.to_pylist()])


def duckdb_views(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_table(con, name: str):
    from instacart_medallion_lakehouse_spark import queries as q

    return con.execute(q.oracle_sql()[name]).fetch_arrow_table()


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def record(names: list[str], tables: dict, corpus: dict) -> None:
    """Evaluate the DuckDB oracles of ``names`` on ``tables`` and write
    their digests, tagged with ``corpus``, to ``expected.json``."""
    import tempfile

    import datagen

    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        datagen.write_tables(tmp, tables)
        con = duckdb_views(tmp, list(tables))
        out = {**corpus, "queries": {}}
        for name in names:
            out["queries"][name] = arrow_digest(oracle_table(con, name))
            print(name, out["queries"][name]["rows"], file=sys.stderr)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    record(workloads.DEDUP_ORACLED, workloads.dedup_corpus(), workloads.DEDUP_CORPUS)
