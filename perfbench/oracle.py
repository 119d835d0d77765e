"""Expected results from the registry's DuckDB oracles.

Each query's expected result is reduced to the driver gate's comparison
shape: sorted column names, row count and the order-insensitive value
hash of ``tools/driver_sim`` (imported, so the two can never drift).

The oracles run in a child process, so that the benchmark's own DuckDB
work never counts in the driver process's peak memory::

    python3 perfbench/oracle.py <fixture dir> <sf> <query> [<query> ...]

checks the fixture's row counts, runs each query's oracle SQL and prints
one JSON object ``{query: [columns, rows, hash]}``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import dataclass

from tools.driver_sim import complex_cols, value_hash


@dataclass(frozen=True)
class Expected:
    cols: tuple[str, ...]
    rows: int
    digest: str


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table of the engine's fixture at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def check_fixture(data_dir: str, sf: float) -> None:
    import pyarrow.parquet as pq

    from lithops_dataframe_spark.catalog import table_path

    want = row_counts(sf)
    got = {t: pq.ParquetFile(table_path(data_dir, t)).metadata.num_rows for t in want}
    if got != want:
        raise RuntimeError(f"fixture {data_dir} has rows {got}, expected {want}")


def expected_results(data_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, Expected]:
    """Run each query's oracle SQL once against the fixture under ``data_dir``."""
    import duckdb

    from lithops_dataframe_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')")
        out = {}
        for name in names:
            # Fetch through Arrow, as the driver gate does: DuckDB's HUGEINT
            # sums degrade to float64 there, and the engine matches that.
            tbl = con.sql(oracles[name]).arrow()
            cols = list(tbl.column_names)
            data = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            rows = list(zip(*data)) if data else []
            out[name] = Expected(tuple(sorted(cols)), len(rows), value_hash(cols, rows))
        return out
    finally:
        con.close()


def expected_in_child(data_dir: str, sf: float, names: list[str]) -> dict[str, Expected]:
    """``expected_results`` for ``names``, computed in a child process."""
    cmd = [sys.executable, os.path.abspath(__file__), data_dir, repr(sf), *names]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return {k: Expected(tuple(c), r, d) for k, (c, r, d) in json.loads(out.strip().splitlines()[-1]).items()}


def check(df, rows: list, exp: Expected) -> str | None:
    """Compare a collected result with its expectation; returns why it differs."""
    bad = complex_cols(df)
    if bad:
        return f"complex output columns {bad}"
    cols = list(df.columns)
    if tuple(sorted(cols)) != exp.cols:
        return f"columns {sorted(cols)} != {list(exp.cols)}"
    if len(rows) != exp.rows:
        return f"rows {len(rows)} != {exp.rows}"
    if value_hash(cols, [tuple(r) for r in rows]) != exp.digest:
        return "value hash differs"
    return None


def main(argv: list[str]) -> int:
    from lithops_dataframe_spark.plans import ORACLES

    data_dir, sf, names = argv[0], float(argv[1]), argv[2:]
    check_fixture(data_dir, sf)
    exp = expected_results(data_dir, names, ORACLES)
    print(json.dumps({k: [list(e.cols), e.rows, e.digest] for k, e in exp.items()}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
