"""q04, q07 and q18 against their DuckDB oracles on a star schema whose
keys are NOT unique.

The builders plan these queries through semi joins, per-order
aggregates and partial sums that only match the oracle's SQL if they
keep its row multiplicity; the fixtures have unique keys, so they cannot
show a plan that silently assumes them. This star has:

- an exact duplicate orders row (order 1);
- a second orders row for order 1 with another o_orderdate, whose lines
  ship before it (its EXISTS is false while the first row's is true);
- an exact duplicate customer row (customer 10);
- a second nation row named NATION_1 under another key;
- enough quantity per order (> 150) and late lines in 1996-Q1 that all
  three queries return rows.
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lithops_dataframe_spark.plans import ORACLES, QUERIES
from tests.conftest import assert_df_equal

QUERY_NAMES = [
    "q04_priority_with_late_lines",
    "q07_nation_volume",
    "q18_large_volume_customers",
]


def _tables() -> dict[str, pa.Table]:
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    nation = pa.table(
        {
            "n_nationkey": pa.array([1, 2, 3, 4], i32),
            "n_name": pa.array(["NATION_1", "NATION_2", "NATION_3", "NATION_1"], s),
            "n_regionkey": pa.array([0, 0, 0, 0], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array([10, 10, 20, 30], i64),
            "c_name": pa.array(["Customer#10", "Customer#10", "Customer#20", "Customer#30"], s),
            "c_nationkey": pa.array([1, 1, 2, 4], i32),
            "c_acctbal": pa.array([1.5, 1.5, 2.5, 3.5], f64),
            "c_mktsegment": pa.array(["BUILDING"] * 4, s),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array([100, 200, 300], i64),
            "s_name": pa.array(["Supplier#100", "Supplier#200", "Supplier#300"], s),
            "s_nationkey": pa.array([2, 1, 3], i32),
            "s_acctbal": pa.array([1.0, 2.0, 3.0], f64),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, 1, 1, 2, 3], i64),
            "o_custkey": pa.array([10, 10, 20, 20, 30], i64),
            "o_orderstatus": pa.array(["O", "O", "F", "O", "F"], s),
            "o_totalprice": pa.array([101.005, 101.005, 55.125, 77.5, 12.0], f64),
            "o_orderdate": pa.array(
                [datetime(1996, 1, 10), datetime(1996, 1, 10), datetime(1996, 3, 20), datetime(1996, 2, 1), datetime(1996, 2, 15)],
                ts,
            ),
            "o_orderpriority": pa.array(["1-URGENT", "1-URGENT", "2-HIGH", "2-HIGH", "3-MEDIUM"], s),
        }
    )
    # (orderkey, suppkey, quantity, price, discount, shipdate)
    lines = [
        (1, 100, 50.0, 1000.25, 0.05, datetime(1996, 1, 20)),
        (1, 200, 60.0, 2000.50, 0.10, datetime(1996, 2, 5)),
        (1, 300, 45.0, 300.75, 0.00, datetime(1996, 3, 1)),
        (2, 200, 40.0, 400.00, 0.02, datetime(1996, 1, 25)),  # ships before its order
        (2, 100, 30.0, 350.10, 0.00, datetime(1996, 2, 20)),
        (3, 100, 80.0, 800.80, 0.03, datetime(1996, 3, 2)),
        (3, 200, 80.0, 808.08, 0.04, datetime(1997, 5, 6)),
    ]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in lines], i64),
            "l_partkey": pa.array([1000] * len(lines), i64),
            "l_suppkey": pa.array([r[1] for r in lines], i64),
            "l_linenumber": pa.array(list(range(1, len(lines) + 1)), i32),
            "l_quantity": pa.array([r[2] for r in lines], f64),
            "l_extendedprice": pa.array([r[3] for r in lines], f64),
            "l_discount": pa.array([r[4] for r in lines], f64),
            "l_tax": pa.array([0.0] * len(lines), f64),
            "l_returnflag": pa.array(["N"] * len(lines), s),
            "l_linestatus": pa.array(["O"] * len(lines), s),
            "l_shipdate": pa.array([r[5] for r in lines], ts),
        }
    )
    return {
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


@pytest.fixture(scope="module")
def dup_star(tmp_path_factory):
    path = tmp_path_factory.mktemp("dupkeys")
    con = duckdb.connect()
    for name, table in _tables().items():
        pq.write_table(table, f"{path}/{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/{name}.parquet')")
    yield str(path), con
    con.close()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_matches_oracle_with_duplicate_keys(spark, dup_star, name):
    path, con = dup_star
    assert con.sql(ORACLES[name]).fetchall(), "the star must exercise the query"
    assert_df_equal(QUERIES[name](spark, path), con.sql(ORACLES[name]))
