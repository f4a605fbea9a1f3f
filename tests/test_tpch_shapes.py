"""TPC-H shape queries on hand-built tables, against their registry
oracle SQL run in DuckDB."""

from __future__ import annotations

import datetime as dt

import pytest


@pytest.mark.parametrize("fact_partitions", [None, 3])
def test_q21_null_semantics_match_oracle(spark, tmp_path, monkeypatch, fact_partitions):
    """q21's EXISTS / NOT EXISTS follow SQL's `<>`: a NULL l_suppkey is
    neither an "other supplier" nor an "other late supplier", and a NULL
    l_shipdate is not late.  Counting per-(order, supplier) groups made
    the NULL supplier an "other supplier" and let S13 wait alone.  Run on
    both sides of the byte gate that repartitions the fact join."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_co2_emission_analysis_spark.queries import all_queries, relational

    monkeypatch.setattr(
        relational, "_distinct_agg_partitions", lambda *a, **k: fact_partitions
    )

    day0 = dt.datetime(2000, 1, 1)
    late, on_time = dt.datetime(2000, 6, 1), dt.datetime(2000, 1, 10)
    orders = [  # (o_orderkey, o_orderstatus)
        (1, "F"),  # one waiting supplier: S10
        (2, "F"),  # S10 waits with two late lines -> numwait counts lines
        (3, "F"),  # two late suppliers: nobody waits
        (4, "F"),  # single-supplier order: nobody waits
        (5, "O"),  # open order: ignored
        (6, "F"),  # the only other line has a NULL supplier: S13 does not wait
        (7, "F"),  # the other line has a NULL l_shipdate (not late): S15 waits
        (8, "F"),  # S16's NULL l_shipdate is not late: S11 waits
        (9, "F"),  # a late NULL-supplier line is no other late supplier: S17 waits once
    ]
    lineitem = [  # (l_orderkey, l_suppkey, l_shipdate)
        (1, 10, late), (1, 11, on_time),
        (2, 10, late), (2, 10, late), (2, 12, on_time),
        (3, 11, late), (3, 12, late),
        (4, 13, late), (4, 13, late),
        (5, 14, late), (5, 11, on_time),
        (6, 13, late), (6, None, on_time),
        (7, 15, late), (7, 11, None),
        (8, 16, None), (8, 11, late),
        (9, 17, late), (9, None, late), (9, 11, on_time),
    ]
    ts = pa.timestamp("us")
    tables = {
        "orders": pa.table(
            {
                "o_orderkey": pa.array([k for k, _ in orders], pa.int64()),
                "o_orderstatus": [s for _, s in orders],
                "o_orderdate": pa.array([day0] * len(orders), ts),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lineitem], pa.int64()),
                "l_suppkey": pa.array([r[1] for r in lineitem], pa.int64()),
                "l_shipdate": pa.array([r[2] for r in lineitem], ts),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(10, 18), pa.int64()),
                "s_name": [f"S{k}" for k in range(10, 18)],
            }
        ),
    }
    con = duckdb.connect()
    for name, table in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    q = all_queries()["q21_waiting_suppliers"]
    got = [tuple(r) for r in q.fn(spark, str(tmp_path)).collect()]
    want = con.sql(q.oracle).fetchall()
    assert got == want == [("S10", 3), ("S11", 1), ("S15", 1), ("S17", 1)]


def test_q21_reads_the_fact_once(spark, sf_dir):
    """The flagged fact (lineitem x finished orders) is built once: one
    scan of each table and a single sort-merge join, with no join back
    to the fact."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
    from big_data_co2_emission_analysis_spark.queries import all_queries

    tree = explain_formatted(all_queries()["q21_waiting_suppliers"].fn(spark, sf_dir))
    tree = tree.split("\n\n")[0]
    assert tree.count("Scan parquet") == 3, tree  # lineitem, orders, supplier
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") <= 1, tree
