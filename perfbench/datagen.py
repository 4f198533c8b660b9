"""Benchmark input tables: TPC-H from DuckDB's bundled ``dbgen``, projected
onto the column set and types the engine's TPC-H graph overlay reads
(``opencyphertranspiler_spark.sources.tpch``).

``dbgen`` is deterministic for a scale factor, so every run and both sides
of an A/B read byte-identical tables. The operation sequence, not the data,
is what the benchmark seed varies. Tables are generated once per checkout
and published atomically; later runs reuse them.
"""

from __future__ import annotations

import os
import shutil

# table -> SELECT list over the dbgen table of the same name
PROJECTIONS = {
    "region": "r_regionkey::INTEGER AS r_regionkey, r_name",
    "nation": (
        "n_nationkey::INTEGER AS n_nationkey, n_name, "
        "n_regionkey::INTEGER AS n_regionkey"
    ),
    "customer": (
        "c_custkey::BIGINT AS c_custkey, c_name, "
        "c_nationkey::INTEGER AS c_nationkey, c_acctbal::DOUBLE AS c_acctbal, "
        "c_mktsegment"
    ),
    "supplier": (
        "s_suppkey::BIGINT AS s_suppkey, s_name, "
        "s_nationkey::INTEGER AS s_nationkey, s_acctbal::DOUBLE AS s_acctbal"
    ),
    "part": (
        "p_partkey::BIGINT AS p_partkey, p_name, p_brand, p_type, "
        "p_size::INTEGER AS p_size, p_retailprice::DOUBLE AS p_retailprice"
    ),
    "orders": (
        "o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey, "
        "o_orderstatus, o_totalprice::DOUBLE AS o_totalprice, "
        "o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority"
    ),
    "lineitem": (
        "l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey, "
        "l_suppkey::BIGINT AS l_suppkey, l_linenumber::INTEGER AS l_linenumber, "
        "l_quantity::DOUBLE AS l_quantity, "
        "l_extendedprice::DOUBLE AS l_extendedprice, "
        "l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax, "
        "l_returnflag, l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate"
    ),
}


def ensure_tables(root: str, sf: str) -> str:
    """Return ``{root}/sf{sf}``, generating its parquet tables if absent."""
    import duckdb

    out = os.path.join(root, f"sf{sf}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory = '{tmp}'")
        con.sql(f"CALL dbgen(sf={float(sf)})")
        for table, cols in PROJECTIONS.items():
            # ORDER BY ALL: the row order in the files is part of the input
            con.sql(
                f"COPY (SELECT {cols} FROM {table} ORDER BY ALL) "
                f"TO '{tmp}/{table}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
