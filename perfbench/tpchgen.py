"""Seeded TPC-H-like tables for the CCT registry entries.

Writes the four tables the ``cct_*`` entries read (nation, customer,
orders, lineitem), plus region, as one single-row-group parquet file
each, with the column types of the repository's test data.  The tree the
entries build is region > nation > customer > order > lineitem.  The
same seed gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_tables(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    rng = np.random.default_rng([seed, n_orders])
    n_cust = max(n_orders // 10, 25)
    os.makedirs(out_dir, exist_ok=True)
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": [f"REGION{i}" for i in range(5)]}),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array(nation_keys % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
            "c_nationkey": pa.array(
                rng.integers(0, 25, n_cust).astype(np.int32))}),
    }
    okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders)
                              .astype(np.int64))})
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    # per order: line numbers 1..lines[i]
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(okeys, lines)),
        "l_linenumber": pa.array(linenumber),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return {name: t.num_rows for name, t in tables.items()}
