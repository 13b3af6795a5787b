"""Seeded TPC-H-shaped input tables for the benchmark.

Writes the seven tables `tpch_graph` projects (region, nation, customer,
supplier, part, orders, lineitem) as one parquet file each, with the
column names and types of the repository's synthetic TPC-H test data. Row
counts follow TPC-H per scale factor (150k customers, 10k suppliers,
200k parts, 1.5M orders per unit, 1-7 lineitems per order), so sf0.1
gives ~600k lineitems and ~1.2M co-order pairs. Every value comes from
``numpy.random.default_rng(seed)``: the same (seed, sf) writes the same
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])
TYPES = np.array(
    [f"{a} {b} {c}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
     for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
     for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]
)
COLOURS = np.array(
    "almond antique aquamarine azure beige bisque black blanched blue blush brown "
    "burlywood burnished chartreuse chiffon chocolate coral cornflower cornsilk cream "
    "cyan dark deep dim dodger drab firebrick floral forest frosted gainsboro ghost "
    "goldenrod green grey honeydew hot indian ivory khaki lace lavender lawn lemon "
    "light lime linen magenta maroon medium metallic midnight mint misty moccasin "
    "navajo navy olive orange orchid pale papaya peach peru pink plum powder puff "
    "purple red rose rosy royal saddle salmon sandy seashell sienna sky slate smoke "
    "snow spring steel tan thistle tomato turquoise violet wheat white yellow".split()
)


def _names(prefix: str, keys: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(keys.astype(str), 9))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the tables under ``out_dir``; returns {table: row count}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": _names("Customer#", ck),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)],
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": _names("Supplier#", sk),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    words = COLOURS[rng.integers(0, len(COLOURS), (n_part, 3))]
    retail = np.round(900.0 + (pk % 1000) + rng.uniform(0, 100, n_part), 2)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.char.add(words[:, 0], " "), words[:, 1]),
                              np.char.add(" ", words[:, 2])),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 6, n_part) * 10
                                          + rng.integers(1, 6, n_part)).astype(str)),
        "p_type": TYPES[rng.integers(0, len(TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail,
    })

    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    n_lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_num = (np.arange(len(l_ok)) - starts + 1).astype(np.int32)
    l_pk = rng.integers(1, n_part + 1, len(l_ok), dtype=np.int64)
    l_sk = rng.integers(1, n_supp + 1, len(l_ok), dtype=np.int64)
    l_qty = rng.integers(1, 51, len(l_ok)).astype(np.float64)
    l_price = np.round(l_qty * retail[l_pk - 1], 2)
    # order total = sum of its line prices (cents-exact)
    totals = np.round(np.bincount(np.searchsorted(ok, l_ok), weights=l_price), 2)
    dates = np.datetime64("1992-01-01") + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write(out_dir, "orders", {
        "o_orderkey": ok,
        # TPC-H leaves a third of customers without orders
        "o_custkey": rng.integers(0, n_cust // 3, n_ord, dtype=np.int64) * 3 + 1,
        "o_orderstatus": STATUSES[rng.integers(0, 3, n_ord)],
        "o_totalprice": totals,
        "o_orderdate": pa.array(dates.astype("datetime64[us]")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": l_sk,
        "l_linenumber": l_num,
        "l_quantity": l_qty,
        "l_extendedprice": l_price,
    })
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": int(len(l_ok))}
