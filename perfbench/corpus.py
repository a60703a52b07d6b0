"""Synthetic TPC-H-shaped source tables for the GraphRAFT benchmark.

The engine's graph ingest (``graphraft_spark.graph.tpch.tpch_graph``)
reads seven parquet tables.  This module writes them, deterministically,
with the degree structure the workloads need:

* customers and suppliers have unique names and a small neighbourhood
  (five orders per customer, sixteen parts per supplier);
* part names come from a 64-word vocabulary (8 adjectives x 8 nouns),
  so every part name is a *hub* that names ``n_part / 64`` parts;
* 25 nations in 5 regions, as in TPC-H.

The corpus is fixed (it does not depend on the run seed): the seed picks
the questions, not the graph, so set-up cost is the same on every run.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("red", "blue", "green", "small", "large", "hot", "cold", "new")
NOUNS = ("bolt", "gear", "ring", "plate", "rod", "anvil", "widget", "spring")
PART_NAMES = tuple(f"{a} {n}" for a in ADJECTIVES for n in NOUNS)
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

N_NATION = 25
N_REGION = 5
CORPUS_SEED = 20240611

# rows per table at scale 1.0 (about TPC-H sf0.002)
BASE = {"customer": 320, "supplier": 160, "part": 1280, "orders": 1600}
LINES_PER_ORDER = 4


def customer_name(key: int) -> str:
    return f"Customer#{key:09d}"


def supplier_name(key: int) -> str:
    return f"Supplier#{key:09d}"


def nation_name(key: int) -> str:
    return f"NATION_{key}"


def make_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """Build the seven source tables in memory (same output every call).

    The degree structure is regular, so questions of one shape cost the
    same whichever anchors a seed picks: nations are assigned
    round-robin, every customer places the same number of orders, every
    order has ``LINES_PER_ORDER`` lines, every part appears in the same
    number of lines and has two suppliers, and every supplier supplies
    the same number of parts.
    """
    rng = random.Random(CORPUS_SEED)
    n = {t: max(2, int(round(c * scale))) for t, c in BASE.items()}
    n_cust, n_supp, n_part, n_ord = (n["customer"], n["supplier"],
                                     n["part"], n["orders"])
    region = pa.table({
        "r_regionkey": pa.array(range(N_REGION), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(N_REGION)],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATION), pa.int32()),
        "n_name": [nation_name(i) for i in range(N_NATION)],
        "n_regionkey": pa.array([i % N_REGION for i in range(N_NATION)],
                                pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [customer_name(i) for i in range(n_cust)],
        "c_nationkey": pa.array([i % N_NATION for i in range(n_cust)],
                                pa.int32()),
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [supplier_name(i) for i in range(n_supp)],
        "s_nationkey": pa.array([i % N_NATION for i in range(n_supp)],
                                pa.int32()),
    })
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        # round-robin over the vocabulary: every name is an equal-size hub
        "p_name": [PART_NAMES[i % len(PART_NAMES)] for i in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
    })
    # two suppliers per part, each supplier serving 2 * n_part / n_supp
    half = max(1, n_supp // 2)
    part_supp = [(p % n_supp, (p + half) % n_supp) for p in range(n_part)]
    # the line sequence walks whole shuffled permutations of the parts,
    # so every part lands in (almost exactly) the same number of lines
    n_lines = n_ord * LINES_PER_ORDER
    seq: list[int] = []
    while len(seq) < n_lines:
        perm = list(range(n_part))
        rng.shuffle(perm)
        seq.extend(perm)
    o_key, o_cust, o_prio = [], [], []
    l_order, l_part, l_supp, l_line = [], [], [], []
    for okey in range(n_ord):
        o_key.append(okey)
        o_cust.append(okey % n_cust)
        o_prio.append(rng.choice(PRIORITIES))
        for line in range(LINES_PER_ORDER):
            pkey = seq[okey * LINES_PER_ORDER + line]
            l_order.append(okey)
            l_part.append(pkey)
            l_supp.append(part_supp[pkey][rng.randrange(2)])
            l_line.append(line + 1)
    orders = pa.table({
        "o_orderkey": pa.array(o_key, pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderpriority": o_prio,
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(l_supp, pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
