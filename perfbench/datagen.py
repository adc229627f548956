"""Seeded synthetic inputs for the benchmark workloads.

Writes the engine's star schema (``region nation customer supplier part
orders lineitem``) and the ``documents`` corpus as one parquet file per
table. The same ``(seed, scale)`` always gives the same rows.

Every parameter below is taken from the engine's test data, the
deterministic seed-42 tables that the test suite and ``bench.py`` read
(TESTDATA.md; schemas and row counts in FIXTURES.md, section B). Column
names and types are those of the test-data parquet files; their two
timestamp columns read back as ``timestamp[us]`` (FIXTURES.md lists
``timestamp[ms]``). The distributions were measured on those files at
all three scales (sf 0.001, 0.01, 0.1) and are noted next to each
constant. Only the random draws differ, so the benchmark can make its
inputs wherever it runs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# Rows per unit of scale (FIXTURES.md B: 150 / 10 / 200 / 1 500 / 6 000
# rows at sf 0.001, times 10 per step; supplier has at least 10).
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000}
# Categorical domains, each value equally likely in the test data.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]  # p_name = "<adj> <noun>"
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Date ranges: o_orderdate 1995-01-01..2001-08-01, l_shipdate
# 1995-01-02..2001-11-04, both uniform by day and independent.
ORDER_DAYS = ("1995-01-01", "2001-08-01")
SHIP_DAYS = ("1995-01-02", "2001-11-04")
# Measures: uniform, rounded to cents. Discount and tax are uniform in
# [0, 0.10] and [0, 0.08] rounded to 0.01, so their end values are half
# as frequent as the others.
ACCTBAL = (-999.99, 9999.99)
TOTALPRICE = (1000.0, 500_000.0)
EXTENDEDPRICE = (900.0, 105_000.0)
DISCOUNT_MAX, TAX_MAX = 0.10, 0.08

# The corpus: 500 documents at sf 0.001 and 0.01, 5 000 at sf 0.1. Texts
# are 10..100 words drawn uniformly from these 30 words; n_chars is the
# text's length. Exactly 5 % of the documents are replaced by another
# document (any, earlier or later) plus the word "dup"; two of them
# sharing a base are exact copies (8 pairs in 5 000 documents).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
WORDS_PER_DOC = (10, 100)
NEAR_DUP_SHARE = 0.05
# lang: en 41 %, de / es / fr / zh about 15 % each; source: 20 sources
# assigned round-robin by doc_id.
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20

_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _days(span: tuple[str, str], n: int, rng: np.random.Generator) -> pa.Array:
    lo = (np.datetime64(span[0], "D") - _EPOCH_DAY).astype(np.int64)
    hi = (np.datetime64(span[1], "D") - _EPOCH_DAY).astype(np.int64)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _uniform(span: tuple[float, float], n: int, rng: np.random.Generator, digits=2) -> np.ndarray:
    return np.round(rng.uniform(span[0], span[1], n), digits)


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n = {t: int(round(r * sf)) for t, r in ROWS_PER_SF.items()}
    n["supplier"] = max(10, n["supplier"])
    n_cust, n_supp, n_part, n_ord, n_line = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"])
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nation_keys),
            "n_name": pa.array([f"NATION_{k}" for k in nation_keys]),
            "n_regionkey": pa.array(nation_keys % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_uniform(ACCTBAL, n_cust, rng)),
            "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_uniform(ACCTBAL, n_supp, rng)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(PART_TYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            # 900.0, 900.1, ... 999.9, repeating every 1 000 parts
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2)),
        }),
        # foreign keys are uniform over the referenced keys
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": pa.array(_uniform(TOTALPRICE, n_ord, rng)),
            "o_orderdate": _days(ORDER_DAYS, n_ord, rng),
            "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_uniform(EXTENDEDPRICE, n_line, rng)),
            "l_discount": pa.array(_uniform((0.0, DISCOUNT_MAX), n_line, rng)),
            "l_tax": pa.array(_uniform((0.0, TAX_MAX), n_line, rng)),
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": _days(SHIP_DAYS, n_line, rng),
        }),
    }
    return tables


def documents_table(n_docs: int, rng: np.random.Generator) -> pa.Table:
    lo, hi = WORDS_PER_DOC
    texts = [
        " ".join(VOCAB[w] for w in rng.choice(len(VOCAB), int(rng.integers(lo, hi + 1))))
        for _ in range(n_docs)
    ]
    base = list(texts)
    for i in rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False):
        texts[i] = base[int(rng.integers(0, n_docs))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(LANGS, n_docs, rng, p=LANG_WEIGHTS),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; return total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
