"""Seeded input tables for query_mix, in the testdata schema.

The same shapes as the repository's testdata (TPC-H-ish star schema, an
``events`` stream, ``documents`` with planted exact and near
duplicates, unit-norm float32[64] ``embeddings``), at scale factor
``SF``. The row-count law and distributions follow ``BENCH/gen_sf.py``;
the generator is a pure function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.002
VOCAB = (
    "spark window merge table column vector stream value data small line "
    "part order sort fast scan hash slow group batch query agg big join "
    "filter key the a customer row pipeline"
).split()
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _documents(n, rng):
    texts = []
    for i in range(n):
        w = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(7, 101)))]
        r = rng.random()
        if i > 10 and r < 0.0032:            # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.045 + 0.0032:    # near duplicate: spliced span
            src = texts[int(rng.integers(0, i))].split()
            span = min(len(src), int(rng.integers(20, 51)))
            s0 = int(rng.integers(0, max(1, len(src) - span + 1)))
            pos = int(rng.integers(0, max(1, len(w) // 2)))
            w = w[:pos] + src[s0:s0 + span] + w[pos:]
        texts.append(" ".join(w))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([str(x) for x in rng.choice(LANGS, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(n, rng):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(n, rng):
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n // 66), n), pa.int64()),
        "event_type": pa.array(
            rng.choice(["view", "click", "signup", "purchase", "error"], n)),
        "value": pa.array(np.round(rng.random(n) * 150, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _days(rng, n, lo="1995-01-01", hi="2001-08-01"):
    a = np.datetime64(lo)
    d = (np.datetime64(hi) - a).astype(int)
    return (a + rng.integers(0, d + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]")


def _money(rng, n, scale):
    return pa.array(np.round(rng.random(n) * scale, 2))


def _tpch(rng):
    n_ord, n_cust = int(1_500_000 * SF), int(150_000 * SF)
    n_part, n_supp = int(200_000 * SF), max(10, int(10_000 * SF))
    n_li = int(6_000_000 * SF)
    adj = ["large", "hot", "cold", "small", "shiny", "dull", "new", "old"]
    noun = ["ring", "bolt", "nut", "cog", "pin", "cap", "rod", "gear"]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, 10000),
            "c_mktsegment": pa.array(rng.choice(
                ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                 "HOUSEHOLD"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, 10000),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{adj[i % 8]} {noun[(i // 8) % 8]}" for i in range(n_part)]),
            "p_brand": pa.array(
                [f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(
                ["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + rng.random(n_part) * 1100, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
            "o_totalprice": _money(rng, n_ord, 400_000),
            "o_orderdate": pa.array(_days(rng, n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": _money(rng, n_li, 100_000),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
            "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": pa.array(_days(rng, n_li), pa.timestamp("us")),
        }),
    }


def write_tables(out: str, seed: int) -> None:
    """Write every table as ``<out>/<name>.parquet``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(int(50_000 * SF), rng),
        "embeddings": _embeddings(int(20_000 * SF), rng),
        "events": _events(int(1_000_000 * SF), rng),
        **_tpch(rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
