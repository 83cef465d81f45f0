"""Seeded input generation for the benchmark.

Every input the benchmark feeds the program is made here from the run's
seed: a TPC-H-shaped table set (the same ten tables, column names and
types as the test data the registry queries were written against), the
import pipeline's instance / dimension / code-list fixtures derived from
it, event payload batches and the snapshot-table verb parameters. Only
numpy and pyarrow are used, so the inputs and the models that check the
outputs never pass through Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old"]
_NOUN = ["widget", "ring", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_EMB_DIM = 64
_US_PER_DAY = 86_400_000_000


def _ts(days: np.ndarray, base: str) -> pa.Array:
    base_us = np.datetime64(base, "us").astype(np.int64)
    return pa.array(base_us + days.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf`` (orders = 1.5M × sf rows, lineitem
    four times that), deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord) * _US_PER_DAY,
                           "1995-01-01"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, 2499, n_li) * _US_PER_DAY,
                          "1995-01-02"),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)),
                  "2024-01-01"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # One document in twenty is a near-duplicate of an earlier one (one
    # word swapped), so the dedup and similarity queries find pairs.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(10, _EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# import pipeline fixtures
# ---------------------------------------------------------------------------

#: Code lists of the three dimensions; ``time`` has no code relationship
#: (the importer skips its edges) but its options still get patch orders.
CODE_LISTS = ("cl-geography", "cl-product", "cl-time")


def import_fixture(tables: dict[str, pa.Table], seed: int, n_instances: int,
                   rows_per_instance: int = 6) -> dict[str, list[tuple]]:
    """Instances, dimensions and code lists in the pipeline's schemas.

    Instance ``i`` draws ``rows_per_instance`` lineitems; its geography
    options are the nations of those orders' customers, its product
    options the parts' brands and its time options the order years. About
    a fifth of the codes have a NULL order, a quarter of the dimension
    rows an empty ``node_id`` and one in fifty an empty ``dimension_id``
    (rejected by validation), so every branch of the patch filter runs.
    """
    rng = np.random.default_rng([seed, 1])
    li, orders = tables["lineitem"], tables["orders"]
    cust_nation = tables["customer"]["c_nationkey"].to_numpy()
    o_cust = orders["o_custkey"].to_numpy()
    o_year = (orders["o_orderdate"].to_numpy().astype("datetime64[Y]")
              .astype(int) + 1970)
    brand = np.asarray(tables["part"]["p_brand"].to_pylist())
    picks = rng.integers(0, li.num_rows, (n_instances, rows_per_instance))
    l_ord = li["l_orderkey"].to_numpy()[picks]
    l_part = li["l_partkey"].to_numpy()[picks]

    instances, dimensions = [], []
    for i in range(n_instances):
        iid = instance_id(seed, i)
        instances.append((iid, ["V4_0", "geography", "product", "time"]))
        opts = {
            f"{iid}_geography": sorted({f"NATION_{n}" for n in
                                        cust_nation[o_cust[l_ord[i]]]}),
            "product": sorted(set(brand[l_part[i]])),
            "time": sorted({str(y) for y in o_year[l_ord[i]]}),
        }
        for (dim_id, options), cl in zip(opts.items(), CODE_LISTS):
            for opt in options:
                node = "" if rng.random() < 0.25 else f"n{rng.integers(1 << 30)}"
                did = "" if rng.random() < 0.02 else dim_id
                dimensions.append((iid, did, opt, node, cl))
    code_lists = []
    codes = {
        "cl-geography": [f"NATION_{n}" for n in range(25)],
        "cl-product": [f"Brand#{b}" for b in range(1, 26)],
        "cl-time": [str(y) for y in range(1995, 2002)],
    }
    for cl, cl_codes in codes.items():
        for order, code in enumerate(cl_codes):
            code_lists.append((cl, code, None if rng.random() < 0.2 else order))
    return {"instances": instances, "dimensions": dimensions,
            "code_lists": code_lists}


def instance_id(seed: int, i: int) -> str:
    return f"ds{seed}-{i:05d}"


def event_payload(iid: str) -> str:
    return json.dumps({"file_url": f"/datasets/{iid}.csv", "instance_id": iid})


def malformed_payload(rng) -> str:
    return ["not json", '{"file_url": ', "{}", "[1, 2]"][int(rng.integers(0, 4))]


def empty_id_payload() -> str:
    return json.dumps({"file_url": "/datasets/unknown.csv", "instance_id": ""})

