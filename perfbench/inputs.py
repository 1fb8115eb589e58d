"""Seeded benchmark inputs.

Two input families, both derived only from the workload seed:

* ``kg_corpus`` -- a transcript corpus from the package's own generator
  (``datagen.generate``), the input of ``kg_build_query``.
* ``sf_tables`` -- the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that the catalog operators read (the
  same table names, columns and types as the ``sfX`` test tables), the
  input of ``catalog_mix``.  ``scale`` = 1.0 is the sf0.1 row count.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "a", "the", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "query", "batch", "part", "line", "order", "small",
    "sort", "fast", "scan", "agg", "hash", "key", "group", "filter",
    "customer", "slow", "join", "shuffle", "cache", "disk", "row", "plan",
])
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
ETYPES = np.array(["error", "view", "signup", "purchase", "click"])
SEGS = np.array(["FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE",
                 "HOUSEHOLD"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                  "5-LOW"])
PNAMES1 = np.array(["large", "hot", "small", "cold", "shiny", "dim"])
PNAMES2 = np.array(["ring", "bolt", "screw", "nut", "washer", "pin"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000

SF_TABLES = ("region nation customer supplier part orders lineitem events "
             "documents embeddings").split()


def kg_corpus(out_dir: str, n_incidents: int, seed: int) -> int:
    """Write the seeded transcript corpus; return its turn count."""
    from multilingual_wiki_event_pipeline_spark import datagen

    corpus = datagen.generate_to_dir(out_dir, n_incidents=n_incidents,
                                     seed=seed)
    return len(corpus.rows("transcripts"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"),
                   row_group_size=16384)


def sf_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at ``scale`` x sf0.1; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": int(15000 * scale), "supplier": int(1000 * scale),
        "orders": int(150000 * scale), "lineitem": int(600000 * scale),
        "part": int(20000 * scale), "documents": int(5000 * scale),
        "events": int(100000 * scale), "embeddings": int(2000 * scale),
    }
    n_cust, n_supp, n_ord = n["customer"], n["supplier"], n["orders"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": SEGS[rng.integers(0, len(SEGS), n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    n_part = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(
            PNAMES1[rng.integers(0, len(PNAMES1), n_part)], " "),
            PNAMES2[rng.integers(0, len(PNAMES2), n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(
            1, 25, n_part).astype(str)),
        "p_type": PTYPES[rng.integers(0, len(PTYPES), n_part)],
        "p_size": rng.integers(1, 50, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (0.1 * np.arange(n_part)) % 1000, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": (np.datetime64("1995-01-01", "us")
                        + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": PRIOS[rng.integers(0, len(PRIOS), n_ord)],
    })
    n_li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.datetime64("1995-01-02", "us")
                       + rng.integers(0, 2499, n_li) * DAY_US),
    })

    n_doc = n["documents"]
    lens = rng.integers(10, 101, n_doc)
    flat = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    offs = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n_doc)]
    # a few exact duplicates, so the dedup operators have true positives
    for dst, src in zip(rng.integers(0, n_doc, max(1, n_doc // 625)),
                        rng.integers(0, n_doc, max(1, n_doc // 625))):
        texts[dst] = texts[src]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_ev = n["events"]
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us")
               + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev,
                                dtype=np.int64),
        "event_type": ETYPES[rng.integers(0, len(ETYPES), n_ev)],
        "value": np.round(rng.uniform(0, 561, n_ev), 2),
        "props": np.char.add(np.char.add(
            '{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })

    n_emb = n["embeddings"]
    vec = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    n.update(region=5, nation=25)
    return n
