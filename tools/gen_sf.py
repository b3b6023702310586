"""Regenerate a driver-shaped synthetic scale factor for local measurement.

The grading driver generates its own large-SF tables (TESTDATA.md: seed=42,
TPC-H-ish star schema + documents/embeddings/events); that directory is not
persisted between rounds.  This tool rebuilds a *structurally faithful*
stand-in so optimization work can be measured at driver scale (sf1.0 =
1.5M orders) with bench.py (``bench.run(names=...)`` times chosen queries):

* ``orders.o_orderkey`` is 0..N-1 — exactly the driver's keys — so every
  derived POI layer (sources/layers.py hashes o_orderkey onto the lattice)
  is BIT-IDENTICAL to the driver's at the same sf.  All spatial-side
  timings are therefore directly comparable.
* documents/embeddings/events follow the measured distributions of the
  shipped sf0.01/sf0.1 (vocab 31 words, 10-100 words/doc, 5 langs at the
  observed mix, 20 sources; unit-norm dim-64 embeddings with a perturbed
  near-dup fraction; 150 users per 10k events over a 30-day window) but a
  different RNG stream, so text-side numbers are comparable in structure,
  not bit-identical.

NOT used by any query path or test — measurement aid only.

Usage: python tools/gen_sf.py 1.0 /tmp/sf1.0
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
ETYPES = ["view", "click", "signup", "purchase", "error"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write(path: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    print(f"{name}: {table.num_rows} rows")


def main(sf: float, out: str) -> None:
    rng = np.random.default_rng(4242)
    os.makedirs(out, exist_ok=True)
    n_orders = int(150_000 * sf / 0.1)
    n_cust = n_orders // 10
    n_part = max(2000, int(n_orders * 2 / 15))
    n_supp = max(100, n_orders // 150)
    n_docs = n_orders // 30
    # embeddings grow x4 per decade in the shipped data (500 @ sf0.01,
    # 2000 @ sf0.1) -> 500 * (sf/0.01)^log10(4)
    n_emb = max(500, round(500 * (sf / 0.01) ** 0.60206))
    n_events = n_orders * 2 // 3

    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
    }))
    write(out, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int64()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(
            np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])[
                rng.integers(0, 5, n_cust)
            ]
        ),
    }))
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int64()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    adjectives = ["large", "hot", "blue", "small", "dark", "pale", "red", "green"]
    nouns = ["ring", "bolt", "case", "drum", "wheel", "plate", "cog", "pin"]
    write(out, "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjectives[i % 8]} {nouns[(i // 8) % 8]}" for i in range(n_part)],
        "p_brand": [f"Brand#{(i * 7) % 25}" for i in range(n_part)],
        "p_type": pa.array(
            np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])[
                rng.integers(0, 5, n_part)
            ]
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int64()),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(n_part), 2),
    }))

    day = 86_400_000_000  # us
    base95 = np.datetime64("1995-01-01", "us").astype("int64")
    odate = base95 + rng.integers(0, 2405, n_orders) * day
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIOS)[rng.integers(0, 5, n_orders)]),
    }))

    nl = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders), nl)
    n_li = len(l_orderkey)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in nl]) if n_orders else np.array([])
    ship = base95 + rng.integers(0, 2500, n_li) * day
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int64()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }))

    # events: inter-arrival over a 30-day window, 150 users / 10k events
    n_users = max(1, round(n_events / 66.667))
    ts0 = np.datetime64("2024-01-01", "us").astype("int64")
    gaps = rng.exponential(30 * 86_400_000_000 / n_events, n_events)
    ts = ts0 + np.cumsum(gaps).astype("int64")
    write(out, "events", pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(ETYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.exponential(60, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }))

    # documents: 10-100 words from the 31-word vocab; ~2% near-dup copies
    # (1-2 word mutations) and ~0.15% exact copies of an earlier doc
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.0015:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 10 and r < 0.02:
            src = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 3)):
                src[rng.integers(0, len(src))] = words[rng.integers(0, 31)]
            texts.append(" ".join(src))
            continue
        texts.append(" ".join(words[rng.integers(0, 31, lens[i])]))
    write(out, "documents", pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: unit-norm 64-dim; ~10% are small perturbations of an
    # earlier vector (near-dup structure for the cosine/ANN family)
    emb = rng.normal(0, 1, (n_emb, 64))
    for i in range(n_emb):
        if i > 10 and rng.random() < 0.10:
            j = rng.integers(0, i)
            emb[i] = emb[j] + rng.normal(0, 0.05, 64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(emb.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf{sys.argv[1] if len(sys.argv) > 1 else '1.0'}"
    main(sf, out)
