#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the parquet tables a workload reads into one directory, with the same
schemas as the engine's fixture tables (FIXTURES.md): a TPC-H-like star
schema, an `events` stream table, a `documents` text corpus and an
`embeddings` vector table. Everything is drawn from numpy's PCG64 stream
seeded with `--seed`, so the same seed and scale give byte-identical files.

The `scan_10x` shape follows tools/make_sfbig.py: a base corpus is replicated
ten times with key shifts that keep join structure, each replica of a
document gets its words re-ordered by a seeded per-replica rank, and each
embedding replica a tiny perturbation. Row groups are sized so every fact
table has at least four. Spark splits a scan by bytes, not by row groups, so
the workload's `spark_conf` (workloads.json) lowers the per-file open cost
until each row group is a split of its own.

Usage: gen.py --workload <name> --seed <n> --out <dir>
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PADJ = ["cold", "small", "large", "hot", "red", "blue", "steel", "brass"]
PNOUN = ["widget", "bolt", "gear", "nut", "screw", "spring", "valve", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def documents(rng, n):
    """n docs of 10..100 words over a 31-word vocabulary. 5% are near
    duplicates (an earlier doc with `dup` appended once or twice) and 0.2%
    exact copies, so every dedup operator finds pairs."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lens]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        src = texts[rng.integers(0, i)]
        texts[i] = src + " dup" * int(rng.integers(1, 3))
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def events(rng, n, users):
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + np.cumsum(gaps),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": money(rng, 0, 560, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def relational(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(rng, -999, 9999, n_cust),
                     "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    t["supplier"] = {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(rng, -999, 9999, n_supp)}
    t["part"] = {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}
    t["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
                   "o_totalprice": money(rng, 1000, 500_000, n_ord),
                   "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US,
                   "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = {"l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                     "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                     "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": money(rng, 900, 105_000, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": [FLAGS[i][0] for i in flags],
                     "l_linestatus": [FLAGS[i][1] for i in flags],
                     "l_shipdate": EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US}
    return t


def replicate(rng, tables, times):
    """The make_sfbig transform: facts x`times` with key shifts; dims copied."""
    out = dict(tables)
    reps = range(times)

    def cat(cols, shift=None):
        res = {}
        for k, v in cols.items():
            if isinstance(v, list):
                res[k] = [x for _ in reps for x in v]
            else:
                res[k] = np.concatenate([v + (i * shift[1] if shift and k == shift[0] else 0)
                                         for i in reps])
        return res

    ospan = len(tables["orders"]["o_orderkey"])
    out["orders"] = cat(tables["orders"], ("o_orderkey", ospan))
    out["lineitem"] = cat(tables["lineitem"], ("l_orderkey", ospan))
    ev = tables["events"]
    out["events"] = cat(ev, ("event_id", len(ev["event_id"])))
    out["events"]["ts"] = np.concatenate([ev["ts"] + i * 137 for i in reps])
    docs = tables["documents"]
    out["documents"] = cat(docs, ("doc_id", len(docs["doc_id"])))
    # replica 0 keeps the text; replicas 1.. order words by a seeded rank, so
    # shingles differ per replica while every word count scales exactly.
    texts = list(docs["text"])
    for i in reps[1:]:
        rank = dict(zip(WORDS + ["dup"], rng.permutation(len(WORDS) + 1)))
        texts += [" ".join(sorted(t.split(" "), key=lambda w: (rank[w], w)))
                  for t in docs["text"]]
    out["documents"]["text"] = texts
    em = tables["embeddings"]
    vspan = len(em["vec_id"])
    out["embeddings"] = {
        "vec_id": np.concatenate([em["vec_id"] + i * vspan for i in reps]),
        "embedding": [v + np.float32(i * 1e-4) for i in reps for v in em["embedding"]],
        "label": np.concatenate([em["label"]] * times),
    }
    return out


def to_arrow(cols):
    arrays = {}
    for k, v in cols.items():
        if k in ("ts", "o_orderdate", "l_shipdate"):
            arrays[k] = ts_us(np.asarray(v))
        elif k == "embedding":
            arrays[k] = pa.array([x.tolist() for x in v], pa.list_(pa.float32()))
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def shuffled(rng, cols):
    """Same rows in a seeded order (the seed drives row order too)."""
    n = len(next(iter(cols.values())))
    p = rng.permutation(n)
    return {k: ([v[i] for i in p] if isinstance(v, list) else v[p]) for k, v in cols.items()}


def write(out, name, cols, row_groups):
    t = to_arrow(cols)
    rg = max(1, -(-t.num_rows // row_groups))
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(t, path, row_group_size=rg, compression="snappy")
    meta = pq.ParquetFile(path).metadata
    return {"rows": t.num_rows, "bytes": os.path.getsize(path),
            "row_groups": meta.num_row_groups}


def generate(workload, seed, out):
    spec = load_workloads()[workload]["input"]
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(out, exist_ok=True)
    facts = {}
    if spec["kind"] == "documents":
        docs = shuffled(rng, documents(rng, spec["documents"]))
        facts["documents"] = write(out, "documents", docs, 1)
    else:
        sf = spec["base_sf"]
        base = relational(rng, sf)
        base["documents"] = documents(rng, spec["base_documents"])
        base["events"] = events(rng, int(1_000_000 * sf), int(15_000 * sf))
        base["embeddings"] = embeddings(rng, spec["base_embeddings"])
        big = replicate(rng, base, spec["replicas"])
        for name in sorted(big):
            groups = spec["row_groups"] if name in spec["facts"] else 1
            facts[name] = write(out, name, big[name], groups)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(facts, f, indent=1, sort_keys=True)
    return facts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
