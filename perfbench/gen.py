#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes one directory of parquet tables per (workload, seed, scale). The
same triple always gives the same bytes; `meta.json` records the content
hash and the injected shares the generator actually achieved.

Tables follow the schemas of the repo's TPC-H-ish fixture (FIXTURES.md
section 2): same column names, types and value vocabularies, so every
operator and oracle that runs on the fixture runs on these tables too.

Usage:
  python3 perfbench/gen.py --workload lookup_etl --seed 1 --scale 1.0 \\
      --out target/perfbench/data/lookup_etl-s1-x1.0
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("lookup_etl", "curation_chain", "knn_graph")

# Rows at scale 1.0 (see perfbench/README.md for how they were sized).
LOOKUP_LINEITEM = 300_000
CURATION_DOCS = 3_000
KNN_VECTORS = 4_000

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64


class Parser(argparse.ArgumentParser):
    """argparse that refuses `--help` like any other unknown flag, so a
    stray flag can never be taken for an output directory."""

    def error(self, message):
        sys.stderr.write(f"gen.py: {message}\n")
        sys.exit(2)


def parse_args(argv):
    p = Parser(prog="gen.py", add_help=False, allow_abbrev=False)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    if not args.scale > 0:
        p.error("--scale must be > 0")
    if args.out.startswith("-"):
        p.error(f"--out {args.out!r} looks like a flag")
    return args


def rng_for(workload, seed, scale):
    key = f"{workload}|{seed}|{scale!r}".encode()
    return np.random.default_rng(int.from_bytes(hashlib.sha256(key).digest()[:8], "little"))


def write(out, name, columns, row_groups=1):
    table = pa.table(columns)
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=rg, compression="snappy")


def ts(days_from, n_days, rng, n):
    """`n` midnight timestamps in the `n_days` days from `days_from`."""
    base = np.datetime64(days_from, "D").astype("datetime64[us]")
    off = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(base + off, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ---- star schema -------------------------------------------------------

def region_nation(out):
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": list(REGIONS)})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(out, rng, n):
    write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})


def part(out, rng, n):
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n)], " "),
                        np.array(NOUN)[rng.integers(0, 8, n)])
    write(out, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})


def orders(out, rng, n, n_cust, unmatched=0.0, groups=1):
    cust = rng.integers(0, n_cust, n)
    miss = rng.random(n) < unmatched
    cust[miss] = n_cust + rng.integers(0, n_cust, int(miss.sum()))
    write(out, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": cust.astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000, 500000, n),
        "o_orderdate": ts("1995-01-01", 2404, rng, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]},
        row_groups=groups)
    return int(miss.sum())


def lineitem(out, rng, n, n_orders, n_part, n_supp,
             unmatched=0.0, nulls=0.0, groups=1):
    ok = rng.integers(0, n_orders, n)
    pk = rng.integers(0, n_part, n)
    miss = rng.random(n) < unmatched
    pk[miss] = n_part + rng.integers(0, n_part, int(miss.sum()))
    null_o = rng.random(n) < nulls
    null_p = rng.random(n) < nulls
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = rng.integers(0, 6, n)
    write(out, "lineitem", {
        "l_orderkey": pa.array(ok, pa.int64(), mask=null_o),
        "l_partkey": pa.array(pk, pa.int64(), mask=null_p),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        # unique within an order key: the row index's low bits
        "l_linenumber": pa.array(np.arange(n) % 7 + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": np.array(["A", "A", "N", "N", "R", "R"])[flags],
        "l_linestatus": np.array(["O", "F", "F", "O", "O", "F"])[flags],
        "l_shipdate": ts("1995-01-02", 2499, rng, n)},
        row_groups=groups)
    return {"unmatched_part_share": float(miss[~null_p].mean()),
            "null_orderkey_share": float(null_o.mean()),
            "null_partkey_share": float(null_p.mean())}


# ---- text --------------------------------------------------------------

def random_doc(rng):
    return list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])


def shingles(toks, n=3):
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def near_copy(rng, toks, min_j):
    """A variant of `toks` with one or two substituted tokens whose 3-gram
    Jaccard to the original is at least `min_j`, or None."""
    for _ in range(8):
        v = list(toks)
        for i in rng.integers(0, len(v), rng.integers(1, 3)):
            v[i] = VOCAB[(VOCAB.index(v[i]) + 1 + rng.integers(0, len(VOCAB) - 1)) % len(VOCAB)]
        if jaccard(toks, v) >= min_j:
            return v
    return None


def documents(rng, n, dup_share=0.0, near_share=0.0, min_j=0.8):
    """Random fixture-vocabulary documents; a `dup_share` of rows copy an
    earlier fresh row's text exactly and a `near_share` are near copies of
    an earlier fresh row (3-gram Jaccard >= min_j, one or two tokens
    changed). Copying only fresh rows keeps every near-dup cluster a star,
    so the connected-component depth does not vary with the seed."""
    texts, kinds, js, fresh = [], [], [], []
    for i in range(n):
        r = rng.random()
        if fresh and r < dup_share:
            texts.append(texts[fresh[rng.integers(0, len(fresh))]])
            kinds.append("dup")
            continue
        if fresh and r < dup_share + near_share:
            src = texts[fresh[rng.integers(0, len(fresh))]].split(" ")
            if len(src) >= 40:
                v = near_copy(rng, src, min_j)
                if v is not None:
                    texts.append(" ".join(v))
                    kinds.append("near")
                    js.append(jaccard(src, v))
                    continue
        fresh.append(i)
        texts.append(" ".join(random_doc(rng)))
        kinds.append("fresh")
    ids = np.arange(n, dtype=np.int64)
    cols = {"doc_id": ids, "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    shares = {"exact_dup_share": kinds.count("dup") / n,
              "near_dup_share": kinds.count("near") / n,
              "near_dup_min_jaccard": min(js) if js else None}
    return cols, shares


# ---- vectors -----------------------------------------------------------

def embeddings(rng, n, n_clusters, spread):
    """Vectors of norm 0.9 around `n_clusters` random unit centres; label =
    centre index mod 10 (the fixture's label range)."""
    centres = rng.normal(size=(n_clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    lab = rng.integers(0, n_clusters, n)
    v = centres[lab] + rng.normal(scale=spread / np.sqrt(DIM), size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.9).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(lab % 10, pa.int32())}


# ---- workloads ---------------------------------------------------------

def gen_lookup_etl(out, rng, scale):
    n_li = int(LOOKUP_LINEITEM * scale)
    n_ord, n_cust, n_part = n_li // 4, n_li // 40, n_li // 30
    unmatched = float(rng.uniform(0.02, 0.05))
    nulls = float(rng.uniform(0.01, 0.03))
    region_nation(out)
    customer(out, rng, n_cust)
    part(out, rng, n_part)
    miss_o = orders(out, rng, n_ord, n_cust, unmatched=unmatched, groups=4)
    shares = lineitem(out, rng, n_li, n_ord, n_part, max(1, n_li // 600),
                      unmatched=unmatched, nulls=nulls, groups=8)
    shares.update({"target_unmatched_share": unmatched, "target_null_share": nulls,
                   "unmatched_custkey_share": miss_o / n_ord})
    return {"lineitem": n_li, "orders": n_ord, "customer": n_cust, "part": n_part}, shares


def gen_curation_chain(out, rng, scale):
    n = int(CURATION_DOCS * scale)
    cols, shares = documents(rng, n, dup_share=0.04, near_share=0.06)
    write(out, "documents", cols, row_groups=4)
    # 20-row dimension: source -> tier
    write(out, "tiers", {"source": [f"src{i}" for i in range(N_SOURCES)],
                         "tier": ["gold" if i < 5 else "silver" if i < 12 else "bronze"
                                  for i in range(N_SOURCES)]})
    # eval set: a stated share of its rows are verbatim corpus texts
    n_eval, overlap = max(10, n // 50), 0.3
    texts = cols["text"]
    picks = rng.integers(0, n, n_eval)
    from_corpus = rng.random(n_eval) < overlap
    ev = [texts[p] if c else " ".join(random_doc(rng)) for p, c in zip(picks, from_corpus)]
    write(out, "eval", {"eval_id": np.arange(n_eval, dtype=np.int64), "text": ev})
    shares["eval_overlap_share"] = float(from_corpus.mean())
    return {"documents": n, "eval": n_eval, "tiers": N_SOURCES}, shares


def gen_knn_graph(out, rng, scale):
    n = int(KNN_VECTORS * scale)
    # clusters of about 6 vectors, so each vector's exact top-5 is mostly
    # its own cluster
    write(out, "embeddings", embeddings(rng, n, max(10, n // 6), 0.1), row_groups=4)
    return {"embeddings": n}, {}


GENERATORS = {"lookup_etl": gen_lookup_etl, "curation_chain": gen_curation_chain,
              "knn_graph": gen_knn_graph}


def content_hash(out):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, scale, out):
    """Generate into `out` unless a complete earlier run left it there;
    returns the parsed meta.json."""
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes, shares = GENERATORS[workload](tmp, rng_for(workload, seed, scale), scale)
    meta = {"workload": workload, "seed": seed, "scale": scale, "rows": sizes,
            "shares": shares, "content_sha256": content_hash(tmp)}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return meta


def main(argv):
    a = parse_args(argv)
    meta = generate(a.workload, a.seed, a.scale, a.out)
    print(json.dumps({"rows": meta["rows"], "shares": meta["shares"],
                      "content_sha256": meta["content_sha256"]}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
