"""Reference outputs for the perfbench checks.

Each workload's reference is computed once per input directory and cached
as `reference-<key>.json` next to the inputs. The pipelines are replayed in
DuckDB with the repo's oracle SQL (`OracleSql`, dumped by
`perfbench.OracleDump`) where a mirror exists and with the SQL below for
the glue between stages; the kNN graph's reference is numpy brute force.
Hashes follow the canonical recipe of `graft.tools.Canon` (columns sorted
by name, cells rendered as Python does, rows sorted, md5 over the
escaped serialization).
"""
import hashlib
import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def esc(s):
    return (s.replace("\\", "\\\\").replace("\n", "\\n")
             .replace("\x1f", "\\u001f").replace("\x00", "\\0"))


def canon_md5(cols, rows):
    """`graft.tools.Canon.md5Hex` of a result given as column names and
    row tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, x if x is not None else "") for x in t))
    md = hashlib.md5()
    md.update("\x1f".join(cols[i] for i in order).encode() + b"\n")
    for r in out:
        md.update("\x1f".join("\x00" if c is None else esc(c) for c in r).encode() + b"\n")
    return md.hexdigest()


def rel_md5(rel):
    return canon_md5(list(rel.columns), rel.fetchall())


def run_oracle(con, sql):
    """Run one oracle statement, honouring a leading `SET ...;` prefix the
    way the repo's local verifier does."""
    m = re.match(r"^(\s*(?:SET\s+[^;']*(?:'[^']*'[^;']*)*;\s*)*)", sql)
    if m.group(1).strip():
        con.execute(m.group(1))
    return con.sql(sql[m.end(1):])


def connect(data, names):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def lookup_etl(data, oracle):
    con = connect(data, ("lineitem", "orders", "customer", "nation", "part"))
    con.execute("""CREATE TABLE result AS
      SELECT l.*, o.o_custkey AS cust_key, c.c_nationkey AS nation_key,
             n.n_name AS nation_name, p.p_brand AS brand
      FROM lineitem l
      LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN part p ON l.l_partkey = p.p_partkey""")
    con.execute("""CREATE VIEW documents AS SELECT l_orderkey, concat_ws('|',
      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      CAST(l_partkey AS VARCHAR), CAST(cust_key AS VARCHAR),
      CAST(nation_key AS VARCHAR), nation_name, brand) AS text FROM result""")
    return {"manifest": rel_md5(run_oracle(con, oracle["manifest:l_orderkey"]))}


HASH_PRIME = 1000000007  # TextFunctions.HashPrime


def rolling_hash(s):
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % HASH_PRIME
    return h


def bucket(i):
    """Sampling.bucket / OracleSql's sampleBucket of a non-negative id."""
    return ((i % 2147483648) * 2654435761 % 4294967296) % 100


def jaccard_components(ids, texts, threshold=0.6, max_doc_freq=10000):
    """Connected components (min id) of the 3-gram Jaccard >= threshold
    graph: OracleSql.dedupComponents / leakageSafeSplit computed in
    Python. The SQL mirror folds every shingle's characters through list
    lambdas, which costs about a minute per corpus at this size."""
    memo, sets = {}, []
    for t in texts:
        toks = t.split(" ")
        sh = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        for x in sh:
            if x not in memo:
                memo[x] = rolling_hash(x)
        sets.append({memo[x] for x in sh})
    postings = {}
    for d, hs in enumerate(sets):
        for h in hs:
            postings.setdefault(h, []).append(d)
    inter = {}
    for docs in postings.values():
        if len(docs) > max_doc_freq:
            continue
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for (a, b), n in inter.items():
        if n / (len(sets[a]) + len(sets[b]) - n) >= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb, key=lambda r: ids[r])] = min(ra, rb, key=lambda r: ids[r])
    comp = [ids[find(d)] for d in range(len(ids))]
    return comp


def curation_chain(data, oracle):
    con = connect(data, ())
    for t in ("documents", "tiers", "eval"):
        con.execute(f"CREATE TABLE src_{t} AS SELECT * FROM '{data}/{t}.parquet'")
    con.execute("""CREATE TABLE enriched AS SELECT d.doc_id, d.text, d.source, t.tier
      FROM src_documents d LEFT JOIN src_tiers t ON d.source = t.source""")
    con.execute("CREATE VIEW documents AS SELECT doc_id, text FROM enriched")
    con.execute(f"""CREATE TABLE kept AS SELECT * FROM enriched WHERE doc_id IN
      (SELECT doc_id FROM ({oracle['quality']}) WHERE keep)""")
    con.execute("""CREATE TABLE uniq AS SELECT * FROM kept
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1""")
    ids, texts = zip(*con.execute("SELECT doc_id, text FROM uniq ORDER BY doc_id").fetchall())
    comp = jaccard_components(ids, texts)
    split = pa.table({"doc_id": np.array(ids, np.int64), "component": np.array(comp, np.int64),
                      "split": ["test" if bucket(c) < 20 else "train" for c in comp]})
    con.register("split_py", split)
    con.execute("""CREATE TABLE clean AS SELECT u.*, s.component, s.split
      FROM uniq u JOIN split_py s USING (doc_id)
      WHERE md5(u.text) NOT IN (SELECT md5(text) FROM src_eval)""")
    con.execute("""CREATE OR REPLACE VIEW documents AS SELECT doc_id, concat_ws('|',
      text, tier, split, CAST(component AS VARCHAR)) AS text FROM clean""")
    return {"manifest": rel_md5(run_oracle(con, oracle["manifest:doc_id"]))}


def knn_graph(data, oracle, k=5, block=2048):
    """Exact cosine top-k by brute force, written as `exact_knn.parquet`;
    ties go to the smaller id. The LSH graph is approximate, so the
    harness checks recall against this graph with the floor returned here
    (the code at the time the benchmark was defined reached about 0.88 on
    these clusters)."""
    t = pq.read_table(f"{data}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    v = t.column("embedding").combine_chunks().flatten().to_numpy()
    v = v.reshape(len(ids), -1).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    q_ids, c_ids, scores, ranks = [], [], [], []
    for lo in range(0, len(v), block):
        sim = v[lo:lo + block] @ v.T
        sim[np.arange(sim.shape[0]), np.arange(lo, lo + sim.shape[0])] = -np.inf
        top = np.argpartition(-sim, k, axis=1)[:, :k + 1]
        for r, row in enumerate(top):
            best = row[np.lexsort((ids[row], -sim[r, row]))][:k]
            q_ids += [ids[lo + r]] * k
            c_ids += list(ids[best])
            scores += list(sim[r, best])
            ranks += range(1, k + 1)
    pq.write_table(pa.table({"query_id": np.array(q_ids, np.int64),
                             "cand_id": np.array(c_ids, np.int64),
                             "score": np.array(scores), "rank": np.array(ranks, np.int32)}),
                   f"{data}/exact_knn.parquet")
    return {"min_recall": "0.75"}


def reference(workload, data, oracle_path, key):
    """The reference for one input directory (a flat str->str map handed
    to the harness), cached under `key` (a hash of this file and of the
    oracle SQL)."""
    path = os.path.join(data, f"reference-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    with open(oracle_path) as f:
        oracle = json.load(f)
    ref = {"lookup_etl": lookup_etl, "curation_chain": curation_chain,
           "knn_graph": knn_graph}[workload](data, oracle)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
    os.rename(path + ".tmp", path)
    return ref
