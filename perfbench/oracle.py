"""Correctness oracles, run after the measured region.

Each returns {"attempted", "failed", "detail"}; a failed check counts as a
failed operation in the run's result line.

- batch_dag: every DAG output of the last pass is hash-compared with DuckDB
  running the query's registered oracle SQL over the same parquet files
  (columns sorted by name, values stringified, rows sorted).
- index_waves: the aggregate served after every chain wave is compared with a
  from-scratch GROUP BY over the live rows (left join chain orders -> customer
  -> nation); the cluster labels served after the last cluster wave with a
  from-scratch connected-components over every edge seen (component-min
  labels; an id on no edge answers as itself).
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _table(data, name):
    return pq.read_table(os.path.join(data, f"{name}.parquet")).to_pandas()


def _canon_hash(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest(), len(df)


def check_batch(data, res):
    con = duckdb.connect()
    for d in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(d)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    bad = []
    for q, sql in sorted(res["oracles"].items()):
        try:
            got = _canon_hash(pd.read_parquet(os.path.join(res["out_dir"], q)))
            want = _canon_hash(con.execute(sql).df())
            if got != want:
                bad.append(f"{q}: rows {got[1]} vs oracle {want[1]}, hash differs")
        except Exception as e:  # a missing output or failing oracle is a failed check
            bad.append(f"{q}: {type(e).__name__}: {e}"[:300])
    return {"attempted": len(res["oracles"]), "failed": len(bad),
            "detail": bad or f"{len(res['oracles'])} outputs match"}


def _chain_expected(data, waves):
    """Served rows after each of the first `waves` chain waves."""
    facts = _table(data, "facts").set_index("o_orderkey")
    cust = _table(data, "customer").set_index("c_custkey")["c_nationkey"]
    nation = _table(data, "nation").set_index("n_nationkey")["n_name"]
    ups = _table(data, "chain_upserts")
    dels = _table(data, "chain_deletes")
    live = facts[["o_custkey", "price_i"]].copy()
    out = []
    for w in range(waves):
        u = ups[ups.wave == w].set_index("o_orderkey")[["o_custkey", "price_i"]]
        live = pd.concat([live.drop(u.index, errors="ignore"), u])
        live = live.drop(dels[dels.wave == w].o_orderkey, errors="ignore")
        name = live.o_custkey.map(cust).map(nation)
        g = live.groupby(name.fillna("\0"), sort=True).price_i.agg(["count", "sum"])
        out.append({(None if k == "\0" else k): (int(r["count"]), int(r["sum"]))
                    for k, r in g.iterrows()})
    return out


def _cluster_expected(data, waves, n_ids):
    ups = _table(data, "cluster_edge_waves")
    edges = np.concatenate([_table(data, "cluster_edges")[["id_a", "id_b"]].to_numpy(),
                            ups[ups.wave < waves][["id_a", "id_b"]].to_numpy()])
    parent = np.arange(n_ids)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: int(find(i)) for i in range(n_ids)}


def check_waves(data, res):
    bad = []
    want = _chain_expected(data, res["chain_waves"])
    for w, (served, exp) in enumerate(zip(res["chain_served"], want)):
        got = {r[0]: (int(r[1]), int(r[2])) for r in served if int(r[1]) > 0}
        if got != exp:
            bad.append(f"chain wave {w}: served {len(got)} groups, expected {len(exp)}, differs")
    if len(res["chain_served"]) != res["chain_waves"]:
        bad.append("chain: fewer served probes than waves")
    n_ids = res["cluster_ids"]
    exp = _cluster_expected(data, res["cluster_waves"], n_ids)
    got = {int(r[0]): int(r[1]) for r in res["cluster_served"]}
    if res["cluster_waves"] == 0 or got != exp:
        diff = sum(got.get(i) != exp[i] for i in range(n_ids))
        bad.append(f"cluster: {diff} of {n_ids} labels differ after {res['cluster_waves']} waves")
    return {"attempted": res["chain_waves"] + 1, "failed": len(bad),
            "detail": bad or f"{res['chain_waves']} chain waves and {res['cluster_waves']} "
                             f"cluster waves match"}


def check(workload, data, res):
    return {"batch_dag": check_batch, "index_waves": check_waves}[workload](data, res)
