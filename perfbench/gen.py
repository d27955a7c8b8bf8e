"""Seed-driven input generator for the benchmark.

Everything the program sees is made here from ``--seed``: the same seed gives
byte-identical inputs. Inputs are written once per (workload, seed) under
``.bench_build/data`` and reused by later runs of the same seed.

Tables mimic the TPC-H-ish star schema plus ``documents`` that the
registered queries read (same column names and types). Batch tables
are written as several parquet files each, so a scan has one task per core.
The CDC wave sequences of the index workload are generated here too, so the
JVM side only replays them and the oracles can recompute every expected
answer from the same files.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("vector column part scan agg table slow key order window join a merge "
         "hash value filter data sort batch big dup line fast spark customer "
         "group small query stream the row").split()
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

# Sizes, fixed per workload: a seed changes content, never shape, so run
# times are comparable across seeds.
BATCH = dict(orders=100_000, lines_per_order=4, customers=10_000, parts=20_000,
             suppliers=1_000, documents=5_000, files=4)
WAVES = dict(orders=20_000, customers=2_000, chain_waves=1, upserts=200,
             reprices=100, deletes=100, cluster_docs=2_000, cluster_waves=2,
             cluster_new=40)


def _write(table, path, files=1):
    """Write `table` as `files` parquet parts under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), lens.sum())
    out, i = [], 0
    for k in lens:
        out.append(" ".join(WORDS[j] for j in idx[i:i + k]))
        i += k
    return out


def documents(rng, n, dup_frac=0.002):
    text = _texts(rng, n)
    # a few exact duplicates so the dedup stages have work to keep
    for i in rng.choice(np.arange(1, n), max(1, int(n * dup_frac)), replace=False):
        text[i] = text[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def star(rng, n_orders, n_cust, n_parts=0, n_supp=0, lines_per_order=0):
    """region, nation, customer, orders (+ part, supplier, lineitem)."""
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_orders) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist()})
    if lines_per_order:
        n_li = n_orders * lines_per_order
        okey = rng.integers(0, n_orders, n_li)
        okey.sort()
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        t["lineitem"] = pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li) * DAY_US,
                                   pa.timestamp("us"))})
        t["part"] = pa.table({
            "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["large", "hot", "blue", "small", "red"], n_parts),
                rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n_parts))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_parts)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"],
                                 n_parts).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n_parts) * 0.1, 2)})
        t["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    return t


def gen_batch(rng, out):
    c = BATCH
    tables = star(rng, c["orders"], c["customers"], c["parts"], c["suppliers"],
                  c["lines_per_order"])
    tables["documents"] = documents(rng, c["documents"])
    for name, tab in tables.items():
        _write(tab, os.path.join(out, f"{name}.parquet"), c["files"] if tab.num_rows > 1000 else 1)
    return {k: v.num_rows for k, v in tables.items()}


def gen_waves(rng, out):
    c = WAVES
    t = star(rng, c["orders"], c["customers"])
    for name in ("nation", "customer"):
        _write(t[name], os.path.join(out, f"{name}.parquet"))
    o = t["orders"]
    facts = {"o_orderkey": o["o_orderkey"].to_numpy(), "o_custkey": o["o_custkey"].to_numpy(),
             "price_i": np.floor(o["o_totalprice"].to_numpy()).astype(np.int64)}
    _write(pa.table(facts), os.path.join(out, "facts.parquet"))
    # chain leg: each wave upserts new facts plus re-priced live ones and
    # deletes other live ones; ids are never reused after a delete
    live = set(range(c["orders"]))
    next_key = c["orders"]
    ups, dels = [], []
    for w in range(c["chain_waves"]):
        pool = np.array(sorted(live))
        pick = rng.choice(pool, c["reprices"] + c["deletes"], replace=False)
        rep, gone = pick[:c["reprices"]], pick[c["reprices"]:]
        new = np.arange(next_key, next_key + c["upserts"] - c["reprices"])
        next_key += len(new)
        keys = np.concatenate([new, rep])
        ups.append(pa.table({
            "wave": pa.array(np.full(len(keys), w), pa.int32()),
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c["customers"], len(keys)), pa.int64()),
            "price_i": pa.array(rng.integers(1000, 500000, len(keys)), pa.int64())}))
        dels.append(pa.table({"wave": pa.array(np.full(len(gone), w), pa.int32()),
                              "o_orderkey": pa.array(gone, pa.int64())}))
        live.difference_update(gone.tolist())
        live.update(new.tolist())
    _write(pa.concat_tables(ups), os.path.join(out, "chain_upserts.parquet"))
    _write(pa.concat_tables(dels), os.path.join(out, "chain_deletes.parquet"))
    # cluster leg: near-dup groups of ~5 docs as stars around the group's
    # first doc, plus a few bridges between groups: small diameter, as dedup
    # pairs have
    n = c["cluster_docs"]
    group = rng.integers(0, n // 5, n)
    rep = np.full(n // 5, -1)
    for i in range(n):
        if rep[group[i]] < 0:
            rep[group[i]] = i
    a = np.concatenate([rep[group], rng.choice(rep[rep >= 0], n // 50)])
    b = np.concatenate([np.arange(n), rng.choice(rep[rep >= 0], n // 50)])
    keep = a != b
    _write(pa.table({"id_a": pa.array(a[keep], pa.int64()), "id_b": pa.array(b[keep], pa.int64())}),
           os.path.join(out, "cluster_edges.parquet"))
    # edge deltas: each wave brings new docs, each with two edges into
    # docs already known
    waves = []
    known = n
    for w in range(c["cluster_waves"]):
        new = np.arange(known, known + c["cluster_new"])
        dst = rng.integers(0, known, (len(new), 2))
        known += len(new)
        waves.append(pa.table({"wave": pa.array(np.full(2 * len(new), w), pa.int32()),
                               "id_a": pa.array(np.repeat(new, 2), pa.int64()),
                               "id_b": pa.array(dst.reshape(-1), pa.int64())}))
    _write(pa.concat_tables(waves), os.path.join(out, "cluster_edge_waves.parquet"))
    return {"orders": c["orders"], "customer": c["customers"], "nation": 25,
            "chain_waves": c["chain_waves"], "chain_upserts_per_wave": c["upserts"],
            "chain_deletes_per_wave": c["deletes"], "cluster_edges": int(keep.sum()),
            "cluster_waves": c["cluster_waves"]}


GENERATORS = {"batch_dag": gen_batch, "index_waves": gen_waves}


def ensure(workload, seed, root):
    """Generate the inputs of (workload, seed) unless already cached; return
    (dir, sizes)."""
    out = os.path.join(root, f"{workload}-s{seed}")
    done = os.path.join(out, "_SIZES.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
        sizes = GENERATORS[workload](rng, out)
        sizes["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                             for d, _, fs in os.walk(out) for f in fs)
        with open(done + ".tmp", "w") as f:
            json.dump(sizes, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        return out, json.load(f)
