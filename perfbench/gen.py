"""Seeded input generator for the graft benchmark.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
same column names, types and value domains as the project's synthetic
TPC-H-style corpus, at a chosen scale. Everything is drawn from one
`numpy.random.Generator(PCG64(seed))`, so one seed always gives the same
bytes.

Every table is written with a seeded row order and a seeded row-group
split. On top of the base corpus:

* with ``copies`` > 1 (the ``queries`` workload), a duplicate-heavy
  replica: every keyed table is copied ``copies`` times with key offsets
  that keep foreign keys consistent (the ``ScaleUp`` rule); every copied
  document gets one seeded near-duplicate edit and every copied embedding
  a small seeded perturbation;
* for the ``tables`` workload, a seeded TxTable op stream (batch files
  for appends, merges, deletes and streaming ingest) and its manifest
  ``ops.json``.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 10_000_000_000  # far above any base key, as ScaleUp uses

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(base, seconds):
    return (np.datetime64(base, "us") + (seconds * 1e6).astype("int64")
            .astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng, scale):
    """The base corpus as {name: pyarrow.Table}; `scale` 0.01 gives the
    row counts of the project's sf0.01 corpus (60k lineitem rows)."""
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = 4 * n_ord
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(50_000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                              rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400.0),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_ts("1995-01-02", rng.integers(0, 2498, n_li) * 86400.0),
                               pa.timestamp("us"))})
    gaps = rng.exponential(30 * 86400.0 / n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_ts("2024-01-01", np.cumsum(gaps)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.clip(np.round(rng.lognormal(3.5, 1.0, n_ev), 2), 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            cut = int(rng.integers(max(1, len(src) // 2), len(src) + 1))
            texts.append(" ".join(src[:cut] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    t["documents"] = _documents(np.arange(n_doc), texts, rng)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.15 * centroids[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    t["embeddings"] = _embeddings(np.arange(n_emb), vecs, labels)
    return t


def _documents(ids, texts, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, len(texts)),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(ids, vecs, labels):
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


KEYS = {"lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "orders": ["o_orderkey", "o_custkey"], "customer": ["c_custkey"],
        "supplier": ["s_suppkey"], "part": ["p_partkey"], "events": ["user_id"]}


def near_dup(rng, text):
    """One seeded word-level edit: replace, insert or delete a word."""
    w = text.split()
    pos = int(rng.integers(0, len(w)))
    kind = int(rng.integers(0, 3))
    if kind == 0:
        w[pos] = str(rng.choice(WORDS))
    elif kind == 1:
        w.insert(pos, str(rng.choice(WORDS)))
    elif len(w) > 2:
        del w[pos]
    return " ".join(w)


def replicate(rng, t, copies):
    """Duplicate-heavy replica: `copies`× every keyed table with FK-
    consistent key offsets; documents and embeddings get a seeded
    near-duplicate edit per copy."""
    out = {k: t[k] for k in ("region", "nation")}
    for name, keys in KEYS.items():
        parts = []
        for c in range(copies):
            tab = t[name]
            for k in keys:
                i = tab.schema.get_field_index(k)
                tab = tab.set_column(i, k, pa.array(tab[k].to_numpy() + c * KEY_OFFSET, pa.int64()))
            parts.append(tab)
        out[name] = pa.concat_tables(parts)
    docs = t["documents"]
    ids, texts = [], []
    base_ids = docs["doc_id"].to_numpy()
    base_texts = docs["text"].to_pylist()
    for c in range(copies):
        ids.append(base_ids + c * KEY_OFFSET)
        texts += base_texts if c == 0 else [near_dup(rng, x) for x in base_texts]
    out["documents"] = _documents(np.concatenate(ids), texts, rng)
    emb = t["embeddings"]
    vecs = np.array(emb["embedding"].to_pylist(), dtype="float64")
    labels = emb["label"].to_numpy()
    all_ids, all_vecs = [], []
    for c in range(copies):
        all_ids.append(emb["vec_id"].to_numpy() + c * KEY_OFFSET)
        all_vecs.append(vecs if c == 0 else vecs + rng.normal(0.0, 0.02, vecs.shape))
    out["embeddings"] = _embeddings(np.concatenate(all_ids), np.vstack(all_vecs),
                                    np.tile(labels, copies))
    return out


def write_layout(rng, tables, out_dir):
    """Seeded row order and row-group split; one parquet file per table
    (the query registry and the DuckDB oracle both read `<dir>/<t>.parquet`)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        perm = rng.permutation(tab.num_rows)
        tab = tab.take(pa.array(perm))
        groups = int(rng.integers(1, 5))
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, -(-tab.num_rows // groups)))


def table_ops(rng, t, p, out_dir):
    """The seeded single-client TxTable op stream.

    The table holds (event_id, user_id, value) rows sampled from lineitem
    joined to orders: event_id is a fresh unique key, user_id the order's
    customer, value the line's extended price. Every pass runs the fixed
    op list `pass_ops`; the seed picks the payloads (rows, updated and
    deleted keys, probe keys, read versions), which are written to
    `<out_dir>/ops/` so the JVM and the DuckDB replay read the same rows.
    """
    li, od = t["lineitem"], t["orders"]
    cust_of = od["o_custkey"].to_numpy()[np.argsort(od["o_orderkey"].to_numpy())]
    pool_user = cust_of[li["l_orderkey"].to_numpy()]
    pool_value = li["l_extendedprice"].to_numpy()
    ops_dir = os.path.join(out_dir, "ops")
    os.makedirs(ops_dir, exist_ok=True)
    next_key = [0]
    live = []  # keys the generator believes live, for picking update/delete targets

    def sample_rows(n):
        idx = rng.integers(0, len(pool_user), n)
        keys = np.arange(next_key[0], next_key[0] + n)
        next_key[0] += n
        return keys, pool_user[idx], pool_value[idx]

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(ops_dir, name))
        return name

    def rows_table(keys, users, values):
        return {"event_id": pa.array(keys, pa.int64()),
                "user_id": pa.array(users, pa.int64()),
                "value": pa.array(values, pa.float64())}

    ops = []
    k, u, v = sample_rows(p["initial_rows"])
    live += list(k)
    ops.append({"op": "create", "file": write("00000_create.parquet", rows_table(k, u, v))})
    batch = p["batch_rows"]
    kinds = p["pass_ops"] * p["max_passes"]
    for i, kind in enumerate(kinds, start=1):
        op = {"op": kind}
        if kind == "append":
            k, u, v = sample_rows(batch)
            live += list(k)
            op["file"] = write(f"{i:05d}_append.parquet", rows_table(k, u, v))
        elif kind == "ingest":
            k, u, v = sample_rows(batch)
            live += list(k)
            sub = f"{i:05d}_ingest"
            os.makedirs(os.path.join(ops_dir, sub), exist_ok=True)
            cols = rows_table(k, u, v)
            cols["ts"] = pa.array(_ts("2024-02-01", k.astype("float64")), pa.timestamp("us"))
            pq.write_table(pa.table(cols), os.path.join(ops_dir, sub, "part-0.parquet"))
            op["dir"] = sub
        elif kind == "merge":
            n_upd = min(len(live), batch // 2)
            upd = rng.choice(np.array(live), n_upd, replace=False) if n_upd else np.array([], int)
            n_del = min(len(live), max(1, batch // 10))
            dele = rng.choice(np.array(live), n_del, replace=False)
            dele = np.setdiff1d(dele, upd)
            k_new, u_new, v_new = sample_rows(batch - n_upd)
            _, u_upd, v_upd = sample_rows(len(upd))
            keys = np.concatenate([upd, k_new, dele]).astype("int64")
            users = np.concatenate([u_upd, u_new, np.zeros(len(dele), "int64")])
            values = np.concatenate([v_upd, v_new, np.zeros(len(dele))])
            cols = rows_table(keys, users, values)
            cols["seq"] = pa.array(np.full(len(keys), i), pa.int64())
            cols["op"] = ["U"] * (len(upd) + len(k_new)) + ["D"] * len(dele)
            dset = set(dele.tolist())
            live = [x for x in live if x not in dset] + list(k_new)
            op["file"] = write(f"{i:05d}_merge.parquet", cols)
        elif kind == "delete":
            n_del = min(len(live), max(1, batch // 4))
            dele = rng.choice(np.array(live), n_del, replace=False)
            dset = set(dele.tolist())
            live = [x for x in live if x not in dset]
            op["file"] = write(f"{i:05d}_delete.parquet",
                               {"event_id": pa.array(dele, pa.int64())})
        elif kind == "point_read":
            op["key"] = int(rng.choice(np.array(live))) if live else 0
        elif kind in ("version_read", "asof_read"):
            op["frac"] = float(rng.random())
        elif kind == "changes":
            op["span"] = int(rng.integers(1, 4))
        ops.append(op)
    with open(os.path.join(out_dir, "ops.json"), "w") as f:
        json.dump(ops, f)
    return ops


def generate(kind, params, seed, out_dir):
    """Generate one workload's inputs into `out_dir` (created fresh)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    t = base_tables(rng, params["scale"])
    if params.get("copies", 1) > 1:
        t = replicate(rng, t, params["copies"])
    write_layout(rng, t, out_dir)
    if kind == "tables":
        table_ops(rng, t, params, out_dir)


if __name__ == "__main__":
    import sys
    w, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    spec = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                       "workloads.json")))
    t0 = dt.datetime.now()
    generate(spec[w]["kind"], spec[w]["params"], seed, out)
    print(f"generated {w} seed={seed} in {(dt.datetime.now() - t0).total_seconds():.2f}s")
