"""Seeded input generator for the benchmark.

Writes the engine's table layout (one parquet file per table, the schema of
the TPC-H-ish star fixtures the engine is built against) from a seed, so the
engine only ever receives generated inputs: the same seed gives the same
bytes. Sizes are fixed per workload, so seeds vary values, not work.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value scan filter join group agg "
         "sort merge hash window stream batch query order line part customer "
         "spark vector big small fast slow").split()
STATUS = ["O", "P", "F"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAG = ["A", "N", "R"]
LINESTATUS = ["O", "F"]
PTYPE = ["LARGE", "ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM"]
PADJ = ["large", "hot", "cold", "small", "red", "blue", "green", "dark"]
PNOUN = ["ring", "bolt", "gear", "pipe", "nut", "valve", "plate", "spring"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

# epoch microseconds of 1995-01-01 and the day span up to 2001-08-01
T0_US = 788918400 * 1_000_000
DAY_US = 86400 * 1_000_000
SPAN_DAYS = 2404

# rows per workload: (orders, parts, documents, embeddings)
SIZES = {
    "doc_read": (20000, 4000, 0, 0),
    "corpus_build": (10000, 2000, 1000, 2000),
}
# corpus_build's streaming store: documents loaded by the first changelog
# batch, then batches of updates, creates and deletes
STORE_DOCS = 1000
STORE_BATCHES = 3
# doc_read: requests planned (more than a run uses; the loop wraps)
READ_OPS = 200


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(rng, n):
    return pa.array(T0_US + rng.integers(0, SPAN_DAYS, n) * DAY_US,
                    type=pa.timestamp("us"))


def _write(table, out, name):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def star_tables(rng, n_orders, n_parts, out):
    n_li = 4 * n_orders
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_orders // 10, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUS, n_orders)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_orders)),
        "o_orderdate": _ts(rng, n_orders),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n_orders)),
    }), out, "orders")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(RETURNFLAG, n_li)),
        "l_linestatus": pa.array(rng.choice(LINESTATUS, n_li)),
        "l_shipdate": _ts(rng, n_li),
    }), out, "lineitem")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PADJ, n_parts), rng.choice(PNOUN, n_parts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_parts)]),
        "p_type": pa.array(rng.choice(PTYPE, n_parts)),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(_money(rng, 900, 2100, n_parts)),
    }), out, "part")


def corpus_tables(rng, n_docs, n_vecs, out):
    texts = []
    for i in range(n_docs):
        # about one document in twenty is a near-duplicate of an earlier one
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out, "documents")
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 0.2, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, 64))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), out, "embeddings")


def doc_read_ops(rng, out, n_orders):
    """The closed loop's request stream with its expected answers, computed
    by DuckDB straight from the generated tables."""
    import duckdb
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
    facts = dict((k, (n, tot)) for k, n, tot in con.execute(
        "SELECT o_orderkey, (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey),"
        " o_totalprice FROM orders o").fetchall())
    prices = [r[0] for r in con.execute(
        "SELECT l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC LIMIT 400").fetchall()]
    pool = [int(k) for k in rng.choice(n_orders, 300, replace=False)]
    fetched, ops = [], []

    def search(kind):
        if kind == "range":
            op = {"t": "search", "kind": "range", "value": prices[int(rng.integers(140, 180))]}
            pred = f"l.l_extendedprice > {op['value']!r}"
        else:
            op = {"t": "search", "kind": "eq", "quantity": float(rng.integers(1, 51)),
                  "returnflag": str(rng.choice(RETURNFLAG))}
            pred = f"l.l_quantity = {op['quantity']!r} AND l.l_returnflag = '{op['returnflag']}'"
        hits = con.execute(
            "SELECT o_orderkey FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l"
            f" WHERE l.l_orderkey = o.o_orderkey AND {pred})").fetchall()
        op["expect"] = {"hits": [f"{k}:{facts[k][0]}" for (k,) in hits]}
        return op

    def get(mode):
        if mode == "absent":
            key = n_orders + int(rng.integers(0, 10**6))
            return {"t": "get", "key": f"order_{key}", "mode": mode, "expect": {"status": 404}}
        if mode == "cond":
            key = fetched[int(rng.integers(0, len(fetched)))]
            return {"t": "get", "key": f"order_{key}", "mode": mode, "expect": {"status": 304}}
        key = pool[int(rng.integers(0, len(pool)))]
        fetched.append(key)
        n, tot = facts[key]
        return {"t": "get", "key": f"order_{key}", "mode": mode,
                "expect": {"status": 200, "n_items": n, "total": tot}}

    # a fixed cycle of four point reads and a search, the searches
    # alternating range and equality predicates; the warm-up is two
    # fetches and one search of each kind
    ops += [get("plain"), get("plain"), search("range"), search("eq")]
    while len(ops) < READ_OPS:
        for _ in range(4):
            u = rng.random()
            ops.append(get("absent" if u < 0.05 else "cond" if u < 0.55 else "plain"))
        ops.append(search("range" if ops[-5]["kind"] == "eq" else "eq"))
    with open(os.path.join(out, "doc_read_ops.json"), "w") as fh:
        json.dump({"warmup": 4, "cycle": 5, "ops": ops}, fh)


def _store_doc(rng, key):
    items = [{"objectId": f"li{key}_{j}", "objectType": "lineitem",
              "qty": int(rng.integers(1, 51)), "price": float(_money(rng, 900, 105000, 1)[0])}
             for j in range(int(rng.integers(1, 8)))]
    return {"objectId": str(key), "objectType": "order",
            "status": str(rng.choice(STATUS)), "total": float(_money(rng, 1000, 500000, 1)[0]),
            "tags": {"region": int(rng.integers(0, 25)), "hot": False}, "items": items}


def store_plan(rng, out):
    """The streaming document store's changelog: one batch of inserts, then
    batches of updates (each event carries the whole new document), creates
    and deletes. The expected
    final state and a sample of keys to read back go beside it."""
    docs, seq, batches = {}, 0, []

    def event(op, key, doc):
        nonlocal seq
        seq += 1
        return json.dumps({"seq": seq, "op": op, "key": key,
                           "doc": None if doc is None else json.dumps(doc)})

    first = []
    for key in range(STORE_DOCS):
        docs[f"order_{key}"] = _store_doc(rng, key)
        first.append(event("insert", f"order_{key}", docs[f"order_{key}"]))
    batches.append(first)
    next_key, reads = STORE_DOCS, []
    for _ in range(STORE_BATCHES):
        live = sorted(docs)
        picks = [live[int(i)] for i in rng.choice(len(live), 30, replace=False)]
        lines = []
        for k in picks[:20]:
            docs[k] = {**docs[k], "status": str(rng.choice(STATUS)), "rev": len(batches),
                       "tags": {"hot": bool(rng.random() < 0.5),
                                "region": None if rng.random() < 0.3 else int(rng.integers(0, 25))}}
            lines.append(event("update", k, docs[k]))
        for _ in range(5):
            k = f"order_{next_key}"
            docs[k] = _store_doc(rng, next_key)
            next_key += 1
            lines.append(event("insert", k, docs[k]))
        for k in picks[20:25]:
            del docs[k]
            lines.append(event("delete", k, None))
        reads.append([picks[0], picks[20], f"order_{next_key - 1}"][len(batches) % 3])
        batches.append(lines)
    with open(os.path.join(out, "store_plan.json"), "w") as fh:
        json.dump({"batches": batches, "reads": reads,
                   "expect": {k: json.dumps(d) for k, d in docs.items()}}, fh)


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into `out` (created)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5eed])
    n_orders, n_parts, n_docs, n_vecs = SIZES[workload]
    star_tables(rng, n_orders, n_parts, out)
    if n_docs:
        corpus_tables(rng, n_docs, n_vecs, out)
        store_plan(rng, out)
    if workload == "doc_read":
        doc_read_ops(rng, out, n_orders)


def ensure(workload, seed, out):
    """Generate once per (workload, seed); a completed set is reused."""
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return
    shutil.rmtree(out, ignore_errors=True)
    generate(workload, seed, out)
    open(done, "w").close()
