"""Seeded input generator for the pipeline benchmark.

Writes the ten tables the program reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the same column names and types as the project's test data. The
same seed always gives byte-identical tables.

Sizes follow the scale-factor rule of the test data (orders = 1,500,000 x sf,
lineitem = 4 x orders, customers = 150,000 x sf, ...). The one departure is the
order-date span: `order_days` distinct order dates instead of the ~2,400 of
the test data, because the medallion layers partition by order date and the
build cost is set by the partition count (see README.md).

It also writes the CDC update batches for the `cdc_stream` workload: order
status transitions O->F or O->P on the most recent order dates, distinct keys
in every batch and across batches.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
PART_ADJ = ["blue", "hot", "red", "small", "big", "cold", "green", "dark"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "ring", "widget", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ("a the data table query spark window hash join sort scan filter key "
         "value row column line part order customer batch stream merge group "
         "agg vector fast slow big small").split()

ORDER_EPOCH = dt.date(1998, 1, 1)
EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _write(out_dir, name, table):
    # one row group per table, like the test data
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir, seed, sf, order_days):
    """Write every table for scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = 4 * n_ord
    n_users = max(150, int(15000 * sf))
    n_events = int(1000000 * sf)
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail}))

    day0 = np.datetime64(ORDER_EPOCH, "us")
    one_day = np.timedelta64(86400 * 10**6, "us")
    o_days = rng.integers(0, order_days, n_ord)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day0 + o_days * one_day, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}))

    l_qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_part = rng.integers(0, n_part, n_line)
    rf = rng.choice(["A", "N", "R"], n_line)
    ls = rng.choice(["F", "O"], n_line)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": l_qty,
        "l_extendedprice": np.round(l_qty * retail[l_part]
                                    * rng.uniform(0.02, 0.11, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rf,
        "l_linestatus": ls,
        "l_shipdate": pa.array(day0 + rng.integers(0, order_days + 90, n_line)
                               * one_day, pa.timestamp("us"))}))

    ev0 = np.datetime64(EVENT_EPOCH, "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}))

    texts = []
    for i in range(n_docs):
        if i % 50 == 49:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i % 50 == 48:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


def make_updates(data_dir, out_dir, seed, batches, rows_per_batch, recent_days):
    """Write `batches` CDC files of `rows_per_batch` status transitions each.

    Keys are drawn without replacement from the open (O) orders on the
    `recent_days` most recent order dates, so every key moves once, O->F or
    O->P. Each file holds the silver columns the transition changes plus the
    merge key and the partition column; the merge keeps every other column.
    """
    os.makedirs(out_dir, exist_ok=True)
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
    day = orders["o_orderdate"].dt.normalize()
    recent = np.sort(day.unique())[-recent_days:]
    open_recent = orders[(orders["o_orderstatus"] == "O") & day.isin(recent)]
    need = batches * rows_per_batch
    if len(open_recent) < need:
        raise SystemExit(f"only {len(open_recent)} open orders on the last "
                         f"{recent_days} dates, {need} needed")
    rng = np.random.default_rng(seed + 7919)
    pick = open_recent.iloc[rng.permutation(len(open_recent))[:need]]
    new_status = rng.choice(["F", "P"], need)
    for b in range(batches):
        sl = slice(b * rows_per_batch, (b + 1) * rows_per_batch)
        part = pick.iloc[sl]
        pq.write_table(pa.table({
            "o_orderkey": pa.array(part["o_orderkey"].to_numpy(), pa.int64()),
            "o_orderstatus": list(new_status[sl]),
            "status_normalized": list(new_status[sl]),
            "order_date": pa.array(part["o_orderdate"].dt.date.to_numpy(),
                                   pa.date32())}),
            os.path.join(out_dir, f"batch-{b:04d}.parquet"))


def make_fault_corpus(out_dir, n_docs=205, term="spark", df=98):
    """A fixed corpus (independent of the seed) on which q_tfidf meets its
    known fault: `term` occurs five times in exactly `df` of `n_docs`
    documents, so its idf is ln(206 / 99) + 1, an argument on which the
    JVM's Math.log and DuckDB's ln differ by an ulp (the smallest such corpus
    with n_docs >= 200)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(0)
    vocab = [w for w in WORDS if w != term]
    texts = []
    for i in range(n_docs):
        words = list(rng.choice(vocab, int(rng.integers(8, 60))))
        if i < df:
            words += [term] * 5
        texts.append(" ".join(words))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
