"""Seeded input generator for the graft benchmark.

Writes the ten tables graft reads (same names, columns and parquet types
as the engine's test data) plus the etl workload's landing batches. The same
seed gives byte-identical tables; table sizes do not depend on the seed,
so timings differ between seeds only through the data's content.

Keys are consistent across tables: every lineitem belongs to an order,
every order to a customer, every line to a part and a supplier, and every
customer and supplier to a nation.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Table sizes. Small on purpose: at this size graft's ops are bound by
# per-job and planning cost, which is what the workloads measure.
N_CUSTOMER = 3000
N_SUPPLIER = 200
N_PART = 2000
N_ORDERS = 20000
N_EVENTS = 20000
N_USERS = 300
N_DOCS = 600
N_VECS = 400
EMB_DIM = 64
N_CLUSTERS = 10

# etl landing batches: order-key slices, landed alternately as CSV
# and parquet. Each slice re-lands the tail of the previous one, so the
# keyed upsert has real updates to resolve.
N_SLICES = 3
SLICE_ROWS = 400
SLICE_OVERLAP = 50

VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "vector join index shuffle plan task stage cache read write file lake "
         "schema commit").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
STATUS = np.array(["O", "P", "F"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
P_ADJ = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "green"])
P_NOUN = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path)


def _texts(rng):
    """Documents with planted exact and near duplicates, so the dedup
    operators have pairs to find."""
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.04:
            texts.append(texts[rng.integers(0, i)])
        elif i > 20 and r < 0.20:
            words = texts[rng.integers(0, i)].split()
            for _ in range(int(rng.integers(1, 4))):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 120))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    return texts


def generate(out_dir, seed):
    """Write every table under `out_dir`; returns the landing slices."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, N_CUSTOMER)]}),
        f"{out_dir}/customer.parquet")

    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)}),
        f"{out_dir}/supplier.parquet")

    pk = np.arange(N_PART, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(P_ADJ[rng.integers(0, 8, N_PART)], " "),
                              P_NOUN[rng.integers(0, 8, N_PART)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 65, N_PART)],
        "p_type": P_TYPES[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out_dir}/part.parquet")

    ok = np.arange(N_ORDERS, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2404, N_ORDERS) * np.timedelta64(1, "D")
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": STATUS[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": PRIORITY[rng.integers(0, 5, N_ORDERS)]}, schema=ORDERS_SCHEMA)
    _write(orders, f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_num = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    flags = rng.integers(0, 6, n_li)
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, N_PART, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["O", "F"])[flags // 3],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")

    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS)) * np.timedelta64(1, "us")
    _write(pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, N_EVENTS)],
        "value": _money(rng, 0.0, 560.0, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}),
        f"{out_dir}/events.parquet")

    texts = _texts(rng)
    _write(pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")

    centroids = rng.normal(size=(N_CLUSTERS, EMB_DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = centroids[label] + rng.normal(scale=0.8, size=(N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}),
        f"{out_dir}/embeddings.parquet")

    return land_slices(orders, f"{out_dir}/landing", rng)


def land_slices(orders, land_dir, rng):
    """Order-key slices for the etl workload, alternately CSV and parquet. Each
    slice starts SLICE_OVERLAP keys before the previous one ended and
    carries a fresh price, so re-landed keys are real updates. Returns
    (path, rows, warehouse rows once upserted) per slice."""
    os.makedirs(land_dir, exist_ok=True)
    start = int(rng.integers(0, N_ORDERS - N_SLICES * SLICE_ROWS))
    paths = []
    for i in range(N_SLICES):
        lo = start + i * (SLICE_ROWS - SLICE_OVERLAP)
        s = orders.slice(lo, SLICE_ROWS)
        s = s.set_column(3, "o_totalprice", pa.array(_money(rng, 1000.0, 500000.0, SLICE_ROWS)))
        if i % 2 == 0:
            path = f"{land_dir}/slice_{i:02d}.csv"
            pacsv.write_csv(s, path)
        else:
            path = f"{land_dir}/slice_{i:02d}.parquet"
            _write(s, path)
        paths.append((path, SLICE_ROWS, SLICE_ROWS + i * (SLICE_ROWS - SLICE_OVERLAP)))
    return paths
