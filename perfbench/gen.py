"""Seeded load generator, kept apart from the program under test.

Writes the star-schema tables the registry queries read (same table
names, column names and types as the repository's test data) plus the
workload-specific change streams: IVM deltas and streaming input files.
Everything is a pure function of ``(seed, sf)``; the program only ever
sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny", "old", "new", "big", "dark", "soft"]
P_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
VOCAB = np.array(
    "a the batch row sort query filter hash key group agg join scan order value "
    "window vector data table part line column customer stream spark merge fast "
    "slow small big".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _ts(EPOCH_1995, rng.integers(0, 2404, n) * DAY_US),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }
    )


def customer_table(keys: np.ndarray, nation: np.ndarray, acct: np.ndarray, seg: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(nation, pa.int32()),
            "c_acctbal": acct,
            "c_mktsegment": seg,
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; every 7th one is a near-duplicate of an
    earlier document with a few words replaced, so the MinHash/LSH
    operators have real candidate pairs to verify."""
    texts: list[str] = []
    for i in range(n):
        if i % 7 == 6:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten cluster centres (``label``)."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=1.2, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    offs = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(EPOCH_2024, offs),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write the ten source tables at scale ``sf`` and return them."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": customer_table(
            np.arange(n_cust),
            rng.integers(0, 25, n_cust),
            _money(rng, -999.99, 9999.99, n_cust),
            SEGMENTS[rng.integers(0, 5, n_cust)],
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(rng.integers(0, len(P_ADJ), n_part), rng.integers(0, len(P_NOUN), n_part))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": P_TYPES[rng.integers(0, len(P_TYPES), n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
    }
    orders = orders_table(rng, np.arange(n_ord), n_cust)
    tables["orders"] = orders

    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_order)
    starts = np.cumsum(per_order) - per_order
    l_line = np.arange(n_li) - np.repeat(starts, per_order) + 1
    odate = orders.column("o_orderdate").to_numpy()
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                odate[l_order] + (rng.integers(1, 122, n_li) * DAY_US).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    tables["events"] = events_table(rng, n_ev, n_cust // 10)
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def write_ivm_deltas(
    out_dir: str, seed: int, tables: dict[str, pa.Table], steps: int, n_ins: int, n_del: int, n_upd: int
) -> None:
    """Per step ``k``, ``step{k}/{orders,customer}_{ins,del}.parquet``:
    ``n_ins`` new orders, ``n_del`` retractions of live orders, and
    ``n_upd`` customer segment updates (a retract/insert pair each)."""
    rng = np.random.default_rng([seed, 1])
    orders = tables["orders"]
    cust = tables["customer"].to_pandas()
    n_cust = len(cust)
    live = list(orders.column("o_orderkey").to_numpy())
    all_orders = [orders]
    next_key = len(live)
    for k in range(steps):
        d = os.path.join(out_dir, f"step{k}")
        os.makedirs(d, exist_ok=True)
        pick = rng.choice(len(live), n_del, replace=False)
        gone = set(int(live[i]) for i in pick)
        live = [x for x in live if int(x) not in gone]
        every = pa.concat_tables(all_orders)
        mask = np.isin(every.column("o_orderkey").to_numpy(), np.fromiter(gone, np.int64))
        pq.write_table(every.filter(pa.array(mask)), os.path.join(d, "orders_del.parquet"))
        new = orders_table(rng, np.arange(next_key, next_key + n_ins), n_cust)
        next_key += n_ins
        live.extend(new.column("o_orderkey").to_numpy())
        all_orders.append(new)
        pq.write_table(new, os.path.join(d, "orders_ins.parquet"))
        who = rng.choice(n_cust, n_upd, replace=False)
        old = cust.iloc[who]
        shift = rng.integers(1, len(SEGMENTS), n_upd)
        seg_idx = (np.searchsorted(SEGMENTS, old["c_mktsegment"].to_numpy()) + shift) % len(SEGMENTS)
        cust.loc[cust.index[who], "c_mktsegment"] = SEGMENTS[seg_idx]
        new_rows = cust.iloc[who]
        schema = tables["customer"].schema
        pq.write_table(pa.Table.from_pandas(old, schema=schema, preserve_index=False), os.path.join(d, "customer_del.parquet"))
        pq.write_table(pa.Table.from_pandas(new_rows, schema=schema, preserve_index=False), os.path.join(d, "customer_ins.parquet"))


def write_stream_files(out_dir: str, seed: int, events: pa.Table, n_files: int) -> None:
    """Cut the time-ordered ``events`` into ``n_files`` contiguous parquet
    files at seeded cut points (each file near 1/n_files of the rows);
    file names sort in stream order."""
    rng = np.random.default_rng([seed, 2])
    n = events.num_rows
    base = np.linspace(0, n, n_files + 1)
    jitter = rng.uniform(-0.2, 0.2, n_files - 1) * (n / n_files)
    cuts = np.concatenate([[0], np.round(base[1:-1] + jitter), [n]]).astype(int)
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        pq.write_table(events.slice(cuts[i], cuts[i + 1] - cuts[i]), os.path.join(out_dir, f"part{i:02d}.parquet"))
