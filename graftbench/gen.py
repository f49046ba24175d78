"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet, a different seed writes different data. The
JVM side of the benchmark only ever sees the files written here.

- `star_schema`: the TPC-H-ish star schema the catalog queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents), with the column types and value domains of the engine's
  reference test data.
- `cdc_inputs`: an orders-like snapshot plus an LSN-ordered change log
  (lsn, op, key, data) cut into fixed-size batches, and the live row
  counts every batch prefix must leave behind.
- `corpus_inputs`: a document corpus grown from one base draw by
  injective token rewrites (copy k appends k to every token, so copies
  never share shingles), with planted near-duplicates; the base part
  is stored, the rest arrives in batches.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
EVENT_TYPES = "click error purchase signup view".split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

OP_DELETE, OP_INSERT, OP_UPDATE = 1, 2, 4


def _ts(base, seconds):
    """Naive microsecond timestamps (the reference data's encoding)."""
    us = np.datetime64(base, "us") + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, start, end, n):
    span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    d = np.datetime64(start, "D") + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """`n` documents of 10-100 vocabulary words (reference shape)."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    ids = np.arange(n, dtype=np.int64)
    return ids, texts


def star_schema(seed, out_dir, sf):
    """Write the star schema at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    i32, i64, s = pa.int32(), pa.int64(), pa.string()

    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out_dir}/nation.parquet")
    pq.write_table(pa.table({"c_custkey": pa.array(np.arange(n_cust), i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
           f"{out_dir}/customer.parquet")
    pq.write_table(pa.table({"s_suppkey": pa.array(np.arange(n_supp), i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
           f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part)
    pq.write_table(pa.table({"p_partkey": pa.array(pk, i64),
                     "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                     "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
                     "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                     "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
           f"{out_dir}/part.parquet")
    pq.write_table(pa.table({"o_orderkey": pa.array(np.arange(n_ord), i64),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                     "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                     "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                     "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
           f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    pq.write_table(pa.table({"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * rng.uniform(18.0, 2099.9, n_line), 2),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                     "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
           f"{out_dir}/lineitem.parquet")
    offs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    pq.write_table(pa.table({"event_id": pa.array(np.arange(n_evt), i64),
                     "ts": _ts("2024-01-01", offs),
                     "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_evt), i64),
                     "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
                     "value": np.round(rng.exponential(50.0, n_evt), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
           f"{out_dir}/events.parquet")
    ids, texts = documents(rng, n_doc)
    pq.write_table(pa.table({"doc_id": pa.array(ids, i64), "text": pa.array(texts, s),
                     "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
                     "source": [f"src{i % 20}" for i in range(n_doc)],
                     "n_chars": pa.array([len(t) for t in texts], i64)}),
           f"{out_dir}/documents.parquet")


# --------------------------------------------------------------- CDC

CDC_KEY = "o_orderkey"


def cdc_inputs(seed, out_dir, rows=40_000, hot=2_000, batches=400, batch_rows=400):
    """Snapshot of `rows` orders (last_lsn 0) and a change log of
    `batches` batches of `batch_rows` changes each, LSNs 1..N in batch
    order. The op mix is the one `tools.ScaleRehearsal`'s `x_cdc_mor`
    feed derives from the reference events (1 of 5 event types each
    maps to insert and delete, the other 3 to update): 20% inserts of a
    new key, 20% deletes, 60% updates (an update of a deleted key
    re-inserts it, as the upsert does). 70% of deletes and updates hit
    the hot key range [0, hot), the rest scatter over every key ever
    issued; hot keys drawn twice in a batch give latest-per-key work.

    Writes snapshot.parquet, log.parquet and expect.json (the live row
    count and the live hot-range count after each batch prefix,
    index 0 = the snapshot).
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(rows, dtype=np.int64)
    snap = {CDC_KEY: keys,
            "o_custkey": rng.integers(0, 15_000, rows).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, rows)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, rows),
            "last_lsn": np.zeros(rows, dtype=np.int64)}
    pq.write_table(pa.table(snap), f"{out_dir}/snapshot.parquet")

    n = batches * batch_rows
    lsn = np.arange(1, n + 1, dtype=np.int64)
    r = rng.random(n)
    is_ins = r < 0.2
    op = np.where(is_ins, OP_INSERT, np.where(r < 0.4, OP_DELETE, OP_UPDATE)).astype(np.int32)
    issued = rows + np.cumsum(is_ins)          # keys issued up to and including row i
    key = np.where(rng.random(n) < 0.7, rng.integers(0, hot, n),
                   (rng.random(n) * (issued - is_ins)).astype(np.int64))
    key[is_ins] = issued[is_ins] - 1

    live = np.zeros(int(issued[-1]), dtype=bool)
    live[:rows] = True
    expect = [(int(live.sum()), int(live[:hot].sum()))]
    for b in range(batches):
        sl = slice(b * batch_rows, (b + 1) * batch_rows)
        k, o = key[sl][::-1], op[sl][::-1]
        k, first = np.unique(k, return_index=True)   # latest change per key
        live[k] = o[first] != OP_DELETE
        expect.append((int(live.sum()), int(live[:hot].sum())))
    log = {"lsn": lsn, "op": pa.array(op, pa.int32()), CDC_KEY: key,
           "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
           "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
           "o_totalprice": _money(rng, 1000.0, 500000.0, n)}
    pq.write_table(pa.table(log), f"{out_dir}/log.parquet", row_group_size=4 * batch_rows)
    with open(f"{out_dir}/expect.json", "w") as f:
        json.dump({"hot": hot, "batch_rows": batch_rows, "batches": batches,
                   "live": [e[0] for e in expect], "live_hot": [e[1] for e in expect]}, f)


# ------------------------------------------------------------ corpus

def _near_dup(text):
    """Change the LAST word only: one of the doc's 3-word shingles
    changes, so a source of >= 60 words keeps Jaccard >= 0.96 and LSH
    (8 bands x 4 rows) misses the pair with probability < 1e-7."""
    ws = text.split()
    ws[-1] += "z"
    return " ".join(ws)


def corpus_inputs(seed, out_dir, base_docs=2_500, copies=4, batches=120, batch_docs=100,
                  dup_share=0.2):
    """Base corpus of `base_docs * copies` documents (one draw plus
    `copies - 1` injective token rewrites of it) and `batches` incoming
    batches of `batch_docs` documents, a `dup_share` of which are
    planted near-duplicates of a long document already ingested (the
    base, an earlier batch, or earlier in the same batch).

    Writes base.parquet, batches.parquet (doc_id, text, batch) and
    planted.json ([dup_id, source_id] pairs).
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    ids, texts = documents(rng, base_docs)
    all_ids, all_texts = list(ids), list(texts)
    stride = 10_000_000
    for k in range(1, copies):
        all_ids += [int(i) + k * stride for i in ids]
        sfx = str(k)     # words are single-space separated
        all_texts += [t.replace(" ", sfx + " ") + sfx for t in texts]
    pq.write_table(pa.table({"doc_id": pa.array(all_ids, pa.int64()),
                             "text": pa.array(all_texts, pa.string())}),
                   f"{out_dir}/base.parquet")
    long_pool = [i for i, t in zip(all_ids, all_texts) if t.count(" ") >= 59]
    text_of = dict(zip(all_ids, all_texts))
    n = batches * batch_docs
    b_ids = list(range(stride * copies, stride * copies + n))
    _, b_texts = documents(rng, n)
    is_dup = rng.random(n) < dup_share
    pick = rng.random(n)
    planted = []
    for j in range(n):
        if is_dup[j]:
            src = long_pool[int(pick[j] * len(long_pool))]
            b_texts[j] = _near_dup(text_of[src])
            planted.append([b_ids[j], int(src)])
        text_of[b_ids[j]] = b_texts[j]
        if b_texts[j].count(" ") >= 59:
            long_pool.append(b_ids[j])
    b_batch = [j // batch_docs for j in range(n)]
    pq.write_table(pa.table({"doc_id": pa.array(b_ids, pa.int64()),
                             "text": pa.array(b_texts, pa.string()),
                             "batch": pa.array(b_batch, pa.int32())}),
                   f"{out_dir}/batches.parquet")
    with open(f"{out_dir}/planted.json", "w") as f:
        json.dump(planted, f)
