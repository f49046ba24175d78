"""Output checks, run after the timed window. Each returns a list of
failure strings (empty = correct).

- mart_read: every query's result equals its `oracleSql` run in DuckDB
  over the same parquet, compared the way `scripts/check_oracle.py`
  compares (columns sorted by name, rows canonicalized and sorted); and
  every timed execution returned the checked result's row count.
- cdc_load: every read saw the live row counts the generator expects
  for its batch, and the final table equals a DuckDB latest-per-key fold
  of the snapshot and the log up to the final watermark.
- corpus_dedup: every emitted pair is a true near-duplicate and its ends
  share a cluster, clusters are labelled by their smallest id, and
  enough planted near-duplicates end up in their source's cluster (see
  `corpus_dedup` for why that last check has a floor below 1).
"""
import json
import math
import os

import duckdb
import pyarrow.dataset as ds

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def canon(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def rowset(table):
    names = table.column_names
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = list(zip(*[cols[i] for i in order])) if cols else []
    return sorted("|".join(canon(v) for v in r) for r in rows), [names[i] for i in order]


def mart_read(data_dir, out_dir, ops):
    fails = []
    with open(f"{out_dir}/mart/oracle_sql.json") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    checked_rows = {}
    for name in sorted(os.listdir(f"{out_dir}/mart")):
        path = f"{out_dir}/mart/{name}"
        if not os.path.isdir(path):
            continue
        got = ds.dataset(path).to_table()
        checked_rows[name] = got.num_rows
        if name not in oracles:
            continue
        try:
            want = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{name}: oracle error {type(e).__name__}: {e}")
            continue
        g_rows, g_names = rowset(got)
        o_rows, o_names = rowset(want)
        if g_names != o_names:
            fails.append(f"{name}: columns {g_names} != {o_names}")
        elif g_rows != o_rows:
            diff = next(((a, b) for a, b in zip(g_rows, o_rows) if a != b), None)
            fails.append(f"{name}: {len(g_rows)} vs {len(o_rows)} rows; first diff {diff}")
    for op in ops:
        n = op["counters"].get("rows_out")
        if op["ok"] and n is not None and checked_rows.get(op["name"]) != int(n):
            fails.append(f"{op['name']}: timed run returned {int(n)} rows, "
                         f"checked run {checked_rows.get(op['name'])}")
    return fails


def cdc_load(in_dir, out_dir, ops, finish):
    fails = []
    with open(f"{in_dir}/expect.json") as f:
        expect = json.load(f)
    for op in ops:
        if op["kind"] != "read" or not op["ok"]:
            continue
        c = op["counters"]
        b = int(c["batch"])
        for key, want in (("count_all", expect["live"][b]), ("count_hot", expect["live_hot"][b])):
            if key in c and int(c[key]) != want:
                fails.append(f"read after batch {b}: {key} {int(c[key])} != expected {want}")
    wm = int(finish["watermark"])
    con = duckdb.connect()
    fold = f"""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, last_lsn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY last_lsn DESC) AS rn
        FROM (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, last_lsn, 2 AS op
          FROM read_parquet('{in_dir}/snapshot.parquet')
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, lsn AS last_lsn, op
          FROM read_parquet('{in_dir}/log.parquet') WHERE lsn <= {wm}))
      WHERE rn = 1 AND op <> 1"""
    want = con.execute(fold).fetch_arrow_table()
    got = ds.dataset(f"{out_dir}/cdc_final").to_table()
    g_rows, g_names = rowset(got)
    o_rows, o_names = rowset(want)
    if g_names != o_names:
        fails.append(f"final table columns {g_names} != {o_names}")
    elif g_rows != o_rows:
        fails.append(f"final table: {len(g_rows)} rows vs fold {len(o_rows)}; first diff "
                     f"{next(((a, b) for a, b in zip(g_rows, o_rows) if a != b), None)}")
    return fails


RECALL_FLOOR = 0.75     # planted near-duplicates that must share their source's cluster
TAU, SHINGLE_N = 0.8, 3 # the workload's Dedup parameters (Workloads.scala CorpusDedup)


def shingles(text):
    """Distinct word 3-gram set, as `Dedup.shingles` builds it."""
    w = text.split()
    return {" ".join(w[i:i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


def corpus_dedup(in_dir, out_dir):
    """Returns (failures, planted recall, missed planted pairs).

    Gated: the labels cover the base and whole incoming batches only;
    every emitted pair has true shingle Jaccard >= TAU; both ends of
    every emitted pair share a label; every label is its cluster's
    smallest id (the `Components` contract); and at least RECALL_FLOOR
    of the planted near-duplicates share their source's cluster.
    A correct MinHash-LSH misses a planted pair with probability below
    1e-7 (see gen._near_dup), so recall below 1 is reported, not gated:
    the engine's `plans.MinHashSig` applies order-preserving maps
    `a*h+b` as its permutations, which leaves recall near the pairs'
    Jaccard (about 0.97) until that kernel is fixed.
    """
    text = {}
    batch_of = {}
    for f in ("base", "batches"):
        t = ds.dataset(f"{in_dir}/{f}.parquet").to_table().to_pydict()
        text.update(zip(t["doc_id"], t["text"]))
        if f == "batches":
            batch_of = dict(zip(t["doc_id"], t["batch"]))
    labels = ds.dataset(f"{out_dir}/labels").to_table().to_pydict()
    edges = ds.dataset(f"{out_dir}/edges").to_table().to_pydict()
    label = dict(zip(labels["doc_id"], labels["component"]))
    fails = []
    if len(label) != len(labels["doc_id"]):
        fails.append(f"{len(labels['doc_id']) - len(label)} documents carry two labels")
    unknown = [d for d in label if d not in text]
    if unknown:
        fails.append(f"{len(unknown)} labels of unknown documents, e.g. {unknown[0]}")
    per_batch = {}
    for d, b in batch_of.items():
        per_batch.setdefault(b, [0, 0])[d in label] += 1
    partial = sorted(b for b, (out, seen) in per_batch.items() if out and seen)
    if partial:
        fails.append(f"batches {partial[:5]} are only partly labelled")
    unlabelled = sum(1 for d in text if d not in batch_of and d not in label)
    if unlabelled:
        fails.append(f"{unlabelled} base documents have no label")

    sh = {}
    for d1, d2 in zip(edges["d1"], edges["d2"]):
        a = sh.setdefault(d1, shingles(text[d1]))
        b = sh.setdefault(d2, shingles(text[d2]))
        j = len(a & b) / len(a | b) if a | b else 0.0
        if j < TAU:
            fails.append(f"emitted pair ({d1}, {d2}) has Jaccard {j:.3f} < {TAU}")
        if label.get(d1) is None or label.get(d1) != label.get(d2):
            fails.append(f"emitted pair ({d1}, {d2}) split across clusters "
                         f"{label.get(d1)} and {label.get(d2)}")
    for d, c in label.items():
        if c > d or label.get(c) != c:
            fails.append(f"document {d} labelled {c}, which is not its cluster's smallest id")
            break

    with open(f"{in_dir}/planted.json") as f:
        planted = json.load(f)
    checked = [(dup, src) for dup, src in planted if dup in label]  # ingested so far
    missed = [(dup, src) for dup, src in checked if label.get(src) != label[dup]]
    recall = 1.0 - len(missed) / len(checked) if checked else 0.0
    if not checked:
        fails.append("no planted duplicate was ingested")
    elif recall < RECALL_FLOOR:
        fails.append(f"planted near-duplicate recall {recall:.3f} < {RECALL_FLOOR}")
    return fails, recall, missed
