"""Seeded inputs for the repo benchmark.

Everything the program under test reads is made here from the workload
seed, so the same seed gives byte-identical files:

* ``write_tables`` writes the ten parquet tables the query functions load
  (the TPC-H-like star schema, ``events``, ``documents`` and
  ``embeddings``), with the schemas, physical types and value
  distributions of the repository's sf0.1 test tables.
* ``news_files`` and ``write_lake_files`` make the JSONL news topic files
  for ``lake_ingest`` and the rows the lake must hold once they are in.
* ``query_order`` is the seeded order of the timed query loop.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]  # en ~40%, like the test tables
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SYMBOLS = ["AAPL", "MSFT", "GOOGL", "AMZN", "NVDA", "META"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000        # 1995-01-01T00:00:00 in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000      # 2024-01-01T00:00:00 in µs


def _rng(seed, stream):
    # one independent stream per table, so a table's bytes depend only on
    # (seed, table) and not on the order tables are written in
    return np.random.default_rng([seed, stream])


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _tables(seed):
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb = int(50_000 * SF), int(20_000 * SF)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})

    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = _rng(seed, 3)
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})

    r = _rng(seed, 4)
    n_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, n_days + 1, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})

    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + r.integers(1, n_days + 95, n_li) * DAY_US)})

    r = _rng(seed, 6)
    ts = np.sort(r.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": pa.array(r.integers(0, 1500, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = _rng(seed, 7)
    texts = []
    for i in range(n_doc):
        u = r.random()
        if i > 0 and u < 0.05:      # near duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 0 and u < 0.052:   # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, 8)
    v = r.normal(size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(seed, out_dir):
    """Write the ten tables for ``seed`` as one-row-group parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in _tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=t.num_rows, compression="snappy")


def query_order(seed, names):
    """The timed loop's query order: a seeded shuffle of the sorted names."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


# ---- lake_ingest topic files --------------------------------------------

RECORDS_PER_FILE = 100  # the reference Lambda's batch_size
T0_S = 1_704_067_200    # 2024-01-01T00:00:00Z


def _malformed(line, r):
    # a line cut short: invalid JSON that the PERMISSIVE decode nulls out
    return line[: int(r.integers(5, len(line) - 2))]


def news_files(seed, phase, n_files, resend_gap):
    """(file lines, expected lake rows per file) for ``n_files`` news files.

    Per symbol, fresh article ids rise across files. About 5% of the lines
    in a file re-send an article from a file at least ``resend_gap`` files
    earlier, and one line in a file is malformed (1%). When no micro-batch
    spans more than ``resend_gap`` files, every re-sent id is at or below
    its symbol's high watermark from an earlier batch, so
    ``HighWatermarkDedup`` keeps exactly the fresh lines whatever the batch
    boundaries are. Expected rows are (symbol, news_id, datetime, headline);
    ``phase`` selects an independent stream, one per replay phase.
    """
    r = _rng(seed, 200 + phase)
    next_id = {s: 1000 * (i + 1) for i, s in enumerate(SYMBOLS)}
    sent, files, expected = [], [], []  # sent[f] = fresh lines of file f
    for f in range(n_files):
        bad = int(r.integers(0, RECORDS_PER_FILE))
        lines, fresh, rows = [], [], []
        for k in range(RECORDS_PER_FILE):
            if k == bad:
                sym = SYMBOLS[int(r.integers(0, len(SYMBOLS)))]
                lines.append(_malformed(json.dumps({"symbol": sym, "id": 1}), r))
                continue
            if f >= resend_gap and r.random() < 0.05:
                old = sent[int(r.integers(0, f - resend_gap + 1))]
                lines.append(old[int(r.integers(0, len(old)))])
                continue
            sym = SYMBOLS[int(r.integers(0, len(SYMBOLS)))]
            nid = next_id[sym] + int(r.integers(1, 4))
            next_id[sym] = nid
            dt = T0_S + f * 60 + int(r.integers(0, 60))
            head = f"{sym} headline {nid}"
            rec = {"symbol": sym, "id": nid, "datetime": dt, "category": "company",
                   "headline": head, "summary": f"summary of article {nid}",
                   "source": "wire", "url": f"https://news.example/{sym}/{nid}",
                   "image": ""}
            line = json.dumps(rec, separators=(",", ":"))
            lines.append(line)
            fresh.append(line)
            rows.append((sym, nid, dt, head))
        sent.append(fresh)
        files.append(lines)
        expected.append(rows)
    return files, expected


def write_lake_files(out_dir, files, mtime0=T0_S):
    """Write topic files ``00000.jsonl``… with strictly rising mtimes.

    The streaming file source orders a backlog by modification time, so
    distinct mtimes make the drain phase's batch layout the same each run.
    """
    os.makedirs(out_dir, exist_ok=True)
    for i, lines in enumerate(files):
        p = os.path.join(out_dir, f"{i:05d}.jsonl")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(p, (mtime0 + i, mtime0 + i))
