"""Seeded synthetic inputs for every workload.

The program under test sees only what these functions write: the
TPC-H-like star schema plus the ``events`` / ``documents`` /
``embeddings`` tables that the declared queries read, tiny-file lakes
for the compaction workloads, and the document files of the curation
stream. The same seed always yields the same bytes.
"""

from __future__ import annotations

import csv
import io
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PART_ADJ = ["small", "red", "large", "hot", "blue", "old", "cold", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMB_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input) so adding an input never
    shifts the bytes of another."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def _days(rng, n, start: datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten parquet tables the declared queries read, at scale
    factor ``sf`` (row counts follow TPC-H: lineitem = 6M x sf).
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = _rng(seed, "part")
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in r.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "P", "F")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(r, n_ord, datetime(1995, 1, 1), 2404),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    flags = r.integers(0, 6, n_line)
    put("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("O", "F")[i % 2] for i in flags],
        "l_shipdate": _days(r, n_line, datetime(1995, 1, 2), 2498),
    })
    r = _rng(seed, "events")
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    texts, langs = documents(seed, n_doc)
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = embeddings(seed, n_emb)
    r = _rng(seed, "labels")
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    return rows


def documents(seed: int, n: int) -> tuple[list[str], list[str]]:
    """``n`` documents of 10-100 words over a 31-word vocabulary; 5%
    end in a ``dup`` marker and ~0.3% are exact copies of an earlier
    document, so exact and near-dup stages have work to do."""
    r = _rng(seed, "documents")
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] += " dup"
    for i in np.flatnonzero(r.random(n) < 0.003):
        if i:
            texts[i] = texts[int(r.integers(0, i))]
    langs = [LANGS[i] for i in r.choice(5, n, p=LANG_P)]
    return texts, langs


def embeddings(seed: int, n: int) -> np.ndarray:
    """``n`` unit-norm 64-dim float32 vectors."""
    v = _rng(seed, "embeddings").standard_normal((n, EMB_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


# -- tiny-file lakes ---------------------------------------------------


def _fanout(root: str, i: int) -> str:
    d = os.path.join(root, f"d{i % 16:02d}")
    os.makedirs(d, exist_ok=True)
    return d


def json_lake(root: str, seed: int, n_files: int) -> dict:
    """One compact JSON document per file (the reference's ``products``
    fixture). Returns the lake's record lines and byte count."""
    r = _rng(seed, "json_lake")
    tags = ["new", "sale", "eco", "gift", "bulk"]
    lines, size = [], 0
    for i in range(n_files):
        doc = {
            "id": f"{seed:x}-{i:08d}",
            "name": f"Item_{int(r.integers(1, 101))}",
            "price": round(float(r.uniform(10, 1000)), 2),
            "in_stock": bool(r.integers(0, 2)),
            "tags": [tags[j] for j in sorted(set(r.integers(0, 5, int(r.integers(1, 4)))))],
            "created_at": (datetime(2024, 1, 1) + timedelta(seconds=int(r.integers(0, 31_536_000)))).isoformat(),
            "metadata": {"weight": int(r.integers(1, 51)),
                         "dimensions": {"width": int(r.integers(5, 101)), "height": int(r.integers(5, 101)),
                                        "depth": int(r.integers(5, 51))}},
        }
        line = json.dumps(doc, separators=(",", ":"))
        with open(os.path.join(_fanout(root, i), f"p{i:08d}.json"), "w") as f:
            f.write(line)
        lines.append(line)
        size += len(line)
    return {"records": lines, "bytes": size, "files": n_files}


CSV_HEADER = ["id", "fileid", "first_name", "last_name", "email", "age",
              "join_date", "salary", "is_active", "department"]


def csv_lake(root: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """``n_files`` CSVs that each carry the same header (the reference's
    ``employees`` fixture). Returns the data rows (header excluded) and
    the lake's byte count."""
    r = _rng(seed, "csv_lake")
    first = ["ann", "bob", "cy", "dee", "eli", "fay", "gus", "hal"]
    last = ["ng", "li", "ortiz", "smith", "kumar", "berg", "ito", "diaz"]
    depts = ["eng", "ops", "sales", "hr", "legal"]
    rows_out, size = [], 0
    for i in range(n_files):
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(CSV_HEADER)
        fid = f"{seed:x}-{i:08d}"
        fn = r.integers(0, 8, rows_per_file)
        ln = r.integers(0, 8, rows_per_file)
        ages = r.integers(20, 66, rows_per_file)
        days = r.integers(0, 1826, rows_per_file)
        sal = r.uniform(30000, 120000, rows_per_file)
        act = r.integers(0, 2, rows_per_file)
        dep = r.integers(0, 5, rows_per_file)
        for k in range(rows_per_file):
            row = [k + 1, fid, first[fn[k]], last[ln[k]], f"{first[fn[k]]}.{last[ln[k]]}@x.io",
                   int(ages[k]), (datetime(2020, 1, 1) + timedelta(days=int(days[k]))).date().isoformat(),
                   f"{sal[k]:.2f}", ("True", "False")[act[k]], depts[dep[k]]]
            w.writerow(row)
            rows_out.append(",".join(str(c) for c in row))
        data = buf.getvalue().encode()
        with open(os.path.join(_fanout(root, i), f"e{i:08d}.csv"), "wb") as f:
            f.write(data)
        size += len(data)
    return {"records": rows_out, "bytes": size, "files": n_files}
