"""``stream_curate``: the curation stream, closed loop.

Seeded documents joined with their embeddings are split, in seeded
order, into one parquet file per micro-batch. After an untimed warm-up
stream over its own stores, one ``curate_stream`` run with
``max_files_per_trigger=1`` and the semantic stage on curates them;
each batch appends to stores that grow beside its reads.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import median, progress_batches

#: documents per file. A batch is mostly fixed per-batch cost (about 43
#: Spark jobs, two thirds of its time on the driver), so halving the
#: documents from 60 trimmed a batch by under 10% and bought the run its
#: third warm-up file.
DOCS_PER_FILE = 30
#: files of the warm-up stream. A fresh JVM keeps compiling for a minute
#: or more: on a 4-core host a cold stream's batches fell from 5.2 s to
#: about 4.0 s over its first ten and to 3.5 s by its sixteenth. After two
#: warm-up files the measured batches still sat on that slope, and ten
#: seeds' medians spread by up to 0.29 of their median; after three (run
#: beside the query suite's cold pass, which holds the cores too) the
#: batches within a run agree to a few per cent.
WARM_FILES = 3
#: measured files per second of the part's time, and at least five.
#: After the warm-up stream the measured stream's first batch costs what
#: the others do, so every measured batch is timed.
FILES_PER_SECOND = 0.7
MIN_FILES = 5
SEM_DUP_SHARE = 0.05


def _write_files(root: str, seed: int, n_files: int, first_id: int) -> list[int]:
    """``n_files`` parquet files of ``DOCS_PER_FILE`` documents with an
    ``embedding`` column; a share of embeddings are jittered copies of an
    earlier one, so the semantic stage has duplicates to find."""
    os.makedirs(root)
    n = n_files * DOCS_PER_FILE
    texts, _ = datagen.documents(seed, n)
    vecs = datagen.embeddings(seed, n)
    rng = np.random.default_rng([seed, 7])
    for i in np.flatnonzero(rng.random(n) < SEM_DUP_SHARE):
        if i:
            v = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.01, vecs.shape[1]).astype(np.float32)
            vecs[i] = v / np.linalg.norm(v)
    order = rng.permutation(n)
    ids = first_id + np.arange(n, dtype=np.int64)
    for f in range(n_files):
        sel = order[f * DOCS_PER_FILE:(f + 1) * DOCS_PER_FILE]
        pq.write_table(pa.table({
            "doc_id": ids[sel],
            "text": [texts[i] for i in sel],
            "embedding": pa.array([vecs[i] for i in sel], pa.list_(pa.float32())),
        }), os.path.join(root, f"part-{f:04d}.parquet"))
    return ids.tolist()


def _config(root: str, src: str):
    from lakeflush_spark.streaming.curation import CurationStreamConfig

    return CurationStreamConfig(
        source_dir=src,
        dest_dir=os.path.join(root, "dest"),
        digest_dir=os.path.join(root, "digests"),
        sig_dir=os.path.join(root, "sigs"),
        stats_dir=os.path.join(root, "stats"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        min_tokens=1,
        max_files_per_trigger=1,
        embedding_col="embedding",
        sem_vec_dir=os.path.join(root, "semvecs"),
        sem_cent_dir=os.path.join(root, "semcents"),
        sem_threshold=0.95,
    )


def _check(spark, cfg, ids: list[int]) -> list[str]:
    """Every doc counted once in the stats rows; kept docs are source
    docs, each once, and no two kept docs share a digest or a text."""
    from lakeflush_spark.streaming.curation import read_stats

    problems = []
    stats = [r.asDict() for r in read_stats(spark, cfg.stats_dir).collect()]
    n_in = sum(r["n_in"] for r in stats)
    if n_in != len(ids):
        problems.append(f"stats count {n_in} arrivals, {len(ids)} docs were streamed")
    drops = ("n_filtered", "n_lm_filtered", "n_url_dup", "n_exact_dup", "n_near_dup",
             "n_sem_dup", "n_domain_capped", "n_out")
    for r in stats:
        counts = {k: r.get(k) or 0 for k in drops}
        if any(v < 0 for v in counts.values()) or (r.get("n_contaminated") or 0) != 0 \
                or sum(counts.values()) != r["n_in"]:
            problems.append(f"batch {r['batch']}: stage counts do not add up to n_in: {r}")
    kept = spark.read.parquet(cfg.dest_dir).select("doc_id", "text").collect()
    kept_ids = [k.doc_id for k in kept]
    if len(set(kept_ids)) != len(kept_ids):
        problems.append("a kept doc appears more than once")
    if not set(kept_ids) <= set(ids):
        problems.append("a kept doc was never streamed")
    if len(kept) != sum(r["n_out"] for r in stats):
        problems.append(f"{len(kept)} kept docs, stats say {sum(r['n_out'] for r in stats)}")
    texts = {hashlib.md5(k.text.encode()).hexdigest() for k in kept}
    if len(texts) != len(kept):
        problems.append(f"{len(kept) - len(texts)} kept docs repeat another kept doc's text")
    dig = spark.read.parquet(cfg.digest_dir).select("_digest")
    if dig.count() != dig.distinct().count():
        problems.append("two kept docs share a digest")
    return problems


def warm(ctx) -> dict:
    """The documents, and an untimed warm-up stream over its own stores."""
    from lakeflush_spark.streaming.curation import curate_stream

    n_files = max(MIN_FILES, round(ctx.seconds * FILES_PER_SECOND))
    warm_root, root = os.path.join(ctx.work, "warm"), os.path.join(ctx.work, "curate")
    _write_files(os.path.join(warm_root, "src"), ctx.seed + 1, WARM_FILES, 10**9)
    ids = _write_files(os.path.join(root, "src"), ctx.seed, n_files, 0)
    curate_stream(ctx.spark, _config(warm_root, os.path.join(warm_root, "src"))).awaitTermination()
    return {"ids": ids, "n_files": n_files}


def run(ctx, state: dict) -> dict:
    from lakeflush_spark.streaming.curation import curate_stream

    spark, spans, ids, n_files = ctx.spark, ctx.spans, state["ids"], state["n_files"]
    root = os.path.join(ctx.work, "curate")
    cfg = _config(root, os.path.join(root, "src"))
    query = curate_stream(spark, cfg)
    query.awaitTermination()
    batches = [b for b in progress_batches(query) if b["rows"] > 0]

    problems = _check(spark, cfg, ids)
    secs = [(b["end"] - b["start"]) / 1000 for b in batches]
    for b in batches:
        spans.items.append({"name": "curate.batch", "layer": "stream_batch", **b})
    details = {
        "curate_docs_s": (sum(b["rows"] for b in batches) / sum(secs), "1/s"),
        "curate_batch_p50_s": (median(secs), "s"),
        "curate_batches_s": ([round(x, 3) for x in secs], "s"),
        "curate_batches": (len(batches), "count"),
    }
    return {
        "latency_s": median(secs),
        "attempted": len(batches) + 1,
        "failed": 1 if problems else 0,
        "problems": problems,
        "details": details,
        "inputs": {"files": n_files, "docs_per_file": DOCS_PER_FILE, "docs": len(ids)},
    }
