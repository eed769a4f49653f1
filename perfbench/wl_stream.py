"""``stream_compact``: the flusher daemon, open loop.

A separate generator process drops seeded small JSON-lines files into
the source on a Poisson schedule, first at a light rate for a quarter of
the run and then at a heavy one, while ``compact_stream(available_now=False,
exactly_once=True)`` delivers them. A file's latency runs from its
scheduled arrival to the commit of the micro-batch that delivered it:
the batch id comes from the ``batch=<id>`` partition holding its
records in the dest, the commit time from the dest's audit row for
that batch.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.dataset as ds

from harness import median, percentile, progress_batches, supported_percentile

LINES = 20
#: files per second. On a shared 4-core host the stream fell behind at
#: 60 files/s in slow periods, and at 30 files/s its latency there
#: climbed from 0.8 s to 1.1-3.8 s as batches queued; the heavy rate is
#: half of that, so latency stays about one to two batch costs.
RATES = {"lo": 4.0, "hi": 15.0}
#: seconds of the warm-up schedule, at the heavy rate. A fresh JVM keeps
#: compiling for a minute or more, and a one-second burst gave the stream
#: only a few batches before the measured schedule; the ten or so paced
#: ones leave it further down that slope. The warm-up runs beside the
#: lake part's, so it costs the run little.
WARM_SECONDS = 4.0


def _gen(ctx, seed: int, start: float, phases, first: int, report: str) -> list[dict]:
    """Run the generator process to completion; returns its report."""
    report = os.path.join(ctx.work, report)
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "streamgen.py"),
           "--src", os.path.join(ctx.work, "src"), "--stage", os.path.join(ctx.work, "stage"),
           "--seed", str(seed), "--start", repr(start), "--lines", str(LINES),
           "--first", str(first), "--report", report]
    for p in phases:
        cmd += ["--phase", ":".join(str(x) for x in p)]
    subprocess.run(cmd, check=True)
    with open(report) as f:
        return json.load(f)


def _delivered(dest: str) -> dict[tuple[int, int], list[int]]:
    """(file, line) -> batch ids of every dest partition holding it."""
    seen: dict[tuple[int, int], list[int]] = {}
    for part in glob.glob(os.path.join(dest, "batch=*", "part-*")):
        batch = int(os.path.basename(os.path.dirname(part)).split("=", 1)[1])
        with open(part) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    seen.setdefault((r["f"], r["l"]), []).append(batch)
    return seen


def _commit_times(dest: str) -> dict[int, float]:
    t = ds.dataset(os.path.join(dest, "_lakeflush_audit_stream"), format="parquet",
                   partitioning="hive").to_table(columns=["batch_id", "flushed_at"])
    ids = t.column("batch_id").to_pylist()
    at = t.column("flushed_at").cast(pa.timestamp("us", tz="UTC")).to_pylist()
    return {int(b): a.timestamp() for b, a in zip(ids, at)}


def _config(work: str):
    from lakeflush_spark.streaming.compaction import StreamCompactionConfig

    return StreamCompactionConfig(source_dir=os.path.join(work, "src"),
                                  dest_dir=os.path.join(work, "dest"),
                                  checkpoint_dir=os.path.join(work, "ckpt"),
                                  max_size_mb=16, exactly_once=True)


def warm(ctx) -> dict:
    """Deliver a warm-up schedule at the heavy rate, then stop the
    stream: left running, its idle triggers would load the host while
    other parts are timed."""
    from lakeflush_spark.streaming.compaction import compact_stream

    for d in ("src", "stage"):
        os.makedirs(os.path.join(ctx.work, d))
    query = compact_stream(ctx.spark, _config(ctx.work), available_now=False)
    try:
        n_warm = len(_gen(ctx, ctx.seed + 10_000, time.time(), [("warm", RATES["hi"], WARM_SECONDS)], 0, "warm.json"))
        query.processAllAvailable()
    finally:
        query.stop()
    return {"n_warm": n_warm}


def run(ctx, state: dict) -> dict:
    from lakeflush_spark.streaming.compaction import compact_stream

    spans, work, n_warm = ctx.spans, ctx.work, state["n_warm"]
    dest = _config(work).dest_dir
    # the heavy phase gets most of the part: its files are most of the
    # median, and more batches steady it
    phases = [("lo", RATES["lo"], ctx.seconds / 4), ("hi", RATES["hi"], ctx.seconds * 3 / 4)]

    problems, attempted, failed = [], 0, 0
    t_measure = time.time() * 1000
    query = compact_stream(ctx.spark, _config(work), available_now=False)
    try:
        # the schedule starts once the restarted stream is up
        query.processAllAvailable()
        start = time.time() + 0.5
        landed = _gen(ctx, ctx.seed, start, phases, n_warm, "gen.json")
        query.processAllAvailable()
        batches = progress_batches(query)
    finally:
        query.stop()

    seen = _delivered(dest)
    commits = _commit_times(dest)
    lat: dict[str, list[float]] = {"lo": [], "hi": []}
    for rec in landed:
        attempted += 1
        batch_ids = {b for k in range(LINES) for b in seen.get((rec["f"], k), [])}
        copies = [len(seen.get((rec["f"], k), [])) for k in range(LINES)]
        if copies != [1] * LINES or len(batch_ids) != 1:
            failed += 1
            if len(problems) < 20:
                problems.append(f"file {rec['f']}: record copies {sorted(set(copies))}, batches {sorted(batch_ids)}")
            continue
        lat[rec["p"]].append(commits[batch_ids.pop()] - rec["due"])
    expected = {(f, k) for f in [*range(n_warm), *(r["f"] for r in landed)] for k in range(LINES)}
    wrong = sum(1 for k in expected if len(seen.get(k, [])) != 1) + len(seen.keys() - expected)
    attempted += 1  # the whole-dest check
    if wrong:
        problems.append(f"{wrong} records missing, repeated or never generated (warm-up included)")
        failed += 1

    late = [r["at"] - r["due"] for r in landed]
    every = lat["lo"] + lat["hi"]
    details = {}
    for p in ("lo", "hi"):
        q = supported_percentile(len(lat[p]))
        details[f"flush_p50_s_{p}"] = (median(lat[p]), "s")
        details[f"flush_tail_s_{p}"] = (percentile(lat[p], q), "s")
        details[f"flush_tail_q_{p}"] = (q, "percentile")
        details[f"files_{p}"] = (len(lat[p]), "count")
        details[f"rate_{p}"] = (RATES[p], "1/s")
    details["generator_late_p50_s"] = (median(late), "s")
    details["generator_late_max_s"] = (max(late) if late else 0.0, "s")
    measured = [b for b in batches if b["start"] >= t_measure]
    for b in measured:
        spans.items.append({"name": "stream.batch", "layer": "stream_batch", "start": b["start"],
                            "end": b["end"], "rows": b["rows"], "files": b["rows"] / LINES})
    # what the stream sets, not the schedule: records per second it spent
    # running non-empty batches
    busy_s = sum(b["end"] - b["start"] for b in measured if b["rows"]) / 1000
    details["stream_records_per_busy_s"] = (len(every) * LINES / busy_s if busy_s else 0.0, "1/s")
    return {
        "latency_s": median(every),
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "details": details,
        "inputs": {"files": len(landed), "warm_files": n_warm, "lines_per_file": LINES},
    }
