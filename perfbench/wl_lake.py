"""``lake_compact``: the paper's own pipeline, closed loop, one client.

Each round collects three seeded lakes with
``LocalLakeCollector.start`` and delivers the bundles with
``LocalLakeFlusher.poll_once``: tiny JSON files (listing bound), CSV
files with headers (byte bound) and the same CSV written as gzip
bundles (codec bound).
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import math
import os
import shutil
import time

import datagen
from harness import median

#: collector rotation size; small enough that gzip yields several bundles
MAX_SIZE_MB = 1
JSON_FILES = 2000
CSV_FILES, CSV_ROWS = 120, 800
WARM_SCALE = 0.1
#: (kind, source lake) per collect+deliver call of a round
KINDS = [("json", "json"), ("csv", "csv"), ("gzip", "csv")]


def _digest(lines) -> tuple[int, str]:
    """Count and order-insensitive hash of a record multiset."""
    acc = 0
    n = 0
    for ln in lines:
        acc = (acc + int.from_bytes(hashlib.blake2b(ln.encode(), digest_size=8).digest(), "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def _read_bundle(path: str) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return f.read().splitlines()


def _make_lakes(root: str, seed: int, scale: float) -> dict:
    return {
        "json": datagen.json_lake(os.path.join(root, "json"), seed, max(10, int(JSON_FILES * scale))),
        "csv": datagen.csv_lake(os.path.join(root, "csv"), seed, max(4, int(CSV_FILES * scale)), CSV_ROWS),
    }


def _compact_once(spans, work: str, lake_dir: str, kind: str, tag: str) -> tuple[float, list[str]]:
    """Collect and deliver one lake, in spans unless ``spans`` is None;
    returns (seconds, delivered paths)."""
    from lakeflush_spark.compat.collectors import LocalLakeCollector
    from lakeflush_spark.compat.flushers import LocalLakeFlusher

    coll_dir = os.path.join(work, f"coll-{tag}")
    dest = os.path.join(work, f"dest-{tag}")
    os.makedirs(coll_dir)
    os.makedirs(dest)
    file_type = "json" if kind == "json" else "csv"
    span = spans.span if spans else (lambda *a, **k: contextlib.nullcontext())
    t0 = time.perf_counter()
    with span(f"compat.collect.{kind}", layer="compat", kind=kind):
        collector = LocalLakeCollector(
            lake_dir, file_type=file_type, csv_header=file_type == "csv",
            filepath=coll_dir, filename="bench", max_size_mb=MAX_SIZE_MB,
            max_time_mins=60, compress=kind == "gzip",
        )
        collector.start()
    with span("compat.flush", layer="compat", kind=kind):
        LocalLakeFlusher(dest, coll_dir, "bench").poll_once()
    dt = time.perf_counter() - t0
    delivered = sorted(os.path.join(dest, f) for f in os.listdir(dest))
    return dt, delivered


def _check(kind: str, lake: dict, delivered: list[str], want: tuple) -> tuple[list[str], int, int]:
    """Every source record delivered exactly once; one header per CSV
    bundle; gzip bundles decompress. Returns (problems, bundles, bytes)."""
    problems, records = [], []
    for p in delivered:
        try:
            lines = _read_bundle(p)
        except (OSError, EOFError) as exc:
            problems.append(f"{kind}: bundle {os.path.basename(p)} unreadable: {exc}")
            continue
        if kind != "json":
            if not lines or lines[0] != ",".join(datagen.CSV_HEADER):
                problems.append(f"{kind}: bundle {os.path.basename(p)} does not start with the header")
            body = lines[1:]
            if any(ln == lines[0] for ln in body):
                problems.append(f"{kind}: bundle {os.path.basename(p)} repeats the header")
            lines = body
        records.extend(ln for ln in lines if ln)
    got = _digest(records)
    if got != want:
        problems.append(f"{kind}: delivered {got[0]} records (hash {got[1]}), source has {want[0]} ({want[1]})")
    size = sum(os.path.getsize(p) for p in delivered)
    return problems, len(delivered), size


def warm(ctx) -> dict:
    """The lakes, and an untimed round over smaller ones."""
    work, seed = ctx.work, ctx.seed
    lakes = _make_lakes(os.path.join(work, "lakes"), seed, 1.0)
    _make_lakes(os.path.join(work, "warm"), seed + 1, WARM_SCALE)
    for kind, src in KINDS:
        _compact_once(None, os.path.join(work, "warmout"), os.path.join(work, "warm", src), kind, f"w-{kind}")
    shutil.rmtree(os.path.join(work, "warmout"), ignore_errors=True)
    return {"lakes": lakes}


def run(ctx, state: dict) -> dict:
    spans, work, lakes = ctx.spans, ctx.work, state["lakes"]
    want = {k: _digest(v["records"]) for k, v in lakes.items()}
    kinds = KINDS

    times: dict[str, list[float]] = {k: [] for k, _ in kinds}
    problems, attempted, failed = [], 0, 0
    bundles: dict[str, list[int]] = {k: [] for k, _ in kinds}
    out_bytes: dict[str, list[int]] = {k: [] for k, _ in kinds}
    deadline = time.perf_counter() + ctx.seconds
    r = 0
    while r < 2 or time.perf_counter() < deadline:
        rwork = os.path.join(work, f"round{r}")
        for kind, src in kinds:
            attempted += 1
            try:
                dt, delivered = _compact_once(spans, rwork, os.path.join(work, "lakes", src), kind, kind)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                failed += 1
                problems.append(f"{kind}: {type(exc).__name__}: {exc}")
                continue
            bad, n_bundles, size = _check(kind, lakes[src], delivered, want[src])
            if bad:
                failed += 1
                problems.extend(bad)
            times[kind].append(dt)
            bundles[kind].append(n_bundles)
            out_bytes[kind].append(size)
        shutil.rmtree(rwork, ignore_errors=True)
        r += 1

    target = MAX_SIZE_MB * 1024 * 1024
    ideal = {k: math.ceil(median(out_bytes[k]) / target) for k, _ in kinds if out_bytes[k]}
    excess = {k: median(bundles[k]) / ideal[k] for k in ideal}
    records = sum(len(lakes[src]["records"]) for _, src in kinds)
    # one round at each kind's median: a slow call moves one sample, not the figure
    round_s = sum(median(times[k]) for k, _ in kinds)
    details = {
        "compact_json_files_s": (lakes["json"]["files"] / median(times["json"]), "1/s"),
        "compact_csv_mb_s": (lakes["csv"]["bytes"] / 1e6 / median(times["csv"]), "MB/s"),
        "compact_gzip_mb_s": (lakes["csv"]["bytes"] / 1e6 / median(times["gzip"]), "MB/s"),
        "bundle_count_excess": (sum(median(bundles[k]) for k in ideal) / sum(ideal.values()), "ratio"),
        "rounds": (r, "count"),
    }
    for k in ideal:
        details[f"bundle_count_excess.{k}"] = (excess[k], "ratio")
    details["compact_records_s"] = (records / round_s, "1/s")
    return {
        "latency_s": round_s,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "details": details,
        "inputs": {k: {"files": v["files"], "bytes": v["bytes"]} for k, v in lakes.items()},
    }
