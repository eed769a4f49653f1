"""Per-layer metrics of the traced run.

Every traced run reports every ``per_layer`` metric of BENCHMARK.json,
which names them with their units and directions; a layer its workload
does not exercise reads 0, which is the prediction for that pairing.
METRICS.md maps each layer to the end-to-end metrics it should move.
"""

from __future__ import annotations

import json
import os

from harness import median
from wl_queries import SUITE

HERE = os.path.dirname(os.path.abspath(__file__))

KINDS = ("json", "csv", "gzip")
COMPACTION_FIELDS = ("jobs", "driver_s", "executor_cpu_s", "input_bytes_ratio",
                     "shuffle_write_bytes", "write_tasks", "task_skew")


def _spec() -> list[tuple[str, str]]:
    """``(name, unit)`` of every per-layer metric, from the manifest."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(folded: list[dict], parts: dict, get_spark_s: float) -> dict:
    """Fold the traced spans into ``{name: (value, unit)}`` over the
    manifest's per-layer metrics; ``parts`` maps each part run to its
    result."""
    vals: dict[str, float] = {"session.get_spark_s": get_spark_s}
    by = {}
    for sp in folded:
        by.setdefault(sp["name"], []).append(sp)

    for k in KINDS:
        calls = by.get(f"compat.collect.{k}", [])
        if not calls:
            continue
        vals[f"compat.collect_s.{k}"] = median([c["wall_s"] for c in calls])
        lake_bytes = parts["lake_compact"]["inputs"]["json" if k == "json" else "csv"]["bytes"]
        for f in COMPACTION_FIELDS:
            if f == "input_bytes_ratio":
                v = _mean(c["input_bytes"] for c in calls) / lake_bytes
            elif f == "task_skew":
                v = median([c["task_skew"] for c in calls])
            else:
                v = _mean(c[f] for c in calls)
            vals[f"compaction.{k}.{f}"] = v
    if by.get("compat.flush"):
        vals["compat.flush_s"] = median([c["wall_s"] for c in by["compat.flush"]])

    plan_spans = [sp for sp in folded if sp.get("layer") == "plans"]
    if plan_spans:
        passes = max(1, parts["query_suite"]["passes"])
        for q in SUITE:
            short = q.split("_", 1)[0]
            mine = by.get(f"plans.{q}", [])
            vals[f"plans.{short}.wall_s"] = median([s["wall_s"] for s in mine]) if mine else 0.0
            vals[f"plans.{short}.jobs"] = median([s["jobs"] for s in mine]) if mine else 0.0
            vals[f"plans.{short}.driver_s"] = median([s["driver_s"] for s in mine]) if mine else 0.0
        vals["plans.executor_cpu_s"] = sum(s["executor_cpu_s"] for s in plan_spans) / passes
        vals["plans.gc_s"] = sum(s["gc_s"] for s in plan_spans) / passes
        vals["plans.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in plan_spans) / passes
        vals["plans.spill_bytes"] = sum(s["spill_bytes"] for s in plan_spans) / passes
        vals["io.jobs_concurrent_max.query_suite"] = max(s["jobs_concurrent_max"] for s in plan_spans)

    batches = by.get("stream.batch", [])
    if batches:
        full = [b for b in batches if b["rows"] > 0]
        vals["stream_compact.batches"] = len(batches)
        vals["stream_compact.batch_p50_s"] = median([b["wall_s"] for b in full])
        vals["stream_compact.jobs_per_batch"] = _mean(b["jobs"] for b in full)
        vals["stream_compact.driver_s_per_batch"] = _mean(b["driver_s"] for b in full)
        vals["stream_compact.files_per_batch"] = _mean(b["files"] for b in full)
        vals["stream_compact.empty_batch_ratio"] = 1 - len(full) / len(batches)
    full = by.get("curate.batch", [])
    if full:
        vals["curate.batch_p50_s"] = median([b["wall_s"] for b in full])
        vals["curate.jobs_per_batch"] = _mean(b["jobs"] for b in full)
        vals["curate.driver_s_per_batch"] = _mean(b["driver_s"] for b in full)
        vals["curate.executor_cpu_s_per_batch"] = _mean(b["executor_cpu_s"] for b in full)
        vals["curate.input_bytes_per_batch"] = _mean(b["input_bytes"] for b in full)
        vals["curate.output_bytes_per_batch"] = _mean(b["output_bytes"] for b in full)
        vals["io.jobs_concurrent_max.stream_curate"] = max(b["jobs_concurrent_max"] for b in full)

    return {name: (float(vals.get(name, 0.0)), unit) for name, unit in _spec()}
