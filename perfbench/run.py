"""Same-host benchmark for lakeflush_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The program is driven only
through its public functions (``session.get_spark``, the compat
collector/flusher, ``plans.QUERIES``, ``streaming.compaction`` and
``streaming.curation``); every number is timed around those calls.

A workload runs two parts in one session, a closed-loop batch part and
a streaming part: ``compaction`` is ``lake_compact`` then
``stream_compact``, ``query_curate`` is ``query_suite`` then
``stream_curate``. ``batch_s`` is the batch part's latency,
``stream_s`` the streaming part's (see METRICS.md).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log, folds it into the harness spans and prints the
per-layer metrics. The last stdout line is the result object; the line
before it carries every part's detail metrics, the resolved host
posture and any correctness problems.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: workload -> its two parts (part name -> module), timed in this order
#: in one session after their warm-ups.
WORKLOADS = {
    "compaction": {"lake_compact": "wl_lake", "stream_compact": "wl_stream"},
    "query_curate": {"query_suite": "wl_queries", "stream_curate": "wl_curate"},
}
#: the gated figure each part's latency is
ROLE = {"lake_compact": "batch_s", "stream_compact": "stream_s",
        "query_suite": "batch_s", "stream_curate": "stream_s"}
#: share of ``--seconds`` each part measures for
SHARE = {"lake_compact": 0.2, "stream_compact": 0.8, "query_suite": 0.4, "stream_curate": 0.6}
#: fresh-JVM ``get_spark`` calls per run; ``setup_s`` is their median
SETUP_SAMPLES = 3
#: the timed figures a traced run is compared on
TIMED = ("batch_s", "stream_s")


def _end_to_end() -> dict:
    """Gated metric name -> unit, from the manifest."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}


@dataclass
class Context:
    """What a part gets: the session, its seed and share of the run's
    seconds, a scratch dir and the span recorder."""

    spark: object
    spans: object
    seed: int
    seconds: float
    work: str


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lakeflush_spark", "session.py")):
        print(f"no lakeflush_spark package under {root}; run from a source checkout",
              file=sys.stderr)
        return 2

    import harness
    import layers

    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    posture = harness.resolve_posture(root, work)
    os.chdir(work)  # cwd-relative droppings (warehouse, sidecars) stay in work

    # the streams read every batch's progress back, so keep all of them
    base_conf = {"spark.ui.showConsoleProgress": "false",
                 "spark.sql.streaming.numRecentProgressUpdates": "100000"}
    extra_conf = base_conf
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra_conf = {
            **base_conf,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }

    spans = harness.Spans()
    spark = None
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_run = time.perf_counter()
    try:
        setup = []
        for _ in range(SETUP_SAMPLES - 1):
            spark, dt = harness.start_session(f"perfbench-{args.workload}", base_conf)
            setup.append(dt)
            harness.stop_session(spark)
        spark, dt = harness.start_session(f"perfbench-{args.workload}", extra_conf)
        setup.append(dt)
        spans.spark = spark
        posture.update(harness.versions(spark))
        mods, ctxs = {}, {}
        for part, module in WORKLOADS[args.workload].items():
            mods[part] = importlib.import_module(module)
            ctxs[part] = Context(spark, spans, args.seed, args.seconds * SHARE[part],
                                 os.path.join(work, part))
            os.makedirs(ctxs[part].work)
        wall = {"setup": time.perf_counter() - t_run}
        # the parts' untimed warm-ups (inputs, cold passes, the correctness
        # check of the query suite) overlap; then each part is timed alone
        t0 = time.perf_counter()
        with ThreadPoolExecutor(len(mods)) as pool:
            pending = {p: pool.submit(m.warm, ctxs[p]) for p, m in mods.items()}
            states = {p: f.result() for p, f in pending.items()}
        wall["warm"] = time.perf_counter() - t0
        parts = {}
        for part, mod in mods.items():
            t0 = time.perf_counter()
            parts[part] = mod.run(ctxs[part], states[part])
            wall[part] = time.perf_counter() - t0
            spans.boundary()
        py_mb, jvm_mb = harness.py_hwm_mb(), max(spans.mem_mb)
        harness.stop_session(spark)
        spark = None

        attempted = sum(r["attempted"] for r in parts.values())
        failed = sum(r["failed"] for r in parts.values())
        values = {"setup_s": harness.median(setup), "peak_mem_mb": py_mb + jvm_mb,
                  **{ROLE[p]: r["latency_s"] for p, r in parts.items()}}
        e2e = {k: (values[k], u) for k, u in _end_to_end().items()}
        details = {
            **e2e,
            **{k: v for r in parts.values() for k, v in r["details"].items()},
            "failed_ratio": (failed / attempted, "ratio"),
            "setup_samples_s": ([round(s, 4) for s in setup], "s"),
            "py_hwm_mb": (py_mb, "MB"),
            "jvm_old_gen_mb": (jvm_mb, "MB"),
            # where the run's wall time went, set-up sessions included
            "wall_s": ({k: round(v, 2) for k, v in wall.items()}, "s"),
        }
        if args.trace:
            folded = _fold(log_dir, spans.items)
            metrics = layers.per_layer(folded, parts, setup[-1])
        else:
            metrics = e2e
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "posture": posture,
            "inputs": {p: r.get("inputs") for p, r in parts.items()},
            "attempted": attempted, "failed": failed,
            "problems": [f"{p}: {x}" for p, r in parts.items() for x in r["problems"]][:50],
            "details": {k: {"value": v, "unit": u} for k, (v, u) in details.items()},
        }
        _report_overhead(root, state, record, values)
        print(json.dumps(record, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)


def _fold(log_dir: str, spans: list[dict]) -> list[dict]:
    import fold

    jobs, tasks = fold.load_event_log(log_dir)
    return fold.fold(spans, jobs, tasks)


def _code_id(root: str) -> str:
    """Fingerprint of the program and benchmark sources: runs of the
    same code share it."""
    h = hashlib.sha1()
    files = glob.glob(os.path.join(root, "lakeflush_spark", "**", "*.py"), recursive=True)
    for path in sorted(files + glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _report_overhead(root: str, state: str, record: dict, values: dict) -> None:
    """Keep each run's timed figures. A traced run reports its overhead
    against the untraced run of the same seed and the same code, and
    calls it unresolved while it lies within the spread of that code's
    untraced runs (IQR over median, four runs or more)."""
    keep = os.path.join(state, "results")
    os.makedirs(keep, exist_ok=True)
    path = os.path.join(keep, f"{record['workload']}.jsonl")
    me = {"code": _code_id(root), "seed": record["seed"], "seconds": record["seconds"],
          "trace": record["trace"], **{k: values[k] for k in TIMED}}
    kept = []
    if os.path.exists(path):
        with open(path) as f:
            kept = [json.loads(line) for line in f]
    with open(path, "a") as f:
        f.write(json.dumps(me) + "\n")
    if not record["trace"]:
        return
    same = [r for r in kept if not r["trace"] and r["code"] == me["code"]
            and r["seconds"] == me["seconds"]]
    base = [r for r in same if r["seed"] == me["seed"]]
    for k in TIMED:
        out = {"unit": "ratio", "traced": me[k]}
        if not base:
            out.update(value=None, resolved=False,
                       why="no untraced run of this seed and code to compare with")
        else:
            out.update(value=me[k] / base[-1][k] - 1.0, untraced=base[-1][k])
            vals = [r[k] for r in same]
            if len(vals) >= 4:
                q = statistics.quantiles(vals, n=4)
                out["untraced_spread"] = (q[2] - q[0]) / statistics.median(vals)
                out["resolved"] = abs(out["value"]) > out["untraced_spread"]
            else:
                out.update(resolved=False, why="fewer than four untraced runs of this code")
        record["details"][f"tracing_overhead.{k}"] = out


if __name__ == "__main__":
    sys.exit(main())
