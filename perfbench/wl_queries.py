"""``query_suite``: declared headline queries into the ``noop`` sink.

Closed loop, one client. A cold pass first collects every query's
result and checks it against its DuckDB oracle (untimed, three queries
at a time); then timed
passes run the suite interleaved, each pass in a seed-shuffled order,
until the part's time is up (at least one pass).
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
from harness import geomean, median

#: scale factor of the generated tables (lineitem = 6M x SF rows)
SF = 0.01

#: the headline queries this part times: 7 of the 31, chosen so a cold
#: checked pass plus a timed pass fit one run on 4 cores. One of the four
#: ``io.eager_pool`` call sites is here (q26). On a slow 4-core host a
#: cold checked pass plus a timed pass cost 12 s for q24 (the other
#: pool site with a cheap oracle), 7.5 s for q18 and 17-25 s for q55 or
#: q60, against 28 s for these seven together. Relational, join, window,
#: time-window, scalar-function and pandas-UDF plans keep one entry each.
SUITE = [
    "q03_hash_agg",
    "q05_multiway_join_topk",
    "q08_window_rank",
    "q13_scalar_map_funcs",
    "q14_time_windows",
    "q26_simhash_neardup",
    "q52_pandas_udf_zscore",
]

#: entries that round a float sum to cents. On generated data such a sum
#: can land on a half-cent tie that Spark and DuckDB, summing in different
#: orders, round apart (seen for q05 on 2 of 15 seeds). Their rows are
#: matched on the other columns, which must agree exactly and identify a
#: row, and each row's float columns must agree to within one cent.
CENT_ROUNDED = {"q05_multiway_join_topk"}
CENT = 0.01 + 1e-9
#: queries checked at once in the cold pass. Two leave the curation
#: warm-up beside it more of the cores than three did, so the two
#: warm-ups end sooner together.
CHECK_THREADS = 2


def _within_a_cent(got, want) -> list[str]:
    floats = [c for c in want.columns if want[c].dtype.kind == "f"]
    keys = [c for c in want.columns if c not in floats]
    # render keys alike on both sides (Spark and DuckDB type dates apart)
    g = got.assign(**{k: got[k].astype(str) for k in keys})
    w = want.assign(**{k: want[k].astype(str) for k in keys})
    if g.duplicated(keys).any() or w.duplicated(keys).any():
        return [f"key columns {keys} do not identify a row"]
    m = w.merge(g, on=keys, how="outer", suffixes=("_want", "_got"), indicator=True)
    unmatched = int((m["_merge"] != "both").sum())
    if unmatched:
        return [f"{unmatched} rows have no row with the same {keys} on the other side"]
    problems = []
    for c in floats:
        bad = ~((m[f"{c}_got"] - m[f"{c}_want"]).abs() <= CENT)
        if bad.any():
            problems.append(f"column {c!r} differs by more than a cent on {int(bad.sum())} rows")
    return problems


def _check(spark, name: str, tables: str, want) -> list[str]:
    from lakeflush_spark.plans import QUERIES
    from lakeflush_spark.testing import compare_frames

    try:
        got = QUERIES[name].builder(spark, tables).toPandas()
    except Exception as exc:  # noqa: BLE001 - counted, reported
        return [f"{name}: {type(exc).__name__}: {exc}"]
    problems = compare_frames(got, want)
    if problems and name in CENT_ROUNDED and len(got) == len(want) \
            and sorted(got.columns) == sorted(want.columns):
        problems = _within_a_cent(got, want)
    return [f"{name}: {p}" for p in problems]


def warm(ctx) -> dict:
    """The tables, and the cold pass that checks every query against its
    oracle, a few queries at a time: it is untimed, and mostly driver
    time that one thread would leave the other cores idle through."""
    from lakeflush_spark.plans import QUERIES
    from lakeflush_spark.testing import duckdb_connection

    tables = os.path.join(ctx.work, "tables")
    rows = datagen.make_tables(tables, ctx.seed, SF)
    con = duckdb_connection(tables)
    wants = {name: con.execute(QUERIES[name].oracle).fetchdf() for name in SUITE}
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        bad = list(pool.map(lambda n: _check(ctx.spark, n, tables, wants[n]), SUITE))
    return {"tables": tables, "rows": rows, "problems": [p for b in bad for p in b],
            "failed": sum(1 for b in bad if b)}


def run(ctx, state: dict) -> dict:
    from lakeflush_spark.plans import QUERIES

    spark, spans, tables = ctx.spark, ctx.spans, state["tables"]
    problems, failed = state["problems"], state["failed"]
    attempted = len(SUITE)

    rng = random.Random(ctx.seed)
    samples: dict[str, list[float]] = {q: [] for q in SUITE}
    passes = 0
    deadline = time.perf_counter() + ctx.seconds
    while passes < 1 or time.perf_counter() < deadline:
        for name in rng.sample(SUITE, len(SUITE)):
            attempted += 1
            t0 = time.perf_counter()
            try:
                with spans.span(f"plans.{name}", layer="plans", query=name):
                    QUERIES[name].builder(spark, tables).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - counted, reported
                failed += 1
                problems.append(f"{name}: {type(exc).__name__}: {exc}")
                continue
            samples[name].append(time.perf_counter() - t0)
        passes += 1

    med = {q: median(v) for q, v in samples.items() if v}
    details = {
        "query_geomean_s": (geomean(med.values()), "s"),
        "query_suite_s": (sum(med.values()), "s"),
        "passes": (passes, "count"),
    }
    for q, v in med.items():
        details[f"query.{q}_s"] = (v, "s")
    return {
        "latency_s": sum(med.values()),
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "details": details,
        "passes": passes,
        "inputs": {"sf": SF, "rows": state["rows"]},
    }
