"""Open-loop file generator for ``stream_compact``.

    python3 streamgen.py --src DIR --stage DIR --seed N --start EPOCH
                         --phase lo:RATE:SECONDS --phase hi:RATE:SECONDS
                         --lines K --report FILE

Drops small JSON-lines files into ``--src`` on a seeded Poisson
schedule conditioned on its count (``rate x seconds`` files per phase at
independent uniform times), one phase after another, starting at
wall-clock ``--start``.
Each file is written under ``--stage`` (same filesystem) and renamed
into place, so the stream never lists a partial file. Every record
carries its file number, line number, phase and scheduled arrival.
The report lists, per file, when it was due and when it landed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time


def schedule(seed: int, phases: list[tuple[str, float, float]], start: float) -> list[tuple[str, float]]:
    """``(phase, due epoch s)`` per file, phases back to back from
    ``start``. Fixing each phase's count keeps the offered load equal
    across seeds; the arrival times stay those of a Poisson process."""
    rng = random.Random(seed)
    out, t0 = [], start
    for name, rate, secs in phases:
        out += [(name, t) for t in sorted(t0 + rng.uniform(0, secs) for _ in range(round(rate * secs)))]
        t0 += secs
    return out


def record(seed: int, f: int, line: int, phase: str, due: float) -> str:
    return json.dumps({"s": seed, "f": f, "l": line, "p": phase, "due": round(due, 6),
                       "v": f"{(f * 7919 + line * 104729 + seed) % 1000003:07d}" * 4},
                      separators=(",", ":"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--phase", action="append", required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--first", type=int, default=0, help="number of the first file")
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    phases = [(p, float(r), float(s)) for p, r, s in (x.split(":") for x in a.phase)]
    landed = []
    for i, (phase, due) in enumerate(schedule(a.seed, phases, a.start)):
        f = a.first + i
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.stage, f"f{f:07d}.json")
        with open(tmp, "w") as fh:
            fh.write("\n".join(record(a.seed, f, k, phase, due) for k in range(a.lines)) + "\n")
        os.rename(tmp, os.path.join(a.src, f"f{f:07d}.json"))
        landed.append({"f": f, "p": phase, "due": due, "at": time.time()})
    with open(a.report, "w") as fh:
        json.dump(landed, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
