"""Open-loop load generator: a separate single-threaded process that
writes messages into the rapid's source directory on a fixed schedule,
whether or not the rapid keeps up.

Every message is an ``@behov`` need of one of three types. Need ``j`` is
due at ``start + j / rate`` and carries that time as ``sched_ts``. Every
``tick`` seconds the generator writes the needs that fell due during the
tick as one file: first under a temporary name outside the source
directory, then renamed into it, so the file source never lists a
half-written file.

    python3 perfbench/generator.py --out DIR --tmp DIR --manifest FILE \
        --rate 500 --tick 0.25 --start EPOCH --seconds 19 --seed 1

On exit it writes the manifest: each need as (id, type, sched_ts), and
how late each file landed after its due time.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

NEED_TYPES = ("identity", "address", "income")


def schedule(rate: float, tick: float, start: float, seconds: float) -> list[tuple[float, int, int]]:
    """(due time, first message index, end index) per file: the messages
    whose scheduled time falls in each tick of the run."""
    files = []
    n_ticks = int(round(seconds / tick))
    for k in range(n_ticks):
        lo = int(-(-(k * tick * rate) // 1))  # ceil: first message due in this tick
        hi = int(-(-((k + 1) * tick * rate) // 1))
        files.append((start + (k + 1) * tick, lo, hi))
    return files


def need_message(seed: int, j: int, need: str, sched_ts: float, user: int) -> str:
    return json.dumps(
        {
            "@event_name": "behov",
            "@id": f"need-{seed}-{j}",
            "@behovId": f"behov-{seed}-{j}",
            "@behov": [need],
            "@opprettet": datetime.fromtimestamp(sched_ts, timezone.utc).isoformat(),
            "user_id": user,
            "sched_ts": sched_ts,
        },
        ensure_ascii=False,
        separators=(",", ":"),
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="open-loop message generator")
    p.add_argument("--out", required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--tick", type=float, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)

    rng = random.Random(args.seed)
    needs: list[list] = []
    lateness: list[float] = []
    for due, lo, hi in schedule(args.rate, args.tick, args.start, args.seconds):
        lines = []
        for j in range(lo, hi):
            sched_ts = args.start + j / args.rate
            need = rng.choice(NEED_TYPES)
            lines.append(need_message(args.seed, j, need, sched_ts, rng.randrange(150)))
            needs.append([f"need-{args.seed}-{j}", need, sched_ts])
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"tick-{int(round((due - args.start) / args.tick)):05d}.json"
        tmp = os.path.join(args.tmp, name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(args.out, name))
        lateness.append(time.time() - due)
    tmp = os.path.join(args.tmp, "manifest.json")
    with open(tmp, "w") as f:
        json.dump({"needs": needs, "lateness": lateness}, f)
    os.rename(tmp, args.manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
