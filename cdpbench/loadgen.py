"""Open-loop file generator for ``stream_freshness``, run as its own process.

Writes one JSON-lines staging file every ``--period`` seconds, starting at
``--start`` (epoch seconds), whether or not the engine keeps up. A file is
written under a hidden name and renamed into place at its due time; the
name carries the due time in nanoseconds (``f-<seq>-<due_ns>.json``). On
exit it prints one JSON line: how late each file was renamed into place.

    python3 cdpbench/loadgen.py --dir IN --seed 1 --rate 2000 --period 0.1 \
        --start 1700000000.0 --count 200
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdpbench import gen  # noqa: E402

FIRST_STREAM_BATCH = 1  # batch 0 of the seed's source is the schema sample


def file_name(seq: int, due_ns: int) -> str:
    return f"f-{seq:06d}-{due_ns}.json"


def due_of(name: str) -> float:
    """Due time (epoch seconds) encoded in a generated file name."""
    return int(name.rsplit("-", 1)[1].split(".")[0]) / 1e9


def stream_batches(seed: int, events_per_file: int, period: float):
    """The seed's event source: batch 0 is the schema sample, then one
    batch per file."""
    src = gen.EventSource(seed, gen.WAREHOUSE_MIX)
    yield src.batch(2_000, 60)
    while True:
        yield src.batch(events_per_file, period)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="events per second")
    ap.add_argument("--period", type=float, required=True, help="seconds between files")
    ap.add_argument("--start", type=float, required=True, help="due time of file 0, epoch seconds")
    ap.add_argument("--count", type=int, required=True)
    a = ap.parse_args(argv)
    batches = stream_batches(a.seed, round(a.rate * a.period), a.period)
    next(batches)
    late = []
    for seq in range(a.count):
        lines = gen.json_lines(next(batches))
        due = a.start + seq * a.period
        tmp = os.path.join(a.dir, f".tmp-{seq:06d}")
        gen.write_json_lines(lines, tmp)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(tmp, os.path.join(a.dir, file_name(seq, round(due * 1e9))))
        late.append(max(0.0, time.time() - due))
    print(json.dumps({"files": a.count, "late_s": late}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
