"""Open-loop envelope generator for the streaming workload.

Runs as its own process with one thread.  Every ``tick`` seconds, on a fixed
schedule that does not slow when the consumer does, it writes one envelope
parquet file atomically (temp file + rename) holding ``rate * tick`` new
records plus the acks that fall due.  Each record is stamped with the wall
time its file was written.  The log it leaves (one JSON object per file:
due time, creation time, per-shard seq ranges, row count) is what the
benchmark joins with the consumer's commit log to get checkpoint latency.

    python3 perfbench/generator.py --dir D --log L --seed N --rate R \
        --tick T --duration S --start-at EPOCH --state STATE_JSON
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fixtures import RecordSource, envelope_table, write_atomic  # noqa: E402


def run(args: argparse.Namespace) -> None:
    with open(args.state) as f:
        state = json.load(f)
    src = RecordSource(args.seed, len(state["next_seq"]), state["pending_share"], state["ack_delay"])
    src.next_seq[:] = state["next_seq"]
    per_tick = int(round(args.rate * args.tick))
    n_ticks = int(round(args.duration / args.tick))
    log = []
    for k in range(n_ticks + 1):
        due = args.start_at + k * args.tick
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if k < n_ticks:
            shard, seq, pending, ranges = src.batch(per_tick)
        else:  # closing file: every ack still outstanding, no new records
            shard, seq, pending = src.flush_acks()
            ranges = {}
        created = time.time()
        name = f"live-{k:06d}.parquet"
        write_atomic(envelope_table(shard, seq, pending, created), args.dir, name)
        log.append({"file": name, "due": due, "created": created, "rows": len(seq), "ranges": ranges})
    with open(args.log, "w") as f:
        json.dump({"files": log, "last_seq": (src.next_seq - 1).tolist()}, f)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--dir", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--tick", type=float, required=True)
    p.add_argument("--duration", type=float, required=True)
    p.add_argument("--start-at", type=float, required=True)
    p.add_argument("--state", required=True)
    run(p.parse_args())


if __name__ == "__main__":
    main()
