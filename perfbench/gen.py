"""Seeded, out-of-JVM load generator for the ``bot_stream`` workload.

One process, one thread, pyarrow only: it never touches Spark, so a
stalled engine cannot slow the schedule down.

1. Before the clock starts it derives every chunk from the events table
   by ``--seed`` and writes each one to ``--stage`` as a parquet file.
   The first ``--warm`` chunks are warm-up chunks: the caller publishes
   them itself, one per micro-batch, before the schedule starts.
2. It prints ``ready`` and reads one line from stdin: the
   ``time.monotonic()`` instant ``t0`` at which the schedule starts
   (``CLOCK_MONOTONIC`` is shared by every process on the host).
3. It publishes each remaining chunk into ``--watch`` by atomic rename
   at its scheduled time and never waits for the engine: the paced
   chunks one every ``1/RATE`` seconds from ``t0``, then after ``GAP``
   seconds of silence the whole backlog at once.
4. It writes a JSON report (scheduled and actual publish time of every
   chunk it published, so callers can see how late it ran) to
   ``--report``.

Usage (normally started by ``perfbench/run.py``)::

    python3 perfbench/gen.py --events EVENTS.parquet --stage DIR \
        --watch DIR --report FILE --seed 1 --warm 40 --paced 20 --backlog 60
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK_SIZE = 2000
RATE = 1.0  # paced chunks per second
GAP = 1.0  # seconds of silence between the paced phase and the backlog


def make_chunks(events: pa.Table, seed: int, n_chunks: int, chunk_size: int = CHUNK_SIZE):
    """Yield ``n_chunks`` tables of ``chunk_size`` events each.

    Rows are drawn from ``events`` without replacement inside a chunk;
    chunks may share source rows, so every event gets a fresh
    ``event_id`` (unique across the run) and a ``chunk`` column.
    """
    rng = np.random.default_rng(seed)
    for c in range(n_chunks):
        rows = np.sort(rng.choice(events.num_rows, size=chunk_size, replace=False))
        t = events.take(pa.array(rows))
        ids = pa.array(np.arange(c * chunk_size, (c + 1) * chunk_size, dtype=np.int64))
        t = t.set_column(t.schema.get_field_index("event_id"), "event_id", ids)
        yield t.append_column("chunk", pa.array(np.full(chunk_size, c, dtype=np.int32)))


def chunk_name(c: int) -> str:
    return f"chunk-{c:05d}.parquet"


def write_chunks(events_path: str, stage: str, seed: int, n_chunks: int) -> list[str]:
    """Write every chunk into ``stage``; return their sha256 digests."""
    events = pq.read_table(events_path)
    os.makedirs(stage, exist_ok=True)
    digests = []
    for c, t in enumerate(make_chunks(events, seed, n_chunks)):
        path = os.path.join(stage, chunk_name(c))
        pq.write_table(t, path)
        with open(path, "rb") as f:
            digests.append(hashlib.sha256(f.read()).hexdigest())
    return digests


def schedule(t0: float, paced: int, backlog: int) -> list[float]:
    """Scheduled publish instants, in chunk order: the paced chunks at
    ``RATE`` from ``t0``, the backlog at once ``GAP`` seconds after the
    last paced chunk's slot."""
    return [t0 + i / RATE for i in range(paced)] + [t0 + paced / RATE + GAP] * backlog


def publish(stage: str, watch: str, due: list[float], first: int) -> list[dict]:
    """Rename chunk ``first + i`` from ``stage`` into ``watch`` at ``due[i]``."""
    log = []
    for c, at in enumerate(due, first):
        delay = at - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(stage, chunk_name(c)), os.path.join(watch, chunk_name(c)))
        log.append({"chunk": c, "scheduled": at, "published": time.monotonic(), "wall": time.time()})
    return log


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--events", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--warm", type=int, required=True)
    ap.add_argument("--paced", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    a = ap.parse_args(argv)

    write_chunks(a.events, a.stage, a.seed, a.warm + a.paced + a.backlog)
    print("ready", flush=True)
    line = sys.stdin.readline()
    if not line.strip():
        return 1
    due = schedule(float(line), a.paced, a.backlog)
    log = publish(a.stage, a.watch, due, first=a.warm)
    with open(a.report, "w") as f:
        json.dump({"chunk_size": CHUNK_SIZE, "warm": a.warm, "paced": a.paced, "chunks": log}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
