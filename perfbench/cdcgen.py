"""Open-loop change generator for the cdc_tail workload, run as its own
process. Appends one parquet change file per tick, on a fixed schedule
of rates, whether or not the engine keeps up.

Each row is insert/update/delete over a fixed key space with
Zipf-skewed keys; a stated share carry an event time older than rows
already written (out of order). ``created`` is the file's due time as
microseconds since the schedule's start, so the bytes depend only on
the seed; the log maps each file to its wall-clock due and write time.

Usage: python3 cdcgen.py <json-config>
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_TS0_US = 1_704_067_200_000_000  # 2024-01-01, the event-time origin
OPS = np.array(["insert", "update", "delete"])
OP_P = [0.3, 0.55, 0.15]


def change_table(rng, first_seq: int, n: int, offset_us: int, cfg: dict) -> pa.Table:
    keys = (rng.zipf(cfg["zipf_a"], n) - 1) % cfg["keys"]
    late = rng.random(n) < cfg["ooo_share"]
    shift = np.where(late, rng.integers(500_000, cfg["ooo_max_us"], n), 0)
    return pa.table({
        "key": keys.astype(np.int64),
        "op": OPS[rng.choice(3, n, p=OP_P)],
        "ts": pa.array(_TS0_US + offset_us - shift, type=pa.timestamp("us")),
        "val": np.round(rng.uniform(0.0, 1000.0, n), 3),
        "seq": np.arange(first_seq, first_seq + n, dtype=np.int64),
        "created": np.full(n, offset_us, dtype=np.int64),
    })


def schedule(cfg: dict):
    """(file index, offset seconds, rows, rate, phase) for every tick."""
    k, t = 0, 0.0
    for rate, seconds, phase in cfg["steps"]:
        for _ in range(int(round(seconds / cfg["tick"]))):
            yield k, t, max(int(round(rate * cfg["tick"])), 1), rate, phase
            k += 1
            t += cfg["tick"]


def main(cfg: dict) -> None:
    rng = np.random.default_rng(cfg["seed"])
    out, t0 = cfg["out"], cfg["start"]
    seq = cfg.get("first_seq", 0)
    with open(cfg["log"], "w") as log:
        for k, offset, rows, rate, phase in schedule(cfg):
            table = change_table(rng, seq, rows, int(round(offset * 1e6)), cfg)
            seq += rows
            due = t0 + offset
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"chg-{k:06d}.parquet"
            tmp = os.path.join(out, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(out, name))
            log.write(json.dumps({"file": name, "due": due, "written": time.time(),
                                  "rows": rows, "rate": rate, "phase": phase}) + "\n")
            log.flush()


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
