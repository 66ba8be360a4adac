"""Seeded input generation for the benchmark. The fixed tables are
copies of the repo's sf0.01 testdata under `perfbench/tables/`; everything
the run's seed drives (the query order, the TxLog operation sequence, the
streaming batch files) is derived here, and nothing is read outside the
checkout.
"""
import os
import random

import numpy as np
import pyarrow.parquet as pq


def analytic_plan(seed, roster, passes):
    """Whole passes over the roster, each in its own seeded order."""
    rng = random.Random(seed)
    plan = []
    for _ in range(passes):
        p = list(roster)
        rng.shuffle(p)
        plan += p
    return plan


def stream_files(tables_dir, out, seed, batches):
    """Stage the events as one file per batch: time slices with seeded
    boundaries, so arrival is in event-time order as the watermark and the
    funnel's state machine assume."""
    rng = np.random.default_rng(seed)
    ev = pq.read_table(f"{tables_dir}/events.parquet")
    n = ev.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), batches - 1, replace=False))
    os.makedirs(f"{out}/events", exist_ok=True)
    for b, (lo, hi) in enumerate(zip(np.r_[0, cuts], np.r_[cuts, n])):
        p = f"{out}/events/batch-{b:02d}.parquet"
        pq.write_table(ev.slice(lo, hi - lo), p)
        # the file source takes files in modification-time order
        os.utime(p, (1.7e9 + b, 1.7e9 + b))


def dml_plan(seed, rows, cycles, stream_every):
    """The table_ingest operation sequence: `warm` (two cycles and a
    round of the streams, for the warm pass) and `plan` (the timed loop).
    A cycle is a fixed order of four writes, each followed by reads of the
    table, then maintenance; a round of streaming ingest follows every
    `stream_every` cycles. The order is fixed so that each kind of
    operation meets the table in the same state (files since the last
    compaction) whatever the seed; the seed draws the keys and ranges.
    Keys stay within the table, so each write touches about 1% of the
    rows."""
    rng = random.Random(seed)
    state = {"next_key": rows, "append_id": 0, "salt": 0}
    width = max(10, rows // 100)

    def op(kind):
        hi = state["next_key"]
        if kind == "append":
            state["append_id"] += 1
            state["next_key"] += width
            return ["append", state["append_id"], hi, width]
        if kind in ("merge", "delete", "update"):
            state["salt"] += 1
            lo = rng.randrange(0, hi - 2 * width)
            # merge: every other key of a stretch below the append frontier
            # (so keys stay unique): live keys update, deleted ones insert
            return (["merge", state["salt"], lo, 2, width] if kind == "merge"
                    else [kind, lo, lo + width // 4])
        if kind == "point":
            return ["point", rng.randrange(0, hi)]
        if kind == "range":
            lo = rng.randrange(0, hi - width)
            return ["range", lo, lo + width]
        if kind == "travel":
            return ["travel", 2]  # two versions back
        return [kind]

    order = ["append", "point", "merge", "range", "changes",
             "delete", "agg", "update", "travel", "maint"]
    warm = [op(k) for _ in range(2) for k in order] + [["stream"]]
    plan = []
    for c in range(cycles):
        plan += [op(k) for k in order]
        if (c + 1) % stream_every == 0:
            plan.append(["stream"])
    return warm, plan
