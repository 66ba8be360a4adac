"""Per-layer metrics of a traced run.

The harness records, in the traced rounds only, its own spans around each
call into the program (`operators`, `txlog`, `streaming`) and the Spark
events of those rounds (jobs, tasks, query executions, cache blocks). All
carry epoch-millisecond times, so each Spark event is attributed to the
operation whose interval holds it. Counts and times are summed per
operation and reported as the mean per traced operation, except where a
metric's comment says otherwise. A layer that does no work on a workload
reports 0.
"""
import math
import statistics

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
METRICS = {
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.actions": "count", "plans.exchanges": "count",
    "operators.build_s": "s", "operators.exec_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.submit_delay_s": "s", "scheduler.driver_only_s": "s",
    "tasks.run_s": "s", "tasks.cpu_s": "s", "tasks.gc_s": "s", "tasks.core_utilization": "ratio",
    "sources.bytes_read": "B", "sources.rows_read": "count", "sources.files_read": "count",
    "sources.files_skipped_ratio": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "cache.peak_bytes": "B",
    "txlog.snapshot_s": "s", "txlog.append_s": "s", "txlog.merge_s": "s", "txlog.delete_s": "s",
    "txlog.update_s": "s", "txlog.maint_s": "s", "txlog.post_maint_commit_s": "s",
    "txlog.data_bytes_written": "B", "txlog.log_bytes_written": "B", "txlog.live_files": "count",
    "txlog.maint_bytes_rewritten": "B",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s", "streaming.offsets_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_rows": "count", "streaming.state_bytes": "B",
    "self.harness_s": "s", "self.operators_s": "s", "self.txlog_s": "s",
    "self.streaming_s": "s", "self.scheduler_s": "s",
    "trace.overhead_ratio": "ratio",
}

WRITES = ("append", "merge", "delete", "update")
TXLOG_CALLS = {
    "txlog.snapshot_s": ("TxLog.read", "TxLog.readWhere", "TxLog.readChanges"),
    "txlog.append_s": ("TxLog.appendOnceMonotone",), "txlog.merge_s": ("TxLog.mergeInto",),
    "txlog.delete_s": ("TxLog.deleteMoR",), "txlog.update_s": ("TxLog.updateWhere",),
    "txlog.maint_s": ("TxLog.compact", "TxLog.pruneHistory", "TxLog.vacuum"),
}


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, rec, cores):
    """Returns ({metric: (value, unit)}, lines to print)."""
    # the operations a traced round timed: queries, table ops, micro-batches
    ops = [o for o in rec["ops"] if o["traced"] and o["kind"] != "stream"]
    ev = rec["spark"]
    find = _locator(ops)
    per = {o["id"]: dict.fromkeys(METRICS, 0.0) for o in ops}

    jobs, job_of_stage = {}, {}
    for e in ev:
        if e["ev"] == "job_start":
            jobs[e["job"]] = {"start": e["time"], "end": e["time"], "first_task": None}
            for s in e["stages"]:
                job_of_stage[s] = e["job"]
        elif e["ev"] == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["end"] = e["time"]
    task_iv = {o["id"]: [] for o in ops}
    stages = {o["id"]: set() for o in ops}
    for e in ev:
        if e["ev"] == "task":
            j = jobs.get(job_of_stage.get(e["stage"]))
            if j is not None:
                j["first_task"] = min(j["first_task"] or e["launch"], e["launch"])
            o = find(j["start"] if j else e["launch"])
            if o is None:
                continue
            m = per[o]
            m["scheduler.tasks"] += 1
            stages[o].add((e["stage"], e["attempt"]))
            task_iv[o].append((e["launch"], e["finish"]))
            m["tasks.run_s"] += e["run_ms"] / 1e3
            m["tasks.cpu_s"] += e["cpu_ns"] / 1e9
            m["tasks.gc_s"] += e["gc_ms"] / 1e3
            m["sources.bytes_read"] += e["in_bytes"]
            m["sources.rows_read"] += e["in_rows"]
            m["shuffle.write_bytes"] += e["sh_write"]
            m["shuffle.read_bytes"] += e["sh_read"]
        elif e["ev"] == "action":
            starts = [p[0] for p in e["phases"].values()]
            o = find(min(starts) if starts else e["time"])
            if o is None:
                continue
            m = per[o]
            m["plans.actions"] += 1
            m["plans.exchanges"] += e["exchanges"]
            m["sources.files_read"] += e["scan_files"]
            for ph in ("analysis", "optimization", "planning"):
                if ph in e["phases"]:
                    a, b = e["phases"][ph]
                    m[f"plans.{ph}_s"] += (b - a) / 1e3
    for j in jobs.values():
        o = find(j["start"])
        if o is None:
            continue
        per[o]["scheduler.jobs"] += 1
        if j["first_task"] is not None:
            per[o]["scheduler.submit_delay_s"] += max(0.0, j["first_task"] - j["start"]) / 1e3
    for o in ops:
        m = per[o["id"]]
        m["scheduler.stages"] = len(stages[o["id"]])
        m["scheduler.driver_only_s"] = (
            o["end"] - o["start"] - _covered(o["start"], o["end"], task_iv[o["id"]])) / 1e3

    if workload == "table_ingest":
        for o in ops:
            if o["kind"] != "batch":
                continue
            d, m = o["durations"], per[o["id"]]
            m["streaming.add_batch_s"] = d.get("addBatch", 0) / 1e3
            m["streaming.query_planning_s"] = d.get("queryPlanning", 0) / 1e3
            m["streaming.offsets_s"] = (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
            m["streaming.wal_commit_s"] = (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            m["streaming.state_rows"] = o["state_rows"]
            m["streaming.state_bytes"] = o["state_bytes"]

    out = {k: _mean([per[o["id"]][k] for o in ops]) for k in METRICS}
    batches = [o for o in ops if o["kind"] == "batch"]
    for k in METRICS:
        if k.startswith("streaming."):  # per micro-batch
            out[k] = _mean([per[o["id"]][k] for o in batches])
    # span-derived: totals over the traced rounds per traced operation
    for k, v in _spans(rec, jobs).items():
        out[k] = v / max(1, len(ops))
    # whole-run summaries rather than per-operation means
    wall = sum(o["end"] - o["start"] for o in ops) / 1e3
    out["tasks.core_utilization"] = sum(per[o["id"]]["tasks.run_s"] for o in ops) / max(
        1e-9, wall * cores)
    cache = [e["bytes"] for e in ev if e["ev"] == "cache"]
    out["cache.peak_bytes"] = max(cache, default=0)
    for k in ("streaming.state_rows", "streaming.state_bytes"):
        out[k] = max((per[o["id"]][k] for o in batches), default=0)
    if workload == "table_ingest":
        out.update(_txlog_summary(rec))
        out["sources.files_skipped_ratio"] = _mean(_files_skipped(rec, per))
    out["trace.overhead_ratio"] = _overhead(rec)

    lines = [f"per-layer metrics over {len(ops)} traced operations "
             f"({len(rec['ops']) - len(ops)} untraced or stream-level)"]
    lines += [f"  {k}: {out[k]:.6g} {METRICS[k]}" for k in METRICS]
    return {k: (out[k], METRICS[k]) for k in METRICS}, lines


def _locator(ops):
    """Event time -> id of the traced op whose interval holds it."""
    iv = sorted((o["start"], o["end"], o["id"]) for o in ops)

    def find(t):
        for a, b, i in iv:
            if a - 1 <= t <= b + 1:
                return i
        return None
    return find


def _spans(rec, jobs):
    """Self time per layer, summed over the traced rounds: a span's
    duration minus what its child spans cover. Spark jobs count as
    children (layer `scheduler`) of the innermost span that holds their
    start."""
    traced = {o["id"] for o in rec["ops"] if o["traced"]}
    tot = {k: 0.0 for k in METRICS if k.startswith(("self.", "operators."))}
    by_op = {}
    for s in rec["spans"]:
        if s["op"] in traced:
            by_op.setdefault(s["op"], []).append(s)
    for spans in by_op.values():
        kids = {s["id"]: [] for s in spans}
        for s in spans:
            if s["parent"] in kids:
                kids[s["parent"]].append((s["start"], s["end"]))
        lo, hi = min(s["start"] for s in spans), max(s["end"] for s in spans)
        for j in jobs.values():
            a, b = j["start"], j["end"]
            holders = [s for s in spans if s["start"] <= a <= s["end"]]
            if lo <= a <= hi and holders:
                inner = min(holders, key=lambda s: s["end"] - s["start"])
                kids[inner["id"]].append((a, b))
                tot["self.scheduler_s"] += (b - a) / 1e3
        for s in spans:
            own = (s["end"] - s["start"] - _covered(s["start"], s["end"], kids[s["id"]])) / 1e3
            if f"self.{s['layer']}_s" in tot:
                tot[f"self.{s['layer']}_s"] += own
            if s["name"] in ("operators.build", "operators.exec"):
                tot[f"{s['name']}_s"] += (s["end"] - s["start"]) / 1e3
    return tot


def _files_skipped(rec, per):
    """For each traced predicate read of the table, the share of the
    snapshot's live files its scans did not open."""
    out, live = [], 0
    for d in rec["dml_ops"]:
        if d["kind"] in ("point", "range") and live and d["id"] in per:
            out.append(max(0.0, 1 - per[d["id"]]["sources.files_read"] / live))
        live = d["live_files"]
    return out


def _txlog_summary(rec):
    """TxLog figures as single-client counts over every timed operation
    (they repeat exactly for a seed), and call times as the mean per call."""
    out = {}
    for k, names in TXLOG_CALLS.items():
        calls = {}
        for s in rec["spans"]:
            if s["name"] in names:
                calls.setdefault((s["op"], s["name"]), 0.0)
                calls[(s["op"], s["name"])] += (s["end"] - s["start"]) / 1e3
        if k == "txlog.maint_s":  # the three maintenance calls of one op
            by_op = {}
            for (oid, _), v in calls.items():
                by_op[oid] = by_op.get(oid, 0.0) + v
            out[k] = _mean(list(by_op.values()))
        else:
            out[k] = _mean(list(calls.values()))
    dml = rec["dml_ops"]
    writes = [d for d in dml if d["kind"] in WRITES]
    out["txlog.data_bytes_written"] = _mean([d["data_bytes"] for d in writes])
    out["txlog.log_bytes_written"] = _mean([d["log_bytes"] for d in writes])
    out["txlog.live_files"] = _mean([d["live_files"] for d in writes])
    out["txlog.maint_bytes_rewritten"] = _mean(
        [d["data_bytes"] for d in dml if d["kind"] == "maint"])
    sec = {o["id"]: o["sec"] for o in rec["ops"]}
    post, after_maint = [], False
    for d in dml:
        if d["kind"] == "maint":
            after_maint = True
        elif d["kind"] in WRITES and after_maint:
            post.append(sec[d["id"]])
            after_maint = False
    out["txlog.post_maint_commit_s"] = _mean(post)
    return out


def _overhead(rec):
    """Traced over untraced median latency, per kind of operation run both
    ways in this run, as a geometric mean; minus one."""
    by = {}
    for o in rec["ops"]:
        if o["kind"] != "stream" and o["ok"]:
            by.setdefault(o["name"], {True: [], False: []})[o["traced"]].append(o["sec"])
    ratios = [statistics.median(v[True]) / statistics.median(v[False])
              for v in by.values() if v[True] and v[False]]
    if not ratios:
        return 0.0
    return math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1
