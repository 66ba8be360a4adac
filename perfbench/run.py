#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytic_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the program and the harness
from source (once per source change), generates the seeded inputs under
`.perfbench/`, computes the expected results with DuckDB, runs the
harness JVM on `local[<nproc>]`, checks the outputs, and prints the
metrics. The last line of standard output is one JSON object; the lines
before it give every metric by name with its unit and sample count.
`--trace 1` prints the per-layer metrics instead and writes the spans to
`.perfbench/traces/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("analytic_mix", "table_ingest")

# analytic_mix: one or two registered read-only queries of each family the
# reference and SQL surface cover. Each writes no files and needs nothing
# but the tables. Kept small so that a warm pass fits a short run.
ROSTER = [
    "f6_filter_conjunction", "a5_group_flag_status", "j7_q6_revenue",
    "sub1_correlated_scalar", "fn4_string_functions", "e3_sessionize",
    "asof1_click_view", "t10_bm25", "g3_bfs_hops",
]
DML_ROWS = 50_000
DML_STREAM_EVERY = 2
STREAM_BATCHES = 4
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files(root):
    picks = ["build.sbt", "perfbench/harness/build.sbt"]
    for d in ("project", "src/main", "perfbench/harness/project", "perfbench/harness/src"):
        for base, dirs, files in os.walk(os.path.join(root, d)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            picks += [os.path.relpath(os.path.join(base, f), root) for f in sorted(files)]
    return sorted(p for p in picks if os.path.isfile(os.path.join(root, p)))


def build(root, state):
    """Compile the program and the harness with sbt when any source changed;
    returns (classpath, oracle SQL by query name)."""
    h = hashlib.sha256()
    for p in _source_files(root):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(state, "build")
    done = os.path.join(bdir, "stamp")
    if os.path.exists(done) and open(done).read() == stamp:
        cp = open(os.path.join(bdir, "classpath")).read()
        return cp, json.load(open(os.path.join(bdir, "oracles.json")))
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    # the toolchain and its dependency cache are local: never fetch
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building program and harness with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
         "-Dsbt.supershell=false", "harness/compile", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("sbt build failed")
    cp = [ln for ln in r.stdout.splitlines() if ln.strip()][-1].strip()
    log(f"built in {time.time() - t0:.0f} s")
    oracles = os.path.join(bdir, "oracles.json")
    subprocess.run(java_cmd(cp, os.path.join(bdir, "tmp"), ["--mode", "oracles", "--out", oracles]),
                   check=True, stdin=subprocess.DEVNULL, timeout=120)
    with open(os.path.join(bdir, "classpath"), "w") as f:
        f.write(cp)
    with open(done, "w") as f:
        f.write(stamp)
    return cp, json.load(open(oracles))


def java_cmd(cp, tmp, args, heap="3g"):
    """The harness JVM, with the module openings Spark needs on JDK 17 (as
    the root build's javaOptions) and temporary files under `tmp`."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Harness"] + args)


# ---------------------------------------------------------------- inputs

def write_lines(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in (r if isinstance(r, (list, tuple)) else [r])) + "\n")


def prepare(workload, seed, indir, tables, oracles):
    """Write the run's inputs; return what the checks expect, computed
    before anything is timed."""
    os.symlink(tables, os.path.join(indir, "tables"))
    if workload == "analytic_mix":
        missing = [q for q in ROSTER if q not in oracles]
        if missing:
            fail(f"roster queries without an oracle: {missing}")
        write_lines(os.path.join(indir, "roster.txt"), ROSTER)
        write_lines(os.path.join(indir, "plan.txt"), gen.analytic_plan(seed, ROSTER, 200))
        return oracle_expectations(tables, {q: oracles[q] for q in ROSTER})
    warm, plan = gen.dml_plan(seed, DML_ROWS, 400, DML_STREAM_EVERY)
    write_lines(os.path.join(indir, "warm.tsv"), warm)
    write_lines(os.path.join(indir, "plan.tsv"), plan)
    write_lines(os.path.join(indir, "params.tsv"), [
        ("rows", DML_ROWS), ("target_files", 4), ("keep_last", 4)])
    gen.stream_files(tables, os.path.join(indir, "stream"), seed, STREAM_BATCHES)
    # the warm pass streams two batches
    gen.stream_files(tables, os.path.join(indir, "warm"), seed + 1, 2)
    return {"warm": [op for op in warm if op[0] != "stream"],
            "plan": [op for op in plan if op[0] != "stream"], "mix": plan}


def oracle_expectations(tables, sqls):
    import duckdb
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return {q: con.execute(sql).fetch_arrow_table() for q, sql in sqls.items()}


# ---------------------------------------------------------------- checks

def same_table(got, want):
    """The repo's oracle comparison (scripts/check_oracle.py): the same
    column names and arrow types, the same rows in the emitted order,
    columns compared by name, floats to 1e-9 relative."""
    from check_oracle import canon, eq
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    for c in got.column_names:
        if str(got.schema.field(c).type) != str(want.schema.field(c).type):
            return f"type of {c}: {got.schema.field(c).type} != {want.schema.field(c).type}"
    g, _ = canon([list(r.values()) for r in got.to_pylist()], got.column_names)
    w, _ = canon([list(r.values()) for r in want.to_pylist()], want.column_names)
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for i, (x, y) in enumerate(zip(g, w)):
        if not all(eq(a, b) for a, b in zip(x, y)):
            return f"row {i}: {x} != {y}"
    return None


def check_analytic(out, expected):
    import pyarrow.parquet as pq
    bad = {}
    for q, want in expected.items():
        path = os.path.join(out, "results", q)
        if not os.path.isdir(path):
            bad[q] = "warm pass failed"
            continue
        why = same_table(pq.read_table(path), want)
        if why:
            bad[q] = why
    return bad


def dml_replay(expected, n_ops):
    """Replay the set-up and the first `n_ops` timed operations in DuckDB.
    Returns (connection, live rows after each replayed timed op, user
    bytes submitted by each timed op)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE t AS SELECT k::BIGINT AS k,
        CAST((k * 7919 + 17) % 100003 AS DOUBLE) / 100.0 AS v, 0::BIGINT AS cnt,
        't' || CAST(k % 97 AS VARCHAR) AS tag FROM range(0, {DML_ROWS}) r(k)""")

    def row_bytes(where):
        return con.execute(f"SELECT coalesce(sum(24 + strlen(tag)), 0) FROM t WHERE {where}"
                           ).fetchone()[0]

    def apply(op):
        kind, a = op[0], [int(x) for x in op[1:]]
        if kind == "append":
            con.execute(f"""INSERT INTO t SELECT k, CAST((k * 7919 + {a[0]}) % 100003 AS DOUBLE)
                / 100.0, 0, 'a{a[0]}' FROM range({a[1]}, {a[1] + a[2]}) r(k)""")
            return row_bytes(f"k >= {a[1]} AND k < {a[1] + a[2]}")
        if kind == "merge":
            con.execute(f"""CREATE OR REPLACE TEMP TABLE src AS SELECT k,
                CAST((k * 31 + {a[0]}) % 1000 AS DOUBLE) / 100.0 AS v, 0::BIGINT AS cnt,
                'm{a[0]}' AS tag FROM (SELECT {a[1]} + i * {a[2]} AS k FROM range(0, {a[3]}) r(i))""")
            con.execute("UPDATE t SET v = src.v, cnt = t.cnt + 1, tag = src.tag "
                        "FROM src WHERE t.k = src.k")
            con.execute("INSERT INTO t SELECT * FROM src WHERE k NOT IN (SELECT k FROM t)")
            return row_bytes("k IN (SELECT k FROM src)")
        if kind == "delete":
            con.execute(f"DELETE FROM t WHERE k >= {a[0]} AND k < {a[1]}")
            return 0
        if kind == "update":
            con.execute(f"UPDATE t SET v = v + 1.5, cnt = cnt + 1 WHERE k >= {a[0]} AND k < {a[1]}")
            return row_bytes(f"k >= {a[0]} AND k < {a[1]}")
        return 0

    for op in expected["warm"]:
        apply(op)
    live, user = [], []
    for op in expected["plan"][:n_ops]:
        user.append(apply(op))
        live.append(con.execute("SELECT count(*) FROM t").fetchone()[0])
    return con, live, user


def check_dml(out, expected, rec):
    """Final snapshot and one time-travel version against the replay."""
    import pyarrow.parquet as pq
    ops = rec["dml_ops"]
    versions = [o["version"] for o in ops]
    travel = int(rec["travel_version"])
    at = max([i + 1 for i, v in enumerate(versions) if v == travel]
             or ([0] if travel == int(rec["setup_version"]) else [-1]))
    problems = {}
    con, live, user = dml_replay(expected, len(ops))
    cols = "k, v, cnt, tag"
    want_final = con.execute(f"SELECT {cols} FROM t ORDER BY k").fetch_arrow_table()
    got = pq.read_table(os.path.join(out, "dml", "final")).select(["k", "v", "cnt", "tag"])
    why = same_table(got.sort_by("k"), want_final)
    if why:
        problems["final"] = why
    if at < 0:
        problems["travel"] = f"version {travel} maps to no operation"
    else:
        con2, _, _ = dml_replay(expected, at)
        want = con2.execute(f"SELECT {cols} FROM t ORDER BY k").fetch_arrow_table()
        got = pq.read_table(os.path.join(out, "dml", "travel")).select(["k", "v", "cnt", "tag"])
        why = same_table(got.sort_by("k"), want)
        if why:
            problems["travel"] = why
    return problems, live, user


# ---------------------------------------------------------------- metrics

def p90(xs):
    """The 90th percentile, interpolated between the samples on either side."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def ratio(num, den):
    """num / den, or None when there is nothing to divide by."""
    return num / den if den else None


def fmt(v, spec):
    return "n/a" if v is None else format(v, spec)


def timing(name, xs, lines):
    """Median and p90 of `xs`, printed with the sample count; p90 is flagged
    unless at least ten samples lie beyond it."""
    if not xs:
        lines.append(f"{name}: no samples")
        return
    p50, tail = statistics.median(xs), p90(xs)
    note = "" if len(xs) >= 100 else f" (p90 has {len(xs) - math.ceil(0.9 * len(xs))} samples beyond it; 10 needed)"
    lines.append(f"{name}_p50_s: {p50:.4f} s  {name}_p90_s: {tail:.4f} s  n={len(xs)}{note}")


def kind_stats(ops):
    """Per kind of operation: its median and p90 latency."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["sec"])
    return {k: (statistics.median(v), p90(v), len(v)) for k, v in by.items()}


def end_to_end(workload, rec, ops, expected, lines, extra):
    """The gated metrics. Latencies are over the operations that succeeded;
    a metric left without samples (every operation of a kind failed) is
    reported as null, and the run is then not correct anyway."""
    stats = kind_stats([o for o in ops if o["ok"]])
    lines.append(f"set-up: {rec['setup_s']:.3f} s from JVM launch to the end of the warm pass "
                 f"(session and program state ready {rec['prepared_s']:.3f} s after JVM start; "
                 f"warm pass {rec['warm_s']:.3f} s)")
    lines.append(f"host canary at start, end: {rec['canary_s'][0]:.3f} s, {rec['canary_s'][1]:.3f} s")
    for k, (med, tail, n) in sorted(stats.items()):
        lines.append(f"  {k}: p50 {med:.4f} s, p90 {tail:.4f} s, n={n}")
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "op_p50_s": (geomean([s[0] for s in stats.values()]), "s"),
        "op_p90_s": (geomean([s[1] for s in stats.values()]), "s"),
    }
    # throughput from the medians, for the workload's fixed mix of work, so
    # that where the time limit cuts the last pass does not move it
    if workload == "analytic_mix":
        timing("query", [o["sec"] for o in ops if o["ok"]], lines)
        rate = ratio(len(stats), sum(s[0] for s in stats.values()))
        lines.append(f"throughput_per_s: {fmt(rate, '.4f')} queries/s over one pass of the roster")
    else:
        writes = ("append", "merge", "delete", "update")
        table = [o for o in ops if o["ok"] and o["kind"] not in ("batch", "stream")]
        timing("commit", [o["sec"] for o in table if o["kind"] in writes], lines)
        timing("read", [o["sec"] for o in table if o["kind"] not in writes + ("maint",)], lines)
        timing("maint", [o["sec"] for o in table if o["kind"] == "maint"], lines)
        timing("batch", [o["sec"] for o in ops if o["ok"] and o["kind"] == "batch"], lines)
        lines.append(f"write_amp: {extra['write_amp']:.4f} B/B (median of "
                     f"{extra['cycles']} cycles)")
        lines.append(f"space_amp: {extra['space_amp']:.4f} B/B (median over "
                     f"{extra['cycles']} points before maintenance)")
        walls, rows = {}, {}
        for r in rec["stream_runs"]:
            if r["ok"]:
                walls.setdefault(r["stream"], []).append(r["wall_s"])
                rows[r["stream"]] = r["rows"]
        stream_s = sum(map(statistics.median, walls.values()))
        lines.append(f"rows_per_s: {fmt(ratio(sum(rows.values()), stream_s), '.1f')}"
                     f" rows/s (input rows of one round over the median stream wall times, "
                     f"{sum(len(w) for w in walls.values())} stream runs)")
        # one period of the plan: its table operations at their medians,
        # then one round of the streams at their median wall times
        period = expected["mix"][:expected["mix"].index(["stream"]) + 1]
        kinds = [op[0] for op in period if op[0] != "stream"]
        batches = STREAM_BATCHES * len(walls)
        rate = None
        if all(k in stats for k in kinds):
            rate = ratio(len(kinds) + batches, sum(stats[k][0] for k in kinds) + stream_s)
        lines.append(f"throughput_per_s: {fmt(rate, '.4f')} operations/s over one period of "
                     f"the plan ({len(kinds)} table operations and {batches} micro-batches)")
    m["throughput_per_s"] = (rate, "1/s")
    return m


def dml_amplification(rec, live, user):
    """write_amp per maintenance cycle (bytes written under the table root
    over user bytes submitted) and space_amp before each maintenance (bytes
    under the root over the live rows written once, at the set-up's bytes
    per initial row)."""
    ops = rec["dml_ops"]
    per_row = int(rec["init_bytes"]) / DML_ROWS
    wa, sa = [], []
    written = submitted = 0
    for i, o in enumerate(ops):
        written += o["data_bytes"] + o["log_bytes"]
        submitted += user[i]
        if o["kind"] == "maint":
            wa.append(written / max(1, submitted))
            sa.append(o["root_bytes_before"] / (live[i] * per_row))
            written = submitted = 0
    if not wa:  # the window ended before the first maintenance
        wa.append(written / max(1, submitted))
        sa.append(ops[-1]["root_bytes"] / (live[-1] * per_row))
    return {"write_amp": statistics.median(wa), "space_amp": statistics.median(sa),
            "cycles": len(wa)}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a graft checkout (no build.sbt / src/main/scala here)", 2)

    sys.path.insert(0, os.path.join(root, "scripts"))
    state = os.path.join(root, ".perfbench")
    cp, oracles = build(root, state)
    # the fixed tables: the repo's sf0.01 testdata, copied (TESTDATA.md)
    tables = os.path.join(HERE, "tables")
    run_dir = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    indir, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(indir)
    os.makedirs(out)
    try:
        expected = prepare(args.workload, args.seed, indir, tables, oracles)
        cmd = java_cmd(cp, os.path.join(run_dir, "tmp"), [
            "--mode", "run", "--workload", args.workload, "--in", indir, "--out", out,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(os.cpu_count())])
        with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
            try:
                launched = time.time()
                r = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=jl, stderr=jl,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
        if r.returncode != 0:
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
            fail(f"harness exited with {r.returncode}")
        rec = json.load(open(os.path.join(out, "record.json")))
        rec["setup_s"] = rec["ready_epoch_s"] - launched
        report(args, rec, out, expected)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, rec, out, expected):
    ops = [o for o in rec["ops"] if o["kind"] != "stream"]
    lines = [f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s, "
             f"local[{os.cpu_count()}], one client, trace {args.trace}"]
    extra = {}
    if args.workload == "analytic_mix":
        bad = check_analytic(out, expected)
        for q, why in sorted(bad.items()):
            lines.append(f"WRONG {q}: {why}")
        for o in ops:
            if o["name"] in bad:
                o["ok"] = False
    else:
        problems, live, user = check_dml(out, expected, rec)
        for k, why in problems.items():
            lines.append(f"WRONG table {k}: {why}")
        extra = dml_amplification(rec, live, user)
        wrong_runs = set()
        for c in rec["stream_checks"]:
            if not c["ok"]:
                lines.append(f"WRONG {c['stream']} round {c['round']}: {c['detail']}")
                wrong_runs.add((c["stream"], c["round"]))
        for o in ops:
            # a wrong table fails every table operation; a wrong stream
            # output fails the batches of that stream run
            if (o["kind"] == "batch" and (o["name"], o["round"]) in wrong_runs
                    or o["kind"] != "batch" and problems):
                o["ok"] = False
        # a stream run that failed outright left no batches: count it
        ops += [o for o in rec["ops"] if o["kind"] == "stream" and not o["ok"]]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and attempted > 0
    lines.append(f"error_rate: {failed / max(1, attempted):.4f} ({failed} of {attempted} "
                 f"operations failed or returned a wrong result)")

    if args.trace:
        metrics, trace_lines = layers.per_layer(args.workload, rec, os.cpu_count())
        lines += trace_lines
        tdir = os.path.join(os.getcwd(), ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"ops": rec["ops"], "spans": rec["spans"], "spark": rec["spark"]}, f)
        lines.append(f"spans written to {os.path.relpath(path)}")
    else:
        metrics = end_to_end(args.workload, rec, ops, expected, lines, extra)
    for ln in lines:
        print(ln)
    if not args.trace:
        for k, (v, u) in metrics.items():
            print(f"{k}: {fmt(v, '.6g')} {u}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
