"""Traced replay and the per-layer metrics derived from it.

After the wire window, the same seeded operation stream is replayed in
one JVM (perfbench/scala/perfbench/TraceReplay.scala): one thread per
connection, each calling the layers' public functions in frontend
order, alternating operations with spans on and off. This module writes
the op files, runs the replay and turns its per-op records and spans
into the per-layer metrics of BENCHMARK.json.

Classes follow workloads.py: `main` is a statement class on every
workload (short statements, TPC-H statements, CH reads), `side` is the
second class (prepared short statements, the probe connection, CH
ingest). `front` is the workload's frontend: pg on the PG workloads,
ch on ch_ingest_read.
"""
import json
import math
import os
import subprocess

import stats
import workloads as W
from server import jvm_command, jvm_env, nproc

# (name, unit, better) — the per_layer list of BENCHMARK.json, in order.
PER_LAYER = []


def _declare(name, unit, better):
    PER_LAYER.append((name, unit, better))


for _c in ("main", "side"):
    _declare("replay.op_ms.%s.p50" % _c, "ms", "lower")
    _declare("wire.gap_ms.%s.p50" % _c, "ms", "lower")
    _declare("wire.gap_ms.%s.tail" % _c, "ms", "lower")
    _declare("trace.overhead_share.%s" % _c, "ratio", "lower")
    for _m in ("front", "engine", "spark"):
        _declare("%s.self_ms.%s.p50" % (_m, _c), "ms", "lower")
    _declare("front.ms.%s.p50" % _c, "ms", "lower")
    _declare("front.ns_per_row.%s" % _c, "ns", "lower")
    _declare("front.bytes_per_row.%s" % _c, "bytes", "lower")
    for _m in ("jobs", "stages", "tasks"):
        _declare("spark.%s_per_op.%s.mean" % (_m, _c), "count", "lower")
    # listener times are whole ms: means, so a run-to-run change shows
    _declare("spark.job_wall_ms.%s.mean" % _c, "ms", "lower")
    _declare("spark.job_wall_ms.%s.tail" % _c, "ms", "lower")
    _declare("spark.task_busy_ms.%s.mean" % _c, "ms", "lower")
    _declare("spark.task_busy_share.%s" % _c, "ratio", "higher")
    _declare("spark.sched_wait_ms.%s.mean" % _c, "ms", "lower")
    _declare("spark.sched_wait_ms.%s.tail" % _c, "ms", "lower")
    _declare("spark.shuffle_bytes.%s.mean" % _c, "bytes", "lower")
    _declare("spark.spill_bytes.%s.mean" % _c, "bytes", "lower")
# the statement path, live for the main class of every workload
for _n, _k in (("engine.rewrite_ms", "engine.rewrite"), ("engine.execute_ms", "engine.execute"),
               ("spark.first_row_ms", "spark.first_row"), ("spark.drain_ms", "spark.drain")):
    _declare(_n + ".main.p50", "ms", "lower")
    _declare(_n + ".main.tail", "ms", "lower")
_declare("engine.front_self_ms.main.p50", "ms", "lower")
# QueryPlanningTracker phases are whole ms too
for _n in ("spark.parse_ms", "spark.analysis_ms", "spark.optimize_ms", "spark.plan_ms"):
    _declare(_n + ".main.mean", "ms", "lower")
_declare("storage.files", "count", "lower")
_declare("storage.bytes_per_input_byte", "ratio", "lower")

MS = 1e-6  # ns -> ms


def replay_stmts(op):
    """The SQL the server executes for each step of a PG op, spliced as
    the client and the server splice it; psql's \\d oid (digits, so
    spliced bare) stays a placeholder the replay fills in."""
    out = []
    for name, params in op["steps"]:
        if name.startswith("sql:"):
            out.append(op["sql"])
        else:
            marks = ["@OID@" if v == "@oid@" else v for v in params]
            out.append(W.splice(W.TEMPLATES[name], marks).replace("'@OID@'", "@oid@"))
    return out


def write_ops(path, streams, counts):
    with open(path, "w") as f:
        for conn, n in enumerate(counts):
            for op, _ in zip(streams.ops(conn), range(n)):
                rec = {"conn": op["conn"], "cls": op["cls"], "kind": op["kind"],
                       "proto": op["proto"]}
                if op["proto"] in ("simple", "prepared"):
                    rec["stmts"] = replay_stmts(op)
                else:
                    for k in ("sql", "format", "table", "payload", "due"):
                        if k in op:
                            rec[k] = op[k]
                f.write(json.dumps(rec) + "\n")


def run_replay(args, classes, data, run_dir, streams, warm, wire_counts, warm_s, warm_min):
    rdir = os.path.join(run_dir, "replay")
    os.makedirs(os.path.join(rdir, "tmp"), exist_ok=True)
    # the replay runs faster than the wire: give it ample ops to loop over
    ops_path, warm_path = os.path.join(rdir, "ops.jsonl"), os.path.join(rdir, "warm.jsonl")
    write_ops(ops_path, streams, [3 * n + 20 for n in wire_counts])
    write_ops(warm_path, warm, [max(3 * n, 40) for n in warm_min])
    ch = streams.workload == "ch_ingest_read"
    cfg = {
        "data": data, "db": os.path.join(rdir, "db"), "cores": str(nproc()),
        "seconds": args.seconds, "warm_seconds": warm_s, "warm_min_ops": warm_min,
        "ops": ops_path, "warm_ops": warm_path,
        "out": os.path.join(rdir, "out"),
        "setup_sql": [W.INGEST_DDL.format(t="bench_warm")] if ch else [],
        "reset_sql": ["DROP TABLE IF EXISTS bench_ingest",
                      W.INGEST_DDL.format(t="bench_ingest")] if ch else [],
    }
    cfg_path = os.path.join(rdir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(rdir, "replay.log"), "wb") as log:
        subprocess.run(jvm_command(classes, "perfbench.TraceReplay", [cfg_path],
                                   os.path.join(rdir, "tmp")),
                       cwd=rdir, env=jvm_env(rdir), stdout=log, stderr=subprocess.STDOUT,
                       check=True, timeout=170)
    with open(os.path.join(cfg["out"], "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    spans = {}
    with open(os.path.join(cfg["out"], "spans.tsv")) as f:
        next(f)
        for line in f:
            op, sid, parent, layer, name, s, e = line.rstrip("\n").split("\t")
            spans.setdefault(int(op), []).append((int(sid), int(parent), layer, name,
                                                  int(s), int(e)))
    return ops, spans


def layer_self(op_spans):
    """Self time (ns) per layer for one op: each span's duration minus
    the union of its children. Job spans (from the listener) hang under
    the call span they overlap most."""
    own = [s for s in op_spans if s[1] == 0]
    children = {}
    for sid, parent, layer, name, s, e in op_spans:
        if sid == 0:
            continue
        if parent < 0:  # a job: attach by overlap
            best, best_ov = 0, 0
            for c in own:
                ov = min(e, c[5]) - max(s, c[4])
                if ov > best_ov:
                    best, best_ov = c[0], ov
            parent = best
        children.setdefault(parent, []).append((s, e))
    # jobs that run at once (AQE submits some concurrently) count once
    jobs = [(s, e) for sid, parent, _, _, s, e in op_spans if parent < 0 and sid != 0]
    out = {"spark": union(jobs)}
    for sid, parent, layer, name, s, e in op_spans:
        if sid == 0 or parent < 0:
            continue
        covered = union([(max(cs, s), min(ce, e)) for cs, ce in children.get(sid, [])])
        key = "front" if layer in ("pg", "ch") else layer
        out[key] = out.get(key, 0) + (e - s) - covered
    return out


def union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur = 0, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0)


def overhead(on, off):
    """Tracing overhead as a share: per statement kind, the ratio of the
    traced to the untraced median wall time; geometric mean over kinds."""
    logs = []
    for kind in sorted({o["kind"] for o in on} & {o["kind"] for o in off}):
        a = stats.p50([o["total_ns"] for o in on if o["kind"] == kind])
        b = stats.p50([o["total_ns"] for o in off if o["kind"] == kind])
        logs.append(math.log(a / b))
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


def per_layer(args, classes, data, run_dir, streams, warm, records, storage, warm_s, warm_min):
    """Replay, then the per-layer metrics. `warm_s`/`warm_min` are the
    wire warm-up's length and per-connection floors, repeated in the JVM."""
    wire_counts = [sum(1 for r in records if r.conn == c) for c in range(len(streams.layout))]
    ops, spans = run_replay(args, classes, data, run_dir, streams, warm, wire_counts,
                            warm_s, warm_min)
    front = "ch" if streams.workload == "ch_ingest_read" else "pg"
    failed = [o for o in ops if o["ok"] is not True]
    for o in failed[:10]:
        print("replay FAILED %s %s: %s" % (o["cls"], o["kind"], o["err"][:300]))
    if failed:
        raise RuntimeError("%d replayed operations failed" % len(failed))
    m, lines = {}, []

    def put(name, value, n, note=""):
        unit = next(u for k, u, _ in PER_LAYER if k == name)
        m[name] = {"value": float(value), "unit": unit}
        lines.append("layer %-38s %14.4f %-5s n=%-5d %s" % (name, value, unit, n, note))

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    for c in ("main", "side"):
        on = [o for o in ops if o["phase"] == "on" and o["cls"] == c]
        off = [o for o in ops if o["phase"] == "off" and o["cls"] == c]
        wire = [r.latency * 1000.0 for r in records if r.ok and r.cls == c]
        t_off = [o["total_ns"] * MS for o in off]
        t_on = [o["total_ns"] * MS for o in on]
        put("replay.op_ms.%s.p50" % c, stats.p50(t_off), len(t_off), "spans off")
        lines.append("trace.overhead %s: per-op p50 %.3f ms with spans, %.3f ms without (n=%d/%d)"
                     % (c, stats.p50(t_on), stats.p50(t_off), len(t_on), len(t_off)))
        put("trace.overhead_share.%s" % c, overhead(on, off), len(t_on),
            "geomean over kinds of p50 on / p50 off, minus 1")
        put("wire.gap_ms.%s.p50" % c, stats.p50(wire) - stats.p50(t_off), len(wire),
            "%s.gap_ms: wire p50 minus replay p50" % front)
        put("wire.gap_ms.%s.tail" % c, stats.tail(wire) - stats.tail(t_off), len(wire),
            "wire p%d minus replay p%d" % (stats.tail_pct(len(wire)), stats.tail_pct(len(t_off))))
        selfs = [layer_self(spans.get(o["id"], [])) for o in on]
        for layer in ("front", "engine", "spark"):
            put("%s.self_ms.%s.p50" % (layer, c), stats.p50([s.get(layer, 0) * MS for s in selfs]),
                len(selfs), "self time" + (" (%s)" % front if layer == "front" else ""))
        fr = [sum(v for k, v in o.items() if k.startswith(front + ".")) for o in on]
        rows = sum(o.get("rows", 0) for o in on)
        put("front.ms.%s.p50" % c, stats.p50([x * MS for x in fr]), len(fr),
            "%s encode/decode per op" % front)
        put("front.ns_per_row.%s" % c, sum(fr) / rows if rows else 0.0, rows)
        put("front.bytes_per_row.%s" % c, sum(o.get("wire_bytes", 0) for o in on) / rows
            if rows else 0.0, rows)
        for k in ("jobs", "stages", "tasks"):
            put("spark.%s_per_op.%s.mean" % (k, c), mean([o[k] for o in on]), len(on))
        jw = [o["job_wall_ms"] for o in on]
        put("spark.job_wall_ms.%s.mean" % c, mean(jw), len(jw))
        put("spark.job_wall_ms.%s.tail" % c, stats.tail(jw), len(jw), "p%d" % stats.tail_pct(len(jw)))
        put("spark.task_busy_ms.%s.mean" % c, mean([o["task_busy_ms"] for o in on]), len(on))
        put("spark.task_busy_share.%s" % c, sum(o["task_busy_ms"] for o in on) /
            (sum(jw) * nproc()) if sum(jw) else 0.0, len(on), "busy / (job wall x cores)")
        sw = [o["sched_wait_ms"] for o in on]
        put("spark.sched_wait_ms.%s.mean" % c, mean(sw), len(sw))
        put("spark.sched_wait_ms.%s.tail" % c, stats.tail(sw), len(sw), "p%d" % stats.tail_pct(len(sw)))
        put("spark.shuffle_bytes.%s.mean" % c, mean([o["shuffle_bytes"] for o in on]), len(on))
        put("spark.spill_bytes.%s.mean" % c, mean([o["spill_bytes"] for o in on]), len(on))
        if c == "main":
            for name, key in (("engine.rewrite_ms", "engine.rewrite"),
                              ("engine.execute_ms", "engine.execute"),
                              ("spark.first_row_ms", "spark.first_row"),
                              ("spark.drain_ms", "spark.drain")):
                xs = [o.get(key, 0) * MS for o in on]
                put(name + ".main.p50", stats.p50(xs), len(xs))
                put(name + ".main.tail", stats.tail(xs), len(xs), "p%d" % stats.tail_pct(len(xs)))
            fs = [(o.get("engine.execute", 0) - o.get("tracker.parse", 0) -
                   o.get("tracker.analysis", 0)) * MS for o in on]
            put("engine.front_self_ms.main.p50", stats.p50(fs), len(fs),
                "execute minus Spark parse and analysis")
            for name, key in (("spark.parse_ms", "tracker.parse"),
                              ("spark.analysis_ms", "tracker.analysis"),
                              ("spark.optimize_ms", "tracker.optimize_phase"),
                              ("spark.plan_ms", "tracker.plan_phase")):
                put(name + ".main.mean", mean([o.get(key, 0) * MS for o in on]), len(on),
                    "QueryPlanningTracker")
    put("storage.files", storage[0], 1, "parquet files of the ingest table")
    put("storage.bytes_per_input_byte", storage[1], 1, "on-disk bytes / acknowledged payload bytes")
    for line in lines:
        print(line)
    return {k: m[k] for k, _, _ in PER_LAYER}

