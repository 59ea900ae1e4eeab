"""Wire-level benchmark of the server through both frontends.

One run: build the server from source (cached), generate the fixture
tables (cached), launch graft.server.ServerMain in a throwaway
directory, warm it up, drive one workload closed-loop for --seconds
through the PG wire protocol and/or ClickHouse HTTP, check every result
against DuckDB, stop the server. With --trace 1 the same seeded stream
is then replayed in one JVM with per-layer timing (layers.py).

The last stdout line is one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1)
that BENCHMARK.json declares. Everything above it is a readable report.

Usage: python3 perfbench/run.py --workload pg_short --seed 1 --seconds 10 --trace 0
       [--sf 0.1]   (the smoke test uses --sf 0.001)
"""
import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import chhttp  # noqa: E402
import datagen  # noqa: E402
import gate as gate_mod  # noqa: E402
import layers  # noqa: E402
import loadgen  # noqa: E402
import pgwire  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402
from server import HEAP, Server, nproc  # noqa: E402

WARM_S = 3.0  # plus one full round per connection
PROFILE_KEYS = ["spark.master", "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
                "spark.sql.files.maxPartitionBytes", "spark.graft.presentationSort"]
INGEST_TABLE, WARM_TABLE = "bench_ingest", "bench_warm"
FAILED_MS = 1000.0 * max(loadgen.TIMEOUT_S.values())


def log(*a):
    print(*a, flush=True)


def read_profile(server):
    """The session profile the server runs, read back over the wire
    (Spark substitutes ${key} in SQL text with the session value; a key
    the server never set answers with an error and reads as unset)."""
    conn = pgwire.PgConn(server.pg_port)
    prof = {}
    for k in PROFILE_KEYS:
        try:
            prof[k] = conn.query("SELECT '${%s}'" % k).rows[0][0]
        except pgwire.PgError:
            prof[k] = "unset (Spark default)"
    conn.close()
    return prof


def min_ops(streams):
    """Round length per connection, the floor of operations for the
    warm-up and the window, so every statement kind shows."""
    return [{"simple": len(W.SHORT_ROUND), "prepared": len(W.SHORT_ROUND),
             "ch_read": len(W.CH_READS), "ch_ingest": 2}[p]
            if not (streams.workload == "pg_analytic" and c == "main")
            else len(W.HEAVY_SHARES[i]) for i, (c, p) in enumerate(streams.layout)]


def class_latencies(records, cls):
    """Latency samples (ms) of a class; a failed operation counts as
    missing every percentile (it enters above any deadline)."""
    return [r.latency * 1000.0 if r.ok else FAILED_MS for r in records if r.cls == cls]


def storage_stats(server, table, acked_bytes):
    files = size = 0
    for d, _, names in os.walk(os.path.join(server.db, "warehouse")):
        if table not in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, (size / acked_bytes if acked_bytes else 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()

    classes = build.build()
    data = datagen.generate(args.sf, os.path.join(build.BUILD, "data", "sf%g" % args.sf))
    with open(os.path.join(classes, "oracle_sql.json")) as f:
        oracle = json.load(f)
    heavy_sql = {n: oracle[n] for n in W.HEAVY_NAMES}
    sizes = datagen.sizes(args.sf)
    run_dir = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (args.workload, os.getpid(),
                                                             int(time.time())))
    os.makedirs(run_dir)
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    server = None
    try:
        server = Server(classes, data, run_dir)
        profile = read_profile(server)
        log("perfbench: workload=%s seed=%d seconds=%g sf=%g nproc=%d heap=%s"
            % (args.workload, args.seed, args.seconds, args.sf, nproc(), HEAP))
        log("perfbench: session profile %s" % json.dumps(profile))
        gate = gate_mod.Gate(data)
        ch = args.workload == "ch_ingest_read"
        if ch:
            chhttp.post(server.ch_port, W.INGEST_DDL.format(t=WARM_TABLE))
        warm = W.Streams(args.workload, args.seed, sizes, heavy_sql, table=WARM_TABLE,
                         salt=W.WARM_SALT)
        _, warm_s, died = loadgen.run_window(server, warm, WARM_S, min_ops=min_ops(warm))
        log("perfbench: warm-up %.1fs" % warm_s)
        if ch:
            chhttp.post(server.ch_port, W.INGEST_DDL.format(t=INGEST_TABLE))
        streams = W.Streams(args.workload, args.seed, sizes, heavy_sql, table=INGEST_TABLE)
        records, _, died_in_window = loadgen.run_window(
            server, streams, args.seconds, min_ops=min_ops(streams), capture=gate.capture)
        died = died or died_in_window
        if died:
            gate.fail("server", "the server process exited during the run")
        else:
            rss = server.peak_rss_mb()
            gate.check_pg()
            if ch:
                gate.check_ingest(server, INGEST_TABLE)
        ok = [r for r in records if r.ok]
        result["attempted"] = len(records)
        result["failed"] = len(records) - len(ok)
        report_failures(records)
        storage = (0, 0.0)
        if args.workload == "pg_analytic" and not died:
            floor = gate.engine_floor(dict(heavy_sql, wide_orders=W.WIDE_SQL))
            for name, ms in sorted(floor.items()):
                log("engine_floor.duckdb_ms %-20s %9.2f ms  (DuckDB 1.0.0 in-process, reference only)"
                    % (name, ms))
        if ch and not died:
            payload = sum(r.nbytes for r in ok if r.cls == "side")
            storage = storage_stats(server, INGEST_TABLE, payload)
        correct = not gate.failures and not died
        for f in gate.failures[:20]:
            log("GATE FAIL %s" % f)
        log("perfbench: correctness gate %s (%d distinct statements checked, %d failures)"
            % ("passed" if correct else "FAILED", gate.checked, len(gate.failures)))
        result["correct"] = correct
        if args.trace == 0:
            metrics = e2e_metrics(server, records, rss if not died else 0.0, args.workload,
                                  min_ops(streams))
        else:
            server.stop()
            metrics = layers.per_layer(args, classes, data, run_dir, streams, warm, records,
                                      storage, WARM_S, min_ops(warm))
        result["metrics"] = metrics
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


def report_failures(records):
    """error_rate per class, with refusals, errors and timeouts counted
    against attempts; then per-kind latencies and each failure."""
    for cls in ("main", "side"):
        mine = [r for r in records if r.cls == cls]
        if mine:
            fails = [r.err.split(":")[0] for r in mine if not r.ok]
            types = " ".join("%s=%d" % (t, fails.count(t))
                             for t in ("refused", "error", "timeout", "connection"))
            log("error_rate %-5s %.4f  (%d failed / %d attempted: %s)"
                % (cls, len(fails) / len(mine), len(fails), len(mine), types))
    for cls, kind in sorted({(r.cls, r.kind) for r in records}):
        lat = [r.latency * 1000.0 for r in records if r.ok and (r.cls, r.kind) == (cls, kind)]
        if lat:
            log("kind %-4s %-20s n=%-5d p50 %9.2f ms  max %9.2f ms"
                % (cls, kind, len(lat), stats.p50(lat), max(lat)))
    for r in records:
        if not r.ok:
            log("FAILED %s %s: %s" % (r.cls, r.kind, r.err[:300]))


def kind_p50(records, cls):
    """Median latency (ms) of each statement kind of a class, and their
    geometric mean: every kind weighs the same, whichever kinds the
    seeded order drew more often, so the figure holds still when the
    mix of a short window shifts."""
    by = {}
    for r in records:
        if r.cls == cls:
            by.setdefault(r.kind, []).append(
                r.latency * 1000.0 if r.ok else FAILED_MS)
    meds = {k: stats.p50(v) for k, v in by.items()}
    gm = math.exp(sum(math.log(v) for v in meds.values()) / len(meds)) if meds else 0.0
    return gm, meds


def throughput(records, rounds):
    """Sum over connections of completed ops per second, each connection
    over its whole rounds only (`rounds[conn]` ops each): a partial last
    round would weigh the rate by which kinds it happened to hold. The
    time is the connection's own span, so idling while a slow statement
    elsewhere finishes past the window does not count."""
    total = 0.0
    for c in {r.conn for r in records}:
        mine = sorted((r for r in records if r.conn == c), key=lambda r: r.seq)
        mine = mine[:max(1, len(mine) // rounds[c]) * rounds[c]]
        span = mine[-1].start + mine[-1].latency - mine[0].start
        total += sum(1 for r in mine if r.ok) / span
    return total


CLASS_NAMES = {  # per-class figure names (short, heavy, read, ingest) by workload
    "pg_short": [("short", ("main", "side"))],
    "pg_analytic": [("heavy", ("main",)), ("short", ("side",))],
    "ch_ingest_read": [("read", ("main",)), ("ingest", ("side",))],
}


def named_lines(records, workload, rounds):
    """Report lines under per-class names: pooled p50 and tail (the
    highest percentile with at least 10 samples beyond it, p95 at most)
    per class, ingest rows per second, and the overall error rate."""
    for name, classes in CLASS_NAMES[workload]:
        lat = [x for c in classes for x in class_latencies(records, c)]
        log("report %-16s %10.2f ms  n=%d" % (name + "_p50_ms", stats.p50(lat), len(lat)))
        log("report %-16s %10.2f ms  n=%d  (p%d)" % (name + "_p95_ms", stats.tail(lat), len(lat),
                                                   stats.tail_pct(len(lat))))
    if workload == "ch_ingest_read":
        side = [r for r in records if r.cls == "side"]
        log("report %-16s %10.2f rows/s  n=%d batches" % (
            "ingest_rows_per_s", throughput(side, rounds) * W.INGEST_BATCH, len(side)))
    failed = sum(1 for r in records if not r.ok)
    log("report %-16s %10.4f  (%d failed / %d attempted)" % (
        "error_rate", failed / len(records) if records else 0.0, failed, len(records)))


def e2e_metrics(server, records, rss, workload, rounds):
    ok = [r for r in records if r.ok]
    m = {}

    def put(name, value, unit, n, note=""):
        m[name] = {"value": value, "unit": unit}
        log("metric %-18s %12.4f %-4s n=%-6d %s" % (name, value, unit, n, note))

    put("setup_s", server.setup_s, "s", 1, "launch -> both ports answer SELECT 1")
    put("ops_per_s", throughput(records, rounds), "1/s", len(ok),
        "completed operations per second over whole rounds, summed over connections")
    for cls in ("main", "side"):
        gm, meds = kind_p50(records, cls)
        n = sum(1 for r in records if r.cls == cls)
        put(cls + "_kind_p50_ms", gm, "ms", n,
            "geometric mean over %d statement kinds of each kind's p50" % len(meds))
    log("rss_peak_mb %.1f MB  (server VmHWM from /proc; report only)" % rss)
    named_lines(records, workload, rounds)
    return m


if __name__ == "__main__":
    main()
