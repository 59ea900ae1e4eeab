"""Write perfbench/baseline.json: two back-to-back sets of runs of every
workload over the same seeds (--trace 0, BENCHMARK.json's run_seconds),
each metric summarized by median, quartiles (statistics.quantiles,
n=4) and spread (quartile distance over the median); whether the two
sets agree within BENCHMARK.json's bounds; and one traced run (seed 1)
per workload for the per-layer values.

Usage: python3 perfbench/repeat.py   (seeds 1-10; about 40 minutes on 4 cores)
Every run's full output is kept in .bench_build/repeat/.
"""
import glob
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import workloads  # noqa: E402
from server import HEAP, nproc  # noqa: E402

PROFILE = "perfbench: session profile "
LOGS = os.path.join(build.BUILD, "repeat")
SEEDS = range(1, 11)
OUT = os.path.join(HERE, "baseline.json")


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def run_once(workload, seed, seconds, trace, tag):
    """One run.py run; returns (parsed result or None, wall seconds, stdout)."""
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    with open(os.path.join(LOGS, "%s-%s-seed%d.log" % (tag, workload, seed)), "w") as f:
        f.write(p.stdout + p.stderr)
    res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
    print("%s %s seed %d exit %d %.0fs %s" % (tag, workload, seed, p.returncode, wall,
          json.dumps({k: round(v["value"], 3) for k, v in (res or {}).get("metrics", {}).items()
                      } if trace == 0 else {})), flush=True)
    return res, wall, p.stdout


def one_set(tag, seed_list, seconds, board):
    out = {}
    for w in workloads.WORKLOADS:
        runs = []
        for s in seed_list:
            res, wall, stdout = run_once(w, s, seconds, 0, tag)
            for line in stdout.splitlines():
                if line.startswith(PROFILE):
                    board["profile"] = json.loads(line[len(PROFILE):])
            runs.append((res, wall))
        ok = [r for r, _ in runs if r]
        names = ok[0]["metrics"] if ok else {}
        out[w] = {
            "runs": len(runs), "ok_runs": len(ok),
            "correct": len(ok) == len(runs) and all(r["correct"] for r in ok),
            "failed_ops": sum(r["failed"] for r in ok),
            "metrics": {k: dict(summarize([r["metrics"][k]["value"] for r in ok]),
                                unit=names[k]["unit"]) for k in names},
            "wall_s": summarize([wall for _, wall in runs]),
        }
    return out


def agree(first, second, declared):
    """Per workload and metric: both medians, the shift of the second
    from the first in the worse direction (as a share of the first),
    both spreads, and whether the benchmark's acceptance holds (every
    spread but setup_s's within the bound, the worse-shift within it)."""
    out = {}
    for w in workloads.WORKLOADS:
        out[w] = {}
        for m in declared:
            a, b = first[w]["metrics"][m["name"]], second[w]["metrics"][m["name"]]
            worse = (b["median"] - a["median"]) / a["median"]
            if m["better"] == "higher":
                worse = -worse
            spreads_ok = m["name"] == "setup_s" or max(a["spread"], b["spread"]) <= m["bound"]
            out[w][m["name"]] = {
                "median_1": round(a["median"], 4), "median_2": round(b["median"], 4),
                "worse_by": round(worse, 4),
                "spread_1": round(a["spread"], 4), "spread_2": round(b["spread"], 4),
                "bound": m["bound"], "ok": spreads_ok and worse <= m["bound"]}
    return out


def host():
    def first(path, key):
        try:
            with open(path) as f:
                return next((l.split(":", 1)[1].strip() for l in f if l.startswith(key)), "?")
        except OSError:
            return "?"
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    import duckdb
    spark = glob.glob(os.path.join(build.spark_jars(), "spark-core_*.jar"))
    return {"nproc": nproc(), "machine": platform.machine(), "cpu": first("/proc/cpuinfo",
            "model name"), "memory": first("/proc/meminfo", "MemTotal"),
            "python": platform.python_version(), "java": java.splitlines()[0] if java else "?",
            "spark_core": os.path.basename(spark[0]) if spark else "?",
            "duckdb": duckdb.__version__, "server_heap": HEAP}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    os.makedirs(LOGS, exist_ok=True)
    board = {"what": "perfbench baseline from `python3 perfbench/repeat.py`: two back-to-back "
                     "sets of every workload over seeds 1-10 (--trace 0, --seconds %d), their "
                     "agreement within BENCHMARK.json's bounds, and one --trace 1 run (seed 1) "
                     "per workload" % seconds,
             "host": host(), "profile": {}, "seconds": seconds}
    sets = [one_set("set%d" % i, SEEDS, seconds, board) for i in (1, 2)]
    board["sets_agree"] = agree(sets[0], sets[1], bench["end_to_end"])
    board["sets"] = sets
    board["per_layer_seed1"] = {}
    for w in workloads.WORKLOADS:
        res, _, _ = run_once(w, 1, seconds, 1, "trace")
        board["per_layer_seed1"][w] = {k: round(v["value"], 6)
                                       for k, v in (res or {}).get("metrics", {}).items()}
    for w, ms in board["sets_agree"].items():
        for k, v in ms.items():
            print("%-15s %-18s %s" % (w, k, json.dumps(v)))
    with open(OUT, "w") as f:
        json.dump(board, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()
