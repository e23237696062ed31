"""Run sets and compare them.

``python3 perfbench/sets.py run --seeds 1-10 --out set.json`` runs every
workload of ``BENCHMARK.json`` once per seed (untraced) plus one traced
run per workload, and writes every result with its host record and, per
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median).

``python3 perfbench/sets.py compare a.json b.json`` compares two sets
metric by metric against the bounds in ``BENCHMARK.json``. Sets from
hosts with a different nproc, master or driver heap are refused.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.host import differences  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n"
                           f"{out.stderr[-4000:]}")
    host = next((json.loads(line[len("# host "):]) for line in lines
                 if line.startswith("# host ")), None)
    return {"workload": workload, "seed": seed, "trace": trace, "host": host,
            "notes": [line for line in lines[:-1] if not line.startswith("# host ")],
            "result": json.loads(lines[-1])}


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"), "n": len(values)}


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(args) -> None:
    b = spec()
    if args.workload:
        b["workloads"] = [w for w in b["workloads"] if w["name"] == args.workload]
    runs = []
    for w in b["workloads"]:
        for s in seeds(args.seeds):
            runs.append(one(w["name"], s, b["run_seconds"], 0))
            print(json.dumps({k: runs[-1][k] for k in ("workload", "seed")}
                             | {"metrics": {m: v["value"] for m, v in
                                            runs[-1]["result"]["metrics"].items()}}),
                  flush=True)
        if args.traced:
            runs.append(one(w["name"], seeds(args.seeds)[0], b["run_seconds"], 1))
    stats = {}
    for w in b["workloads"]:
        res = [r["result"] for r in runs if r["workload"] == w["name"] and not r["trace"]]
        stats[w["name"]] = {
            m["name"]: summary([r["metrics"][m["name"]]["value"] for r in res])
            for m in b["end_to_end"]}
        stats[w["name"]]["failed"] = sum(r["failed"] for r in res)
        stats[w["name"]]["attempted"] = sum(r["attempted"] for r in res)
        stats[w["name"]]["all_correct"] = all(r["correct"] for r in res)
    with open(args.out, "w") as fh:
        json.dump({"host": runs[0]["host"], "summary": stats, "runs": runs},
                  fh, indent=1)
    print(json.dumps(stats, indent=1))


def compare(args) -> int:
    b = spec()
    with open(args.a) as fh:
        a = json.load(fh)
    with open(args.b) as fh:
        c = json.load(fh)
    invalid = differences(a["host"], c["host"])
    if invalid:
        print("INVALID comparison, hosts differ: " + "; ".join(invalid))
        return 2
    worst = 0
    for w in b["workloads"]:
        for m in b["end_to_end"]:
            x = a["summary"][w["name"]][m["name"]]
            y = c["summary"][w["name"]][m["name"]]
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (y["median"] - x["median"]) / x["median"]
            ok = worse <= m["bound"]
            worst |= not ok
            print(f"{w['name']:10} {m['name']:12} {x['median']:12.4f} "
                  f"{y['median']:12.4f} worse {worse:+.4f} bound {m['bound']} "
                  f"spread {x['spread']:.4f}/{y['spread']:.4f} "
                  f"{'ok' if ok else 'WORSE'}")
    return worst


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out", required=True)
    r.add_argument("--traced", action="store_true")
    r.add_argument("--workload", help="run only this workload")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "run":
        run_set(args)
        return 0
    return compare(args)


if __name__ == "__main__":
    sys.exit(main())
