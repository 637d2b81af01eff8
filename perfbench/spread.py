"""Run one workload under several seeds and report each end-to-end
metric's median and quartile spread (IQR / median), the figure the
benchmark's bounds are judged against.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 --seconds 8 [--out runs.jsonl] [--overhead]

With ``--overhead`` each seed is also run traced, and the median of
trace.op_ms_p50 / op_ms_p50 - 1 over the seeds is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: str, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True,
    )
    wall = time.time() - t0
    last = (p.stdout.strip().splitlines() or [""])[-1]
    res = json.loads(last) if last.startswith("{") else None
    summary = next((json.loads(x)["summary"] for x in p.stderr.splitlines() if x.startswith('{"summary"')), None)
    ok = res is not None and res["correct"] and p.returncode == 0
    vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()} if res else p.stderr[-2000:]
    print(f"seed {seed} trace {trace}: rc={p.returncode} ok={ok} wall={wall:.1f}s {vals}", flush=True)
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall, "rc": p.returncode,
            "result": res, "summary": summary}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--overhead", action="store_true", help="also run each seed traced")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs, overhead = [], []
    for s in seeds(args.seeds):
        for trace in (0, 1) if args.overhead else (0,):
            runs.append(run_once(args.workload, s, args.seconds, trace))
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(runs[-1]) + "\n")
        if args.overhead and runs[-1]["result"] and runs[-2]["result"]:
            traced = runs[-1]["result"]["metrics"]["trace.op_ms_p50"]["value"]
            overhead.append(traced / runs[-2]["result"]["metrics"]["op_ms_p50"]["value"] - 1.0)
    good = [r["result"] for r in runs if r["result"] and r["trace"] == 0]
    if len(good) >= 2:
        for k in good[0]["metrics"]:
            v = [g["metrics"][k]["value"] for g in good]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4)
            print(f"{k:40s} median {med:12.3f}  iqr/median {(q[2] - q[0]) / med if med else 0:.4f}")
    if overhead:
        print(f"tracing overhead: median {100 * statistics.median(overhead):.1f} % over {len(overhead)} seeds")
    walls = [r["wall_s"] for r in runs if r["trace"] == 0]
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return 0 if all(r["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
