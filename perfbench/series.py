"""Run the benchmark over several seeds and summarise each end-to-end
metric by its median, quartiles and spread (quartile distance / median).

    python3 perfbench/series.py --workloads graph_store --seeds 1-10
    python3 perfbench/series.py --seeds 1-10 --out perfbench/baseline.json

Run from the repository root. Each run is a fresh, untraced process,
one after another, and measures ``run_seconds`` from BENCHMARK.json.
The raw results go to ``.perfbench/series-<workload>.jsonl``. With
``--out``, the summary is written as the baseline file that records the
figures a later change is compared against.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    """``"1-10"`` or ``"3,5,8"``."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summary(values: list[float]) -> dict:
    if len(values) < 2:
        values = values * 2
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0, "n": len(values),
    }


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()

    (ROOT / ".perfbench").mkdir(exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in args.workloads:
        runs = []
        log = ROOT / ".perfbench" / f"series-{w}.jsonl"
        for seed in args.seeds:
            t = time.monotonic()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"])],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, check=False,
            )
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            run = {"seed": seed, "rc": p.returncode,
                   "process_s": time.monotonic() - t, "result": res}
            runs.append(run)
            with open(log, "a") as f:
                f.write(json.dumps(run) + "\n")
            print(json.dumps(run), file=sys.stderr)
        ok = [r["result"] for r in runs if r["result"] is not None]
        host = ROOT / ".perfbench" / f"host-{w}-{args.seeds[-1]}.json"
        report[w] = {
            "host": {k: v for k, v in json.loads(host.read_text()).items()
                     if k in ("cores", "ram_gb", "pyspark", "python", "commit",
                              "package_sha256")} if host.exists() else None,
            "seconds": spec["run_seconds"],
            "runs": len(runs),
            "failed_runs": len(runs) - len(ok),
            "ops_failed": sum(r["failed"] for r in ok),
            "ops_attempted": sum(r["attempted"] for r in ok),
            "process_s": summary([r["process_s"] for r in runs]),
            "metrics": {
                m: {**summary([r["metrics"][m]["value"] for r in ok]),
                    "unit": ok[0]["metrics"][m]["unit"],
                    "bound": bounds.get(m)}
                for m in (ok[0]["metrics"] if ok else {})
            },
        }
        for m, s in report[w]["metrics"].items():
            flag = ""
            if s["bound"] is not None and m != "setup_s" and s["spread"] > s["bound"] / 3:
                flag = "  <-- spread above a third of the bound"
            print(f"{w:14s} {m:14s} median {s['median']:10.4f} {s['unit']:5s} "
                  f"spread {s['spread']:.4f}{flag}")
    if args.out:
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
