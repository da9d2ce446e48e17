"""Steadiness report: run the benchmark in two sets of seeds on the
current tree and print, for every end-to-end metric and workload, each
set's median and quartiles, the spread (IQR / median) against the
metric's bound (flagged above a third of it), and the second set's
median shift against the bound, plus each set's host steal. Exits 1
when a spread or a shift is beyond its bound.

    python3 layerbench/steadiness.py --seeds 1-10

Bounds, run length and workloads come from BENCHMARK.json; raw results
go to layerbench/.work/steadiness.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.splitlines()[-5:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}\n{tail}")
    out = json.loads(lines[-1])
    detail = json.loads((HERE / ".work" / "out" /
                         f"{workload}_seed{seed}_trace0.json").read_text())
    out["steal_s"] = detail["steal_s_timed"]
    return out


def report(bench: dict, sets: list[dict]) -> bool:
    ok = True
    print(f"{'workload':<20}{'metric':<14}{'bound':>6}  "
          + "  ".join(f"{'set' + str(i + 1) + ' median [q1, q3] spread':>44}"
                      for i in range(len(sets))) + "   shift")
    for wl in (w["name"] for w in bench["workloads"]):
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells, medians = [], []
            for s in sets:
                xs = [r["metrics"][name]["value"] for r in s[wl]]
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                medians.append(med)
                flag = "" if spread < bound / 3 else " !"
                ok &= spread <= bound
                cells.append(f"{med:>10.4f} [{q1:.4f}, {q3:.4f}] "
                             f"{spread:6.3f}{flag:2}")
            shift = ""
            if len(medians) > 1:
                worse = (medians[-1] - medians[0]) / medians[0]
                ok &= worse <= bound
                shift = f"{worse:+.3f}{' !' if worse > bound else ''}"
            print(f"{wl:<20}{name:<14}{bound:>6}  " + "  ".join(cells)
                  + f"   {shift}")
    for i, s in enumerate(sets):
        steal = sum(r["steal_s"] for runs in s.values() for r in runs)
        failed = sum(r["failed"] for runs in s.values() for r in runs)
        print(f"set {i + 1}: host steal over timed passes {steal:.2f}s, "
              f"failed executions {failed}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    sets = []
    for i in range(a.sets):
        runs = {}
        for wl in names:
            runs[wl] = []
            for seed in _seeds(a.seeds):
                r = run_once(wl, seed, bench["run_seconds"])
                runs[wl].append(r)
                print(f"# set {i + 1} {wl} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.3f}" for k, v in r["metrics"].items()),
                    file=sys.stderr, flush=True)
        sets.append(runs)
    (HERE / ".work" / "steadiness.json").write_text(json.dumps(sets, indent=1))
    return 0 if report(bench, sets) else 1


if __name__ == "__main__":
    sys.exit(main())
