"""Run-to-run spread and tracing overhead, from repeated runs.

    python3 perfbench/compare.py spread --workload curation_neardup --seeds 1-10 --seconds 12 --out a.json
    python3 perfbench/compare.py shift first.json second.json
    python3 perfbench/compare.py overhead

`spread` runs the benchmark once per seed and prints, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median, with the
bound BENCHMARK.json fixes; `--out` keeps the values. `shift` compares the
medians of two such sweeps. `overhead` pairs the traced and untraced records
in .perfbench_out/ by workload and seed and prints traced / untraced for
each end-to-end metric.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(workload: str, seeds: list[int], seconds: int, out: str | None) -> int:
    """Run each seed once; print each end-to-end metric's median and quartile
    spread against its bound. setup_s is held to its median shift only,
    not to the spread bound; it is printed all the same."""
    bench = _bench()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    runs = []
    for seed in seeds:
        cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        t = time.perf_counter()
        res = json.loads(subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                        check=True).stdout.strip().splitlines()[-1])
        wall = time.perf_counter() - t
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: wall={wall:.0f}s correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    worst = 0.0
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med
        worst = max(worst, share / bounds[k])
        print(f"{k:16s} median {med:12.4f}  spread {share:6.3f}  bound {bounds[k]}  spread/bound {share / bounds[k]:.3f}")
    print(f"largest spread / bound: {worst:.3f}; correct in {sum(r['correct'] for r in runs)} of {len(runs)} runs; "
          f"wall {sum(r['wall_s'] for r in runs):.0f}s")
    if out:
        with open(out, "w") as f:
            json.dump({"workload": workload, "seeds": seeds, "seconds": seconds, "values": values, "runs": runs}, f)
    return 0


def shift(first: str, second: str) -> int:
    """How much worse the second sweep's median is than the first's, per
    metric, as a share of the first median, against the metric's bound."""
    bench = _bench()
    spec = {m["name"]: m for m in bench["end_to_end"]}
    with open(first) as f:
        a = json.load(f)
    with open(second) as f:
        b = json.load(f)
    worst = 0.0
    for k, m in spec.items():
        ma, mb = statistics.median(a["values"][k]), statistics.median(b["values"][k])
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        worst = max(worst, worse / m["bound"])
        print(f"{a['workload']:22s} {k:16s} median {ma:12.4f} -> {mb:12.4f}  worse by {worse:+.3f}  bound {m['bound']}")
    print(f"largest worsening / bound: {worst:.3f}")
    return 0


def overhead() -> int:
    recs: dict[tuple[str, int, int], dict] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, ".perfbench_out", "*.json"))):
        with open(path) as f:
            r = json.load(f)
        recs[(r["workload"], r["seed"], r["trace"])] = r  # latest run wins
    for (wl, seed, tr), r in sorted(recs.items()):
        base = recs.get((wl, seed, 0))
        if tr != 1 or base is None:
            continue
        ratios = {k: r["end_to_end"][k] / v for k, v in base["end_to_end"].items() if v}
        print(f"{wl} seed {seed}: traced/untraced " + " ".join(f"{k}={v:.3f}" for k, v in ratios.items()))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    sp.add_argument("--seconds", type=int, required=True)
    sp.add_argument("--out", help="write the values to this JSON file, for `shift`")
    sh = sub.add_parser("shift")
    sh.add_argument("first")
    sh.add_argument("second")
    sub.add_parser("overhead")
    a = ap.parse_args()
    if a.cmd == "spread":
        return spread(a.workload, _seeds(a.seeds), a.seconds, a.out)
    if a.cmd == "shift":
        return shift(a.first, a.second)
    return overhead()


if __name__ == "__main__":
    sys.exit(main())
