"""Steadiness check: repeat each workload over several seeds and report
the median and quartiles of every end-to-end metric against the bounds
in ``BENCHMARK.json``.

    python3 perfbench/steady.py --seeds 10
    python3 perfbench/steady.py --workloads queries --seeds 5 --overhead

Run it from the repository root. A metric passes when its quartile
distance over median is within its bound (``setup_s`` is reported but
not gated) and is called steady when that spread is under a third of
the bound. ``--overhead`` adds one traced run per workload at the first
seed and prints traced minus untraced time. ``--against FILE`` compares
this series' medians with an earlier one saved by ``--save``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def last_json(stdout: str) -> dict:
    """The result object a run prints as its last line."""
    lines = [ln for ln in stdout.strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError("run printed nothing")
    return json.loads(lines[-1])


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=200)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return last_json(proc.stdout)


def verdict(name: str, values: list[float], bound: float) -> dict:
    """Spread of one metric's values and whether it is within (and
    under a third of) its bound; ``setup_s`` spread is not gated."""
    s = spread(values)
    gated = name != "setup_s"
    s["bound"] = bound
    s["ok"] = (not gated) or s["iqr_share"] <= bound
    s["steady"] = (not gated) or s["iqr_share"] < bound / 3
    return s


def regression(before: float, after: float, better: str, bound: float) -> bool:
    """True when ``after`` is worse than ``before`` by more than ``bound``
    as a share of ``before``."""
    worse = (after - before) if better == "lower" else (before - after)
    return worse > bound * abs(before)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=None)
    ap.add_argument("--seeds", type=int, default=10, help="runs per workload")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--save", default=None, help="write the raw series to this JSON file")
    ap.add_argument("--against", default=None, help="earlier --save file to compare medians with")
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    seeds = list(range(1, args.seeds + 1))
    series: dict[str, dict[str, list[float]]] = {}
    all_ok = True
    for w in workloads:
        runs = []
        for seed in seeds:
            res = run_once(w, seed, seconds, 0)
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            all_ok &= bool(res["correct"])
            runs.append(res)
        series[w] = {m["name"]: [r["metrics"][m["name"]]["value"] for r in runs] for m in spec["end_to_end"]}
        print(f"\n{w}: {len(runs)} runs of {seconds:g} s")
        print(f"  {'metric':<18}{'q1':>12}{'median':>12}{'q3':>12}{'iqr/med':>9}{'bound':>7}  verdict")
        for m in spec["end_to_end"]:
            v = verdict(m["name"], series[w][m["name"]], m["bound"])
            all_ok &= v["ok"]
            tag = "steady" if v["steady"] and v["ok"] else ("ok" if v["ok"] else "TOO WIDE")
            if m["name"] == "setup_s":
                tag = "not gated"
            print(f"  {m['name']:<18}{v['q1']:>12.4f}{v['median']:>12.4f}{v['q3']:>12.4f}"
                  f"{v['iqr_share']:>9.3f}{m['bound']:>7.2f}  {tag}")
        if args.overhead:
            traced = run_once(w, seeds[0], seconds, 1)["metrics"]
            untraced_p50 = spread(series[w]["op_p50_ms"])["median"]
            diff = traced["trace.op_p50_ms"]["value"] - untraced_p50
            print(f"  tracing overhead: op_p50 traced {traced['trace.op_p50_ms']['value']:.1f} ms"
                  f" - untraced median {untraced_p50:.1f} ms = {diff:+.1f} ms"
                  f" ({diff / untraced_p50:+.1%})")
        print(flush=True)

    if args.save:
        with open(args.save, "w") as f:
            json.dump({"seconds": seconds, "seeds": seeds, "series": series}, f, indent=1)
    if args.against:
        with open(args.against) as f:
            before = json.load(f)["series"]
        for w in workloads:
            for m in spec["end_to_end"]:
                if w not in before:
                    continue
                a = spread(before[w][m["name"]])["median"]
                b = spread(series[w][m["name"]])["median"]
                bad = regression(a, b, m["better"], m["bound"])
                all_ok &= not bad
                print(f"{w:<8}{m['name']:<18} median {a:.4f} -> {b:.4f}"
                      f"  {'WORSE THAN BOUND' if bad else 'within bound'}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
