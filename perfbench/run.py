"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload ingest|queries \
        --seed N --seconds S --trace 0|1

Run it from the repository root. It writes its inputs (seeded tables)
and all Spark state under ``perfbench/.work/`` and removes them at the
end; a traced run also leaves its spans in ``perfbench/results/``.
The last line of standard output is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones. Exit
code 0 means the run completed; ``correct`` says whether every output
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "queries")
#: the seed runs use when none is given; a claimed gain must also hold
#: on seed 2
DEFAULT_SEED = 1
#: a run must end well inside three minutes
HARD_LIMIT_S = 170


def _spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


def _alarm(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def setup_env(root: str, work: str) -> None:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package from the checkout; tempfile users
    # (the replay queries' scratch dirs) stay inside the work directory
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    sys.path[:0] = [root, HERE]


def _run(args, root: str, work: str, tracer) -> tuple[dict, object]:
    import common

    module = __import__(args.workload)
    data_dir = None
    if args.workload != "ingest":
        data_dir = os.path.join(work, "data")
        # a child process, so that the tables' memory is not in this
        # process's peak RSS
        with tracer.span("inputs.generate"):
            subprocess.run(
                [sys.executable, os.path.join(HERE, "datagen.py"), str(args.seed), data_dir],
                check=True, timeout=HARD_LIMIT_S,
            )
    spark, build_times, worker_warmup_s = common.build_session(work, tracer, module.prepare)
    out = {"build_s": statistics.median(build_times)}
    with tracer.span("workload.run"):
        if args.workload == "ingest":
            result, warmup_s = module.run(spark, args.seed, args.seconds, work, tracer)
        else:
            result, warmup_s, names = module.run(
                spark, data_dir, args.seed, args.seconds, work, tracer, root
            )
            out["draw"] = names
    out.update(result=result, warmup_s=worker_warmup_s + warmup_s)
    return out, spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mi_inbound_pulsar_spark")):
        print("perfbench: run from the repository root; mi_inbound_pulsar_spark/ is missing",
              file=sys.stderr)
        return 2
    spec = _spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    setup_env(root, work)
    from spans import Tracer

    import common

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(HARD_LIMIT_S)
    tracer = Tracer(bool(args.trace))
    t_run = time.time()
    spark = None
    try:
        out, spark = _run(args, root, work, tracer)
    finally:
        signal.alarm(0)
        wall_run = time.time() - t_run
        common.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)

    report = _report(args, spec, out, tracer, wall_run)
    print(json.dumps(report))
    return 0


def _report(args, spec, out, tracer, wall_run: float) -> dict:
    from stats import tail

    r = out["result"]
    build_s = out["build_s"]
    setup_s = build_s + out["warmup_s"]
    ok = bool(r.ops_s) and r.wall_s > 0
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    values = {
        "setup_s": setup_s,
        "throughput_per_s": r.work / r.wall_s if ok else 0.0,
        "op_p50_ms": statistics.median(r.ops_s) * 1000 if ok else 0.0,
        "op_tail_ms": (tail(r.ops_s)[0] if ok else 0.0) * 1000,
        # the benchmark process and its JVM; the Python workers' count
        # alive at the end of a run varies, so they are only reported
        "peak_rss_mb": r.rss["benchmark"] + r.rss["jvm"],
    }
    e2e = {name: (value, units[name]) for name, value in values.items()}
    tail_pct, n_ops = (tail(r.ops_s)[1], len(r.ops_s)) if ok else (0.0, 0)
    failed_share = r.failed / r.attempted if r.attempted else 1.0

    print(f"workload {args.workload}  seed {args.seed}  run {args.seconds:g} s  trace {args.trace}")
    if "draw" in out:
        print("pass order: " + " ".join(out["draw"]))
    for name, (value, unit) in e2e.items():
        print(f"  {name:<18}{value:>14.4f} {unit}")
    print(f"  {'failed_share':<18}{failed_share:>14.4f} share ({r.failed}/{r.attempted})")
    print(f"  op_tail_ms is p{tail_pct:g} of {n_ops} operations")
    print("  peak RSS (MB; workers is a count): "
          + ", ".join(f"{k} {v:.0f}" for k, v in r.rss.items()))
    print("  operations (ms): " + " ".join(f"{x * 1000:.0f}" for x in r.ops_s))
    if r.detail:
        print(f"  check failed: {r.detail}")

    if not args.trace:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    else:
        layers = dict(r.layers)
        layers["session.build_s"] = build_s
        layers["session.warmup_s"] = out["warmup_s"]
        layers["trace.op_p50_ms"] = e2e["op_p50_ms"][0]
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"][0]
        layers.update(op_tail_pct=tail_pct, op_count=n_ops, failed_share=failed_share)
        print(f"\nper-layer self time ({args.workload}):")
        print(tracer.self_time_table(wall_run))
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        tracer.dump(
            os.path.join(HERE, "results", f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "wall_s": wall_run, "layers": layers},
        )
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = (float(layers.get(m["name"], 0.0)), m["unit"])
            print(f"  {m['name']:<52}{metrics[m['name']][0]:>16.4f} {m['unit']}")
    return {
        "correct": r.failed == 0 and not r.detail,
        "attempted": int(r.attempted),
        "failed": int(r.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
