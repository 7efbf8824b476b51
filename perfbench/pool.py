"""Derive the ``queries`` workload's sample from measured query costs.

    python3 perfbench/pool.py             # query_costs.json -> query_pool.json
    python3 perfbench/pool.py --measure   # re-measure query_costs.json first

Run it from the repository root. ``query_costs.json`` holds, for every
``bench.HEADLINE`` query, three consecutive runs (cold, warm, warm2) in
one ``local[4]`` session on the tables ``datagen.py`` writes for seed
``MEASURE_SEED``, and whether the result matched its DuckDB oracle. A query's cost is the
lower of its two warm runs. The sample is the median-cost query of each
of ``STRATA`` equal-size strata of the matching queries that cost at
most ``LIMIT_S``, ordered by cost. The heavier ones are left out: with
them the strata medians lie far apart, so the median operation of a run
is one query's two timings, and the costliest (graph kernels, streaming
replays, the bootstrap) each take as long as a third of a pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from queries import POOL_FILE

HERE = os.path.dirname(os.path.abspath(__file__))
COSTS_FILE = os.path.join(HERE, "query_costs.json")
STRATA = 8
LIMIT_S = 1.0
MEASURE_SEED = 2


def stratify(costs: dict[str, dict], strata: int = STRATA, limit_s: float = LIMIT_S) -> list[str]:
    """The median-cost query of each of ``strata`` equal-size strata."""
    ranked = sorted(
        (min(c["warm"], c["warm2"]), name)
        for name, c in costs.items()
        if c["ok"] and min(c["warm"], c["warm2"]) <= limit_s
    )
    n = len(ranked)
    picks = []
    for s in range(strata):
        stratum = ranked[s * n // strata : (s + 1) * n // strata]
        picks.append(stratum[len(stratum) // 2][1])
    return picks


def measure(seed: int) -> dict[str, dict]:
    root = os.getcwd()
    work = os.path.join(HERE, ".work", f"pool-{os.getpid()}")
    sys.path[:0] = [HERE, os.path.join(root, "tools")]
    import run

    run.setup_env(root, work)
    import duckdb
    from local_verify import table_key

    import __spark_entry__ as entry
    import bench
    import common
    import datagen
    from mi_inbound_pulsar_spark.session import get_spark
    from mi_inbound_pulsar_spark.sources.tables import TABLE_NAMES

    data = datagen.write(seed, os.path.join(work, "data"))
    spark = get_spark("perfbench-pool", master=common.MASTER,
                      extra_conf=common.session_conf(work, False))
    con = duckdb.connect()
    for table in TABLE_NAMES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
    queries, oracles, costs = entry.queries(), entry.oracle_sql(), {}
    try:
        for name in bench.HEADLINE:
            runs = []
            for _ in range(3):
                t0 = time.time()
                tbl = queries[name](spark, data).toArrow()
                runs.append(time.time() - t0)
                spark.catalog.clearCache()
            ok = table_key(tbl) == table_key(con.sql(oracles[name]).arrow())
            costs[name] = dict(zip(("cold", "warm", "warm2"), runs), ok=ok)
            print(name, costs[name], flush=True)
    finally:
        con.close()
        common.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    return costs


def write_costs(seed: int, costs: dict[str, dict]) -> None:
    """``query_costs.json``, one query a line."""
    lines = [f"  {json.dumps(name)}: {json.dumps(c)}" for name, c in costs.items()]
    with open(COSTS_FILE, "w") as f:
        f.write(f'{{"seed": {seed}, "queries": {{\n' + ",\n".join(lines) + "\n}}\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--measure", action="store_true", help="re-measure query_costs.json")
    args = ap.parse_args(argv)
    if args.measure:
        write_costs(MEASURE_SEED, measure(MEASURE_SEED))
    with open(COSTS_FILE) as f:
        costs = json.load(f)["queries"]
    with open(POOL_FILE, "w") as f:
        json.dump({"sample": stratify(costs)}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
