"""``queries``: the headline query library, plus one stateful gates epoch.

``query_pool.json`` holds a sample of ``bench.HEADLINE`` queries: the
median-cost query of each of equal-size strata of the headline queries
ordered by warm time on four cores at sf0.1 (at most 1 s, so that the
strata medians lie close together and the median operation does not
hang on one query's two timings). ``pool.py`` derives it from the
measured costs in ``query_costs.json``. Each pass runs those queries and
one ``ComposedGatesPipeline`` epoch (``gates.py``) in an order drawn
from the seed. The first ``WARMUP_PASSES`` passes are the warm-up; then
whole passes run until the run time is spent. Each query's
DataFrame is built by its registered function and its whole result
collected through Arrow (never ``count()``), with ``clearCache()`` after
it. An operation is one query, from the call that builds the DataFrame
to the last Arrow batch, or one gates epoch.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

from common import Result, peak_rss
from gates import Gates
from spans import SparkJobs, Tracer, planning_phases

POOL_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_pool.json")
GATES = "gates.epoch"
#: the first pass of a fresh JVM takes about 1.6 times a later one; the
#: second is about 10% slower than the third, and a second warm-up pass
#: did not narrow that gap
WARMUP_PASSES = 1


def draw(seed: int) -> list[str]:
    """The pass order: the sample's queries and the gates epoch,
    shuffled by ``seed``."""
    with open(POOL_FILE) as f:
        order = json.load(f)["sample"] + [GATES]
    random.Random(seed).shuffle(order)
    return order


def prepare(spark) -> None:
    pass


def _trace_table_loads(tracer: Tracer):
    """Wrap ``sources.tables.load_table`` wherever the query modules
    imported it; returns a function that undoes the wrapping."""
    from mi_inbound_pulsar_spark.sources import tables

    original = tables.load_table

    def load_table(*args, **kwargs):
        with tracer.span("sources.tables.load"):
            return original(*args, **kwargs)

    patched = [
        mod
        for name, mod in list(sys.modules.items())
        if name.startswith("mi_inbound_pulsar_spark")
        and getattr(mod, "load_table", None) is original
    ]
    for mod in patched:
        mod.load_table = load_table

    def undo():
        for mod in patched:
            mod.load_table = original

    return undo


def run(spark, data_dir: str, seed: int, seconds: float, work_dir: str, tracer: Tracer, root: str):
    sys.path.insert(0, os.path.join(root, "tools"))
    import __spark_entry__ as entry
    from local_verify import table_key

    queries = entry.queries()
    names = draw(seed)
    gates = Gates(spark, data_dir, os.path.join(work_dir, "gates"), tracer)

    def one(name: str, op: int):
        if name == GATES:
            with tracer.span(GATES, op=op):
                gates.epoch()
            return None
        with tracer.span("queries.query", op=op):
            with tracer.span("operators.build"):
                df = queries[name](spark, data_dir)
            with tracer.span("operators.execute"):
                tbl = df.toArrow()
        if tracer.enabled and op >= 0:
            _trace_query(tracer, df, op)
        return tbl

    t0 = time.time()
    with tracer.span("queries.warmup"):
        for _ in range(WARMUP_PASSES):
            for name in names:
                one(name, -1)
                spark.catalog.clearCache()
    warmup_s = time.time() - t0

    jobs = SparkJobs(spark) if tracer.enabled else None
    undo = _trace_table_loads(tracer) if tracer.enabled else (lambda: None)
    # each query's distinct results with how many operations returned
    # them: all the check needs
    ops, results, failed = [], {}, 0
    start = time.time()
    i = 0
    try:
        # whole passes: every run measures each operation equally often
        while i % len(names) or time.time() - start < seconds:
            name = names[i % len(names)]
            t0 = time.time()
            try:
                tbl = one(name, i)
                ops.append(time.time() - t0)
                if tbl is not None:
                    seen = results.setdefault(name, [])
                    same = [r for r in seen if tbl.equals(r[0])]
                    if same:
                        same[0][1] += 1
                    else:
                        seen.append([tbl, 1])
            except Exception as exc:  # an operation that raises has failed
                failed += 1
                print(f"queries: {name} raised {exc!r}")
            spark.catalog.clearCache()
            i += 1
    finally:
        undo()
    wall = time.time() - start
    rss = peak_rss()

    # -- correctness, outside the timed region -----------------------------
    with tracer.span("check"):
        bad = _check(results, data_dir, entry.oracle_sql(), table_key)
        gates_problem = gates.check()
    problems = [f"results differ from the DuckDB oracle: {sorted(set(bad))}"] if bad else []
    n_gates = sum(1 for k in range(i) if names[k % len(names)] == GATES)
    if gates_problem:
        problems.append(gates_problem)
    result = Result(
        ops, float(len(ops)), wall, i,
        failed + len(bad) + (n_gates if gates_problem else 0), rss, "; ".join(problems),
    )
    if tracer.enabled:
        _layers(tracer, jobs, result, start, start + wall)
    return result, warmup_s, names


def _check(results, data_dir: str, oracles: dict, table_key) -> list[str]:
    """One name per operation whose result's ``table_key`` differs from
    its DuckDB oracle's over the same tables; ``results`` maps each name
    to its distinct results and their operation counts."""
    import duckdb

    from mi_inbound_pulsar_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for table in TABLE_NAMES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
        bad = []
        for name, seen in results.items():
            want = table_key(con.sql(oracles[name]).arrow())
            bad += [name] * sum(n for tbl, n in seen if table_key(tbl) != want)
        return bad
    finally:
        con.close()


def _trace_query(tracer: Tracer, df, op: int) -> None:
    """Spark's own report of one query: its planning phases, as spans
    under the build or execute span they started in."""
    spans = {s.name: (i, s) for i, s in enumerate(tracer.spans) if s.op == op}
    b_idx, build = spans["operators.build"]
    e_idx, _ = spans["operators.execute"]
    for phase, (lo, hi) in planning_phases(df).items():
        parent = b_idx if lo < build.end else e_idx
        tracer.add_span(f"catalyst.{phase}", lo, hi, parent, op)


def _layers(tracer: Tracer, jobs: SparkJobs, result: Result, lo: float, hi: float) -> None:
    jobs.collect()
    measured = [s for s in tracer.spans if s.op is not None and s.op >= 0]

    def spans(name):
        return [s for s in measured if s.name == name]

    def per_query_ms(name):
        return 1000 * sum(s.end - s.start for s in spans(name)) / n

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    n = max(1, len(spans("queries.query")))
    composed = spans("streaming.composed.call")
    curation = {s.op: s for s in spans("streaming.curation.call")}
    call_ms = [(s.end - s.start) * 1000 for s in composed]
    cur_ms = [(curation[s.op].end - curation[s.op].start) * 1000 for s in composed]
    samples = tracer.samples
    # the warm-up pass's epoch comes first in the samples
    skip = len(samples["streaming.epochio.state_files_per_epoch"]) - len(composed)
    result.layers = {
        "sources.tables.load_calls": len(spans("sources.tables.load")) / n,
        "sources.tables.load_ms": per_query_ms("sources.tables.load"),
        "operators.build_ms": per_query_ms("operators.build"),
        "operators.build_jobs": sum(
            len(jobs.jobs_between(s.start, s.end)) for s in spans("operators.build")
        ) / n,
        "catalyst.analysis_ms": per_query_ms("catalyst.analysis"),
        "catalyst.optimization_ms": per_query_ms("catalyst.optimization"),
        "catalyst.planning_ms": per_query_ms("catalyst.planning"),
        "operators.execute_ms": per_query_ms("operators.execute"),
        "streaming.composed.call_ms": med(call_ms),
        "streaming.curation.call_ms": med(cur_ms),
        "streaming.privacy.ms": med(c - k for c, k in zip(call_ms, cur_ms)),
        "streaming.epochio.state_files_per_epoch": med(
            samples["streaming.epochio.state_files_per_epoch"][skip:]
        ),
        "streaming.epochio.state_bytes_per_epoch": med(
            samples["streaming.epochio.state_bytes_per_epoch"][skip:]
        ),
        "streaming.composed.jobs_per_epoch": med(
            len(jobs.jobs_between(s.start, s.end)) for s in composed
        ),
        **jobs.totals(lo, hi),
    }
