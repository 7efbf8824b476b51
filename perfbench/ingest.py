"""``ingest``: the consumer path end to end.

``pulsar_sim`` streams a backlog at ``RATE`` messages per trigger into
``run_pipeline``; each epoch's ``foreachBatch`` body is a
``KeyedRetryPipeline`` whose process callback decodes the JSON payload
(``decode_payload``, ``k int``), decides every delivery from the decoded
body and writes the acked rows through ``sources.sinks.write_parquet``.

- ``k == 99`` is poison (exactly 1% of ids): it fails on every attempt
  until the policy routes it to the dead-letter queue.
- A further ~5% of attempts fail transiently, chosen by
  ``xxhash64(message_id, redelivery_count, seed)``.

The first ``WARMUP_EPOCHS`` epochs are the warm-up; the epochs after
them are measured until the run time is spent. An operation is one epoch (one trigger), timed by the
engine's ``triggerExecution``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from common import Result, peak_rss
from spans import SparkJobs, Tracer

RATE = 2000
#: epochs run before measuring; the first measured epoch was still
#: about a third slower than later ones after a single warm-up epoch
WARMUP_EPOCHS = 2
POISON_K = 99
TRANSIENT_PCT = 5
PROGRESS_PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")


def prepare(spark) -> None:
    from mi_inbound_pulsar_spark.sources import python_datasource

    python_datasource.register(spark)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run(spark, seed: int, seconds: float, work_dir: str, tracer: Tracer) -> tuple[Result, float]:
    """Returns the run's result and the warm-up seconds."""
    from pyspark.sql import functions as F

    from mi_inbound_pulsar_spark.config import DeadLetterPolicy
    from mi_inbound_pulsar_spark.functions.payload import decode_payload
    from mi_inbound_pulsar_spark.sources.sinks import write_parquet
    from mi_inbound_pulsar_spark.streaming.delivery import (
        KeyedRetryPipeline,
        PipelineRegistry,
        run_pipeline,
    )

    sink = os.path.join(work_dir, "sink")
    jobs = SparkJobs(spark) if tracer.enabled else None

    def process(deliver, epoch_id):
        with tracer.span("streaming.delivery.process"):
            decoded = decode_payload(deliver, "application/json", schema="k int")
            fails = (F.col("body.k") == POISON_K) | (
                F.pmod(F.xxhash64("message_id", "redelivery_count", F.lit(seed)), F.lit(100))
                < TRANSIENT_PCT
            )
            # a body that does not decode is a failed delivery
            decided = decoded.withColumn("ok", F.coalesce(~fails, F.lit(False)))
            acked = decided.filter("ok").select(
                "message_id", "topic", "key", F.col("body.k").alias("k"),
                "redelivery_count", F.lit(epoch_id).alias("epoch"),
            )
            before = _dir_bytes(sink) if tracer.enabled else 0
            with tracer.span("sources.sinks.write"):
                write_parquet(acked, sink)
            if tracer.enabled and epoch_id >= WARMUP_EPOCHS:
                tracer.count("sources.sinks.bytes_written", _dir_bytes(sink) - before)
                row = decided.agg(
                    F.count("*"),
                    F.count("body"),
                    F.sum((~F.col("ok")).cast("int")),
                    F.sum((F.col("redelivery_count") > 0).cast("int")),
                ).first()
                tracer.count("functions.payload.decoded_rows", row[0])
                tracer.count("functions.payload.null_bodies", row[0] - row[1])
                tracer.count("streaming.delivery.nacked", row[2] or 0)
                tracer.count("streaming.delivery.redelivered", row[3] or 0)
            return decided.select("message_id", "ok")

    pipe = KeyedRetryPipeline(
        process,
        DeadLetterPolicy(),
        state_dir=os.path.join(work_dir, "state"),
        dlq_dir=os.path.join(work_dir, "dlq"),
    )

    done = threading.Event()
    epochs: dict[int, tuple[float, float]] = {}  # epoch -> callback (start, end)
    span_of: dict[int, int] = {}
    failure: list[BaseException] = []
    deadline = [0.0]

    run_span = tracer.innermost()

    def deliver(batch_df, epoch_id):
        if done.is_set():
            return  # the run is over; the query is being stopped
        t0 = time.time()
        try:
            with tracer.span("streaming.delivery.call", op=epoch_id, parent=run_span):
                span_of[epoch_id] = tracer.innermost()
                pipe(batch_df, epoch_id)
        except BaseException as exc:
            failure.append(exc)
            done.set()
            raise
        t1 = time.time()
        epochs[epoch_id] = (t0, t1)
        if epoch_id == WARMUP_EPOCHS - 1:
            deadline[0] = t1 + seconds
        elif epoch_id >= WARMUP_EPOCHS and t1 >= deadline[0]:
            done.set()

    registry = PipelineRegistry()
    registry.register("ingest", deliver)
    stream = (
        spark.readStream.format("pulsar_sim")
        .option("messages", 10**9)
        .option("rate", RATE)
        .load()
    )
    t_start = time.time()
    query = run_pipeline(
        stream, registry, "ingest", checkpoint_dir=os.path.join(work_dir, "checkpoint")
    )
    finished = done.wait(timeout=seconds + 120)
    # stop only once the last measured epoch's progress is reported, so
    # the stop lands on the next (skipped) trigger
    settle = time.time() + 30
    while finished and not failure and time.time() < settle:
        if any(p["batchId"] == max(epochs) for p in query.recentProgress):
            break
        time.sleep(0.05)
    query.stop()
    rss = peak_rss()
    if not finished:
        failure.append(TimeoutError("ingest stream made no progress"))

    measured = sorted(e for e in epochs if e >= WARMUP_EPOCHS)
    warm_end = epochs.get(WARMUP_EPOCHS - 1, (0.0, time.time()))[1]
    progress = {
        p["batchId"]: p
        for p in (json.loads(q.json) for q in query.recentProgress)
        if p["batchId"] in epochs
    }
    warmup_s = warm_end - t_start
    if failure or not measured:
        n = len(epochs) + 1
        return Result([], 0.0, 0.0, n, n, rss, f"ingest failed: {failure[:1]!r}"), warmup_s

    def end_id(p):
        return p["sources"][0]["endOffset"]["id"]

    admitted = end_id(progress[measured[-1]])
    wall = epochs[measured[-1]][1] - warm_end
    ops = [progress[e]["durationMs"]["triggerExecution"] / 1000.0 for e in measured]

    # -- correctness, outside the timed region ------------------------------
    with tracer.span("check"):
        acked = [
            (r[0], r[1]) for r in spark.read.parquet(sink).select("message_id", "epoch").collect()
        ]
        dead_df, live_df = pipe.dead_letters_df(spark), pipe.state_df(spark)
        dead = [r[0] for r in dead_df.select("message_id").collect()] if dead_df else []
        pending = [r[0] for r in live_df.select("message_id").collect()] if live_df else []
    acked_ids = [m for m, _ in acked]
    problems = []
    if len(set(acked_ids)) != len(acked_ids):
        problems.append("an id was acked twice")
    if any(int(m) % 100 == POISON_K for m in acked_ids):
        problems.append("a poison id was acked")
    if len(acked_ids) + len(dead) + len(pending) != admitted:
        problems.append(
            f"admitted {admitted} != acked {len(acked_ids)} + dead-lettered {len(dead)}"
            f" + pending {len(pending)}"
        )
    if set(acked_ids) | set(dead) | set(pending) != {str(i) for i in range(admitted)}:
        problems.append("settled ids differ from the admitted ids")
    # dead-lettering starts at epoch max_redeliveries - 1, after the warm-up
    settled = sum(1 for _, e in acked if e >= WARMUP_EPOCHS) + len(dead)
    attempted = len(measured) + WARMUP_EPOCHS
    result = Result(
        ops, float(settled), wall, attempted, attempted if problems else 0, rss,
        "; ".join(problems),
    )

    if tracer.enabled:
        _layers(tracer, jobs, result, progress, measured, epochs, span_of, admitted,
                acked, dead, pending, run_span, warm_end)
    return result, warmup_s


def _layers(tracer, jobs, result, progress, measured, epochs, span_of, admitted,
            acked, dead, pending, run_span, warm_end) -> None:
    from datetime import datetime

    jobs.collect()
    lo, hi = warm_end, epochs[measured[-1]][1]
    first_new = progress[measured[0]]["sources"][0]["startOffset"]["id"]
    rows_read = sum(progress[e]["numInputRows"] for e in measured)
    for e in measured:
        p = progress[e]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        trig = start + p["durationMs"]["triggerExecution"] / 1000.0
        tracer.add_span("ingest.trigger", start, trig, run_span, e)
        tracer.spans[span_of[e]].parent = len(tracer.spans) - 1
    calls = {s.op: s for s in tracer.spans if s.name == "streaming.delivery.call"}
    procs = {s.op: s for s in tracer.spans if s.name == "streaming.delivery.process"}
    writes = {s.op: s for s in tracer.spans if s.name == "sources.sinks.write"}
    call_ms = [(calls[e].end - calls[e].start) * 1000 for e in measured]
    proc_ms = [(procs[e].end - procs[e].start) * 1000 for e in measured]
    decoded = tracer.counters.get("functions.payload.decoded_rows", 0.0)
    layers = {
        "sources.python_datasource.rows_read": float(rows_read),
        "sources.python_datasource.reads_per_admitted_row": rows_read / (admitted - first_new),
        "functions.payload.decoded_rows": decoded,
        "functions.payload.null_body_share": (
            tracer.counters.get("functions.payload.null_bodies", 0.0) / decoded if decoded else 0.0
        ),
        "streaming.delivery.call_ms": statistics.median(call_ms),
        "streaming.delivery.process_ms": statistics.median(proc_ms),
        "streaming.delivery.protocol_ms": statistics.median(
            c - p for c, p in zip(call_ms, proc_ms)
        ),
        "streaming.delivery.jobs_per_epoch": statistics.median(
            len(jobs.jobs_between(*epochs[e])) for e in measured
        ),
        "streaming.delivery.acked": float(sum(1 for _, e in acked if e >= WARMUP_EPOCHS)),
        "streaming.delivery.nacked": tracer.counters.get("streaming.delivery.nacked", 0.0),
        "streaming.delivery.redelivered": tracer.counters.get("streaming.delivery.redelivered", 0.0),
        "streaming.delivery.dead_lettered": float(len(dead)),
        "streaming.delivery.pending_rows": float(len(pending)),
        "sources.sinks.write_ms": statistics.median(
            (writes[e].end - writes[e].start) * 1000 for e in measured
        ),
        "sources.sinks.bytes_written": tracer.counters.get("sources.sinks.bytes_written", 0.0),
    }
    for phase in PROGRESS_PHASES:
        layers[f"progress.{phase}_ms"] = statistics.median(
            float(progress[e]["durationMs"].get(phase, 0)) for e in measured
        )
    layers.update(jobs.totals(lo, hi))
    result.layers = layers
