"""The stateful gates, run as operations inside the ``queries`` workload.

The ``documents`` table is cut into ``DOCS_PER_EPOCH``-row ``doc_id``
ranges; each call to :meth:`Gates.epoch` feeds the next range to one
long-lived ``ComposedGatesPipeline`` (redaction, privacy
park-and-release, curation, seven state families and one commit marker
per epoch). Every text carries a mail address and a phone number, as in
``q_streaming_composed_replay``, so redaction has work.
"""

from __future__ import annotations

import os

from spans import Tracer

DOCS_PER_EPOCH = 500


def _epoch_files(roots: list[str], epoch_id: int) -> tuple[int, int]:
    """Files and bytes one epoch wrote under ``roots``: every
    ``v<epoch>`` directory plus the epoch's commit marker."""
    n = size = 0
    tag = f"v{epoch_id}"
    for root in roots:
        for dirpath, _, files in os.walk(root):
            parts = dirpath.split(os.sep)
            if tag in parts:
                chosen = files
            elif parts[-1] == "_commits" and str(epoch_id) in files:
                chosen = [str(epoch_id)]
            else:
                continue
            n += len(chosen)
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in chosen)
    return n, size


class _TimedCuration:
    """Stands in for the composed pipeline's curation stage and records
    a span around each call into it."""

    def __init__(self, inner, tracer: Tracer):
        self._inner, self._tracer = inner, tracer

    def __call__(self, df, epoch_id):
        with self._tracer.span("streaming.curation.call"):
            return self._inner(df, epoch_id)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class Gates:
    def __init__(self, spark, data_dir: str, root: str, tracer: Tracer):
        from pyspark.sql import functions as F

        from mi_inbound_pulsar_spark.sources.tables import load_table

        self.spark, self.root, self.tracer = spark, root, tracer
        self.docs = load_table(spark, data_dir, "documents").select(
            "doc_id",
            "source",
            "lang",
            F.expr("n_chars DIV 150").alias("band"),
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ).alias("text"),
        )
        self.pipe = self._pipeline("stream")
        if tracer.enabled:
            self.pipe.curation = _TimedCuration(self.pipe.curation, tracer)
        self.epochs = 0

    def _pipeline(self, name: str):
        from mi_inbound_pulsar_spark.streaming.composed import ComposedGatesPipeline

        return ComposedGatesPipeline(
            state_dir=os.path.join(self.root, name, "state"),
            out_dir=os.path.join(self.root, name, "out"),
            qi_cols=["lang"],
            band_col="band",
        )

    def _range(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        return self.docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def epoch(self) -> None:
        """Feed the next document range as the next epoch."""
        e = self.epochs
        lo = e * DOCS_PER_EPOCH
        with self.tracer.span("streaming.composed.call"):
            self.pipe(self._range(lo, lo + DOCS_PER_EPOCH), e)
        self.epochs += 1
        if self.tracer.enabled:
            files, size = _epoch_files([self.pipe.state_dir, self.pipe.curation.out_dir], e)
            self.tracer.sample("streaming.epochio.state_files_per_epoch", files)
            self.tracer.sample("streaming.epochio.state_bytes_per_epoch", size)

    def check(self) -> str:
        """The batch-twin identity: the committed output equals that of a
        fresh pipeline fed the same rows as one epoch. Returns a problem
        description, empty when it holds."""
        twin = self._pipeline("twin")
        twin(self._range(0, self.epochs * DOCS_PER_EPOCH), 0)

        def key(p):
            rows = p.read_output(self.spark).select("doc_id", "source", "n_tokens", "stream_offset")
            return sorted(tuple(r) for r in rows.collect())

        got, want = key(self.pipe), key(twin)
        if got == want and got:
            return ""
        return f"gates output ({len(got)} rows) differs from its single-epoch twin ({len(want)} rows)"
