"""Streaming training-data curation: the batch pipeline
(``q_training_data_pipeline``'s quality-gate → exact dedup → train
split → sequence packing) run per micro-batch in ``foreachBatch``,
with the **incremental dedup index** (``q_dedup_incremental``'s
delta-vs-base probe shape, dedup.py:1040) as cross-batch state.

This closes the loop between the ingestion layer (§2A: the reference
hands each message batch to a pipeline — PulsarMessageConsumer.java
:535-545) and the LLM-data-pipeline layer: the pipeline a curation
user would inject IS this object.

State families, versioned per epoch in an :class:`~.epochio.EpochStore`
rooted at ``state_dir`` (a replayed micro-batch rewrites its versions
instead of appending twice: exactly-once output from at-least-once
delivery):

- ``state_dir/hashes`` — per-epoch DELTA of accepted documents' text
  hashes (exact-dedup index). Append-only: reading the index unions
  the committed deltas; a 100 TB deployment compacts old deltas with
  the layout.compact_small_files kernel.
- ``state_dir/shingles`` — per-epoch delta of accepted documents'
  hashed 3-gram shingles (near-dup inverted index), written only with
  the near-dup probe enabled. Each batch probes base-vs-delta only
  (``jaccard_matches_against``) — never base×base, so ingest cost is
  bounded by the batch.
- ``state_dir/offsets`` — full snapshot (it is one row per source) of
  the per-source cumulative token totals, so sequence packing
  continues across batch boundaries exactly where the previous batch
  stopped.
- ``out_dir`` — the epoch's packed output.

Batch-boundary consistency: when batches arrive in doc_id order, the
union of the committed per-epoch outputs is row-identical to the
single-shot batch twin (asserted in tests/test_streaming_curation.py)
— the streaming form is a refinement, not a re-implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mi_inbound_pulsar_spark.streaming.epochio import EpochStore

MIN_TOKENS = 20
TRAIN_CUT = "cd"
PACK_SIZE = 512


class StreamingCurationPipeline:
    """``foreachBatch`` body: quality → dedup (in-batch exact +
    cross-batch exact + cross-batch near-dup probe) → split → pack.

    ``neardup_threshold=None`` disables the shingle probe (exact
    cross-batch dedup only) — that configuration is row-identical to
    ``q_training_data_pipeline`` on ordered input. The shingle index
    is only written while the probe is enabled, so enabling it on state
    committed without it fails with the epochs the index lacks.
    """

    def __init__(
        self,
        state_dir: str,
        out_dir: str,
        min_tokens: int = MIN_TOKENS,
        train_cut: str = TRAIN_CUT,
        pack_size: int = PACK_SIZE,
        neardup_threshold: float | None = None,
        autocommit: bool = True,
    ):
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.min_tokens = min_tokens
        self.train_cut = train_cut
        self.pack_size = pack_size
        self.neardup_threshold = neardup_threshold
        # autocommit=False → a composing caller owns the epoch's single
        # commit marker (streaming/composed.py)
        self.autocommit = autocommit
        self.store = EpochStore(state_dir)

    def read_output(self, spark: SparkSession) -> DataFrame | None:
        """Union of the committed per-epoch packed outputs."""
        return self.store.read(spark, self.out_dir)

    @staticmethod
    def _hashed_shingles(docs: DataFrame) -> DataFrame:
        """(doc_id, shingle) with the shingle collapsed to a 64-bit
        hash — the index stores 8 bytes per posting, never the text."""
        from mi_inbound_pulsar_spark.operators.dedup import shingles

        return shingles(docs, n=3).select(
            "doc_id", F.xxhash64("shingle").alias("shingle")
        )

    # -- the foreachBatch body ----------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from mi_inbound_pulsar_spark.operators.dedup import jaccard_matches_against
        from mi_inbound_pulsar_spark.operators.sampling import hash_bucket

        spark = batch_df.sparkSession
        fam = {f: os.path.join(self.state_dir, f) for f in ("hashes", "shingles", "offsets")}

        # 1. quality gate — narrow filter, pushed to the batch scan
        quality = batch_df.select(
            "doc_id",
            "source",
            "text",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ).filter(F.col("n_tokens") >= self.min_tokens)

        # 2a. in-batch exact dedup (min-doc_id keeper). text/n_tokens
        # are identical across an md5 group, but SOURCE may differ
        # (cross-source duplicates exist in the corpus — observed at
        # sf0.1), so every passenger column is taken from the KEEPER
        # row via min_by: deterministic under any batch decomposition,
        # which the replay oracles' arg_min closed form depends on
        deduped = (
            quality.groupBy(F.md5("text").alias("text_md5"))
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("source", "doc_id").alias("source"),
                F.min_by("text", "doc_id").alias("text"),
                F.min_by("n_tokens", "doc_id").alias("n_tokens"),
            )
        )
        # 2b. cross-batch exact dedup: anti-join the accepted-hash index
        base_hashes = self.store.read(spark, fam["hashes"], before=epoch_id)
        if base_hashes is not None:
            deduped = deduped.join(base_hashes.select("text_md5"), "text_md5", "left_anti")
        # 2c. cross-batch near-dup: probe the base shingle index with
        # the delta only (q_dedup_incremental's asymmetric join — the
        # index is never self-joined)
        sh_base = None
        if self.neardup_threshold is not None:
            sh_base = self.store.read(spark, fam["shingles"], before=epoch_id)
        if sh_base is not None:
            sh_delta = self._hashed_shingles(deduped.select("doc_id", "text"))
            near = jaccard_matches_against(
                sh_delta, sh_base, self.neardup_threshold
            ).select(F.col("delta_id").alias("doc_id")).distinct()
            deduped = deduped.join(near, "doc_id", "left_anti")

        survivors = deduped.persist()
        survivors.count()  # fill the cache once before concurrent writes

        # 3+4 build the four state-family frames over the persisted
        # survivors, then write them as concurrent jobs at the end
        train = survivors.filter(
            hash_bucket(F.col("doc_id"), "split-") < self.train_cut
        )
        offsets = self.store.read(spark, fam["offsets"], before=epoch_id, latest=True)
        if offsets is None:
            offsets = spark.createDataFrame([], "source string, total long")
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        packed = (
            train.join(F.broadcast(offsets), "source", "left")
            .withColumn(
                "stream_offset",
                F.coalesce("total", F.lit(0))
                + F.sum("n_tokens").over(w)
                - F.col("n_tokens"),
            )
            .select(
                "doc_id",
                "source",
                "n_tokens",
                "stream_offset",
                F.floor(F.col("stream_offset") / self.pack_size).alias("pack_start"),
            )
        )
        batch_totals = train.groupBy("source").agg(F.sum("n_tokens").alias("bt"))
        new_offsets = (
            offsets.join(batch_totals, "source", "full_outer")
            .select(
                "source",
                (F.coalesce("total", F.lit(0)) + F.coalesce("bt", F.lit(0))).alias(
                    "total"
                ),
            )
        )
        writes = [
            (survivors.select("text_md5", "doc_id"), fam["hashes"], "text_md5"),
            (packed, self.out_dir, "source"),
            (new_offsets, fam["offsets"], "source"),
        ]
        # the shingle inverted index is state FOR the near-dup probe
        # (2c) — when the probe is disabled nothing ever reads it, and
        # the per-epoch explode+hash+write of every survivor's 3-grams
        # was the epoch's fattest job (round 13; the three replay
        # queries and the composed pipeline all run with
        # neardup_threshold=None). A deployment enabling the probe
        # mid-stream must backfill the index for pre-enable epochs
        # either way (the read names the missing epochs), so the gate
        # loses nothing.
        if self.neardup_threshold is not None:
            writes.insert(
                1,
                (
                    self._hashed_shingles(survivors.select("doc_id", "text")),
                    fam["shingles"],
                    "shingle",
                ),
            )
        try:
            self.store.submit(writes, epoch_id)()
        finally:
            survivors.unpersist()
        if self.autocommit:
            self.store.commit(spark, epoch_id)
