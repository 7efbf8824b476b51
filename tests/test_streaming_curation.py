"""Streaming training-data curation: batch-boundary consistency with
the batch twin (q_training_data_pipeline), cross-batch near-dup state,
and idempotent epoch replay."""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F


def _pipe(tmp_prefix: str, **kw):
    from mi_inbound_pulsar_spark.streaming.curation import StreamingCurationPipeline

    root = tempfile.mkdtemp(prefix=tmp_prefix)
    return StreamingCurationPipeline(
        state_dir=os.path.join(root, "state"),
        out_dir=os.path.join(root, "out"),
        **kw,
    )


def test_streaming_curation_matches_batch_twin(spark, sf_dir):
    """The documents table streamed in 3 doc_id-ordered micro-batches
    through foreachBatch must produce, across all committed epochs,
    exactly the rows of the single-shot batch pipeline — dedup keepers,
    split membership, and cross-batch pack offsets all line up."""
    from mi_inbound_pulsar_spark.operators.sampling import q_training_data_pipeline
    from mi_inbound_pulsar_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    staging = tempfile.mkdtemp(prefix="curation_stream_")
    cuts = [(0, 170), (170, 340), (340, 10**9)]
    for i, (lo, hi) in enumerate(cuts):
        path = os.path.join(staging, f"part{i}.parquet")
        (
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        # file source processes oldest-mtime first: pin the order
        t = time.time() - 300 + i * 60
        for f in [os.path.join(path, x) for x in os.listdir(path)]:
            os.utime(f, (t, t))

    pipe = _pipe("curation_twin_")
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staging)
    )
    q = stream.writeStream.foreachBatch(pipe).start()
    q.processAllAvailable()
    q.stop()

    assert len(pipe.store.committed(spark)) >= 3  # really a micro-batch sequence
    got = {
        (r.doc_id, r.source, r.n_tokens, r.stream_offset, r.pack_start)
        for r in pipe.read_output(spark).collect()
    }
    want = {
        (r.doc_id, r.source, r.n_tokens, r.stream_offset, r.pack_start)
        for r in q_training_data_pipeline(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_curation_neardup_state_drops_cross_batch(spark):
    """A later batch's near-duplicate of an earlier accepted document
    is dropped by the shingle-index probe; a unique document in the
    same batch passes. Acceptance is read from the hash-index state
    delta (dedup happens before the train split)."""
    base = " ".join(f"tok{i}" for i in range(30))
    neardup = " ".join(f"tok{i}" for i in range(29)) + " changed"
    unique = " ".join(f"other{i}" for i in range(25))

    pipe = _pipe("curation_near_", neardup_threshold=0.5)
    b0 = spark.createDataFrame([(1, "web", base)], "doc_id long, source string, text string")
    b1 = spark.createDataFrame(
        [(10, "web", neardup), (11, "web", unique)],
        "doc_id long, source string, text string",
    )
    pipe(b0, 0)
    pipe(b1, 1)

    v0 = spark.read.parquet(os.path.join(pipe.state_dir, "hashes", "v0"))
    v1 = spark.read.parquet(os.path.join(pipe.state_dir, "hashes", "v1"))
    assert [r.doc_id for r in v0.collect()] == [1]
    assert [r.doc_id for r in v1.collect()] == [11]  # 10 = near-dup, dropped


def test_streaming_curation_replay_is_idempotent(spark):
    """Replaying an epoch (K3: crash between state write and offset
    commit) rewrites the same version instead of double-appending:
    output rows and the per-source token totals are unchanged."""
    texts = [" ".join(f"w{i}a{j}" for i in range(25)) for j in range(6)]
    pipe = _pipe("curation_replay_")
    b0 = spark.createDataFrame(
        [(i, "web", texts[i]) for i in range(3)],
        "doc_id long, source string, text string",
    )
    b1 = spark.createDataFrame(
        [(i + 3, "web", texts[i + 3]) for i in range(3)],
        "doc_id long, source string, text string",
    )
    pipe(b0, 0)
    pipe(b1, 1)
    first = sorted(
        (r.doc_id, r.stream_offset) for r in pipe.read_output(spark).collect()
    )
    totals = {
        r.source: r.total
        for r in spark.read.parquet(
            os.path.join(pipe.state_dir, "offsets", "v1")
        ).collect()
    }

    pipe(b1, 1)  # replay the same epoch
    assert (
        sorted((r.doc_id, r.stream_offset) for r in pipe.read_output(spark).collect())
        == first
    )
    totals2 = {
        r.source: r.total
        for r in spark.read.parquet(
            os.path.join(pipe.state_dir, "offsets", "v1")
        ).collect()
    }
    assert totals2 == totals


def test_crash_between_state_writes_replays_cleanly(spark):
    """Torn-epoch injection for the curation state family: kill after
    the hashes delta lands but before the packed output and
    offsets snapshot (no commit marker). Readers must not see the torn
    epoch — in particular the NEXT replay must not treat the torn
    hashes/v1 as committed index (which would dedup epoch 1's own
    documents against themselves and emit nothing) — and the restart
    rewrites every v1 dir, converging to the no-crash outcome."""
    import pytest

    from pyspark.sql import Row

    def frame(lo, hi):
        rows = [
            Row(doc_id=i, source="s", text=" ".join(f"w{i}t{j}" for j in range(25)))
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows)

    ctl = _pipe("curation_ctl_")
    ctl(frame(0, 40), 0)
    ctl(frame(40, 80), 1)
    want = {
        (r.doc_id, r.stream_offset, r.pack_start)
        for r in ctl.read_output(spark).collect()
    }

    pipe = _pipe("curation_torn_")
    pipe(frame(0, 40), 0)

    orig_write = pipe.store.write

    def torn_write(df, root, epoch_id, key):
        orig_write(df, root, epoch_id, key)
        if os.path.basename(root) == "hashes" and epoch_id == 1:
            raise RuntimeError("injected crash mid-epoch")

    pipe.store.write = torn_write
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe(frame(40, 80), 1)
    pipe.store.write = orig_write

    # hashes/v1 landed; its concurrent sibling families may or may
    # not have (intra-epoch writes are unordered since round 11) — no
    # marker landed, which is all the contract promises
    assert os.path.isdir(os.path.join(pipe.state_dir, "hashes", "v1"))
    assert pipe.store.committed(spark) == [0]

    pipe(frame(40, 80), 1)  # restart replay
    assert pipe.store.committed(spark) == [0, 1]
    got = {
        (r.doc_id, r.stream_offset, r.pack_start)
        for r in pipe.read_output(spark).collect()
    }
    assert got == want
    # offsets snapshot reflects exactly one accounting of epoch 1
    off = spark.read.parquet(os.path.join(pipe.state_dir, "offsets", "v1"))
    ctl_off = spark.read.parquet(os.path.join(ctl.state_dir, "offsets", "v1"))
    assert sorted(map(tuple, off.collect())) == sorted(map(tuple, ctl_off.collect()))


def test_neardup_enabled_on_state_without_shingles_names_missing_epochs(spark, tmp_path):
    """Turning the near-dup probe on over state committed while it was
    off: the shingle index has no version for those epochs, and the
    epoch fails with an error naming the family and the epochs, not a
    raw path-not-found. Nothing is committed."""
    import pytest

    from mi_inbound_pulsar_spark.streaming.curation import StreamingCurationPipeline

    dirs = {"state_dir": str(tmp_path / "state"), "out_dir": str(tmp_path / "out")}
    text = " ".join(f"tok{i}" for i in range(30))
    StreamingCurationPipeline(**dirs)(
        spark.createDataFrame([(1, "web", text)], "doc_id long, source string, text string"),
        0,
    )

    probe = StreamingCurationPipeline(**dirs, neardup_threshold=0.5)
    with pytest.raises(FileNotFoundError) as info:
        probe(
            spark.createDataFrame(
                [(2, "web", text + " more")], "doc_id long, source string, text string"
            ),
            1,
        )
    assert os.path.join(dirs["state_dir"], "shingles") in str(info.value)
    assert "[0]" in str(info.value)
    assert probe.store.committed(spark) == [0]


def test_file_uri_state_dir(spark, tmp_path):
    """With ``file://`` URIs for both roots the pipeline gives the same
    output as with plain paths — cross-batch dedup and packing included
    — and the markers land in the usual ``_commits/<epoch>`` layout."""
    from mi_inbound_pulsar_spark.streaming.curation import StreamingCurationPipeline

    texts = [" ".join(f"w{i}u{j}" for i in range(25)) for j in range(8)]
    schema = "doc_id long, source string, text string"
    b0 = spark.createDataFrame([(i, "web", texts[i]) for i in range(4)], schema)
    # doc 10 repeats doc 0's text: the committed hash index drops it
    b1 = spark.createDataFrame(
        [(10, "web", texts[0])] + [(i, "web", texts[i]) for i in range(4, 8)], schema
    )

    outs = []
    for prefix in ("", "file://"):
        root = tmp_path / ("uri" if prefix else "plain")
        pipe = StreamingCurationPipeline(
            state_dir=f"{prefix}{root}/state", out_dir=f"{prefix}{root}/out"
        )
        pipe(b0, 0)
        pipe(b1, 1)
        assert pipe.store.committed(spark) == [0, 1]
        assert sorted(os.listdir(root / "state" / "_commits")) == ["0", "1"]
        accepted = spark.read.parquet(str(root / "state" / "hashes" / "v1"))
        assert sorted(r.doc_id for r in accepted.collect()) == [4, 5, 6, 7]
        outs.append(sorted(map(tuple, pipe.read_output(spark).collect())))
    assert outs[0] == outs[1]
