"""The epoch state store shared by every stateful streaming pipeline.

Layout, under a state root (the *marker root*) and any number of
family roots (directories of one kind of state — a snapshot, a delta
index, a per-epoch output; they may live outside the marker root):

- ``<family>/v<epoch>/`` — the parquet version a micro-batch wrote for
  that family, keyed by a column (``repartition(col(key))``, sized by
  adaptive query execution);
- ``<root>/_commits/<epoch>`` — an empty marker, landed only after
  every family write of the epoch returned.

Readers see an epoch only through its marker, so a crash anywhere
mid-epoch leaves torn ``v<epoch>`` dirs that nothing reads, and the
replay (Structured Streaming re-runs the uncommitted batch) deletes and
rewrites each of them: exactly-once state from at-least-once delivery.
This is Structured Streaming's versioned state with an atomic commit
(SIGMOD 2018), recovered by deterministic recomputation of the torn
epoch (D-Streams, SOSP 2013). ``foreachBatch`` runs epochs in order,
so at most the newest epoch is ever torn.

Every filesystem access goes through the Hadoop ``FileSystem`` of the
session (``spark._jvm``), so the contract holds for any path Spark can
write — local, ``file://``, HDFS, S3.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from py4j.java_gateway import is_instance_of
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class EpochStore:
    """Versioned family writes, the commit marker and torn-epoch-safe
    reads for one marker root.

    ``keep`` turns on retention: each commit then drops all but the
    ``keep`` newest markers together with the root's own ``v<epoch>``
    versions (the family that lives at the root itself). Other families
    are never collected; a reader still sees their old versions, since
    everything below the oldest surviving marker was committed — a
    marker is only removed after newer commits.
    """

    def __init__(self, root: str, keep: int | None = None):
        self.root = root
        self.keep = keep
        self._hadoop = None  # (Path class, Hadoop configuration), on first use

    # -- filesystem --------------------------------------------------------
    def _fs(self, spark: SparkSession, path: str):
        if self._hadoop is None:
            self._hadoop = (
                spark._jvm.org.apache.hadoop.fs.Path,
                spark._jsc.hadoopConfiguration(),
            )
        path_cls, conf = self._hadoop
        p = path_cls(path)
        fs = p.getFileSystem(conf)
        # the checksummed local filesystem puts a hidden .crc beside every
        # file it creates; markers are empty and go without
        if is_instance_of(
            spark.sparkContext._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"
        ):
            fs = fs.getRawFileSystem()
        return fs, p

    def _exists(self, spark: SparkSession, path: str) -> bool:
        fs, p = self._fs(spark, path)
        return fs.exists(p)

    def _delete(self, spark: SparkSession, path: str) -> None:
        fs, p = self._fs(spark, path)
        fs.delete(p, True)

    def _names(self, spark: SparkSession, path: str) -> list[str]:
        fs, p = self._fs(spark, path)
        if not fs.exists(p):
            return []
        return [s.getPath().getName() for s in fs.listStatus(p)]

    def _marker(self, epoch_id: int) -> str:
        return os.path.join(self.root, "_commits", str(epoch_id))

    @staticmethod
    def version(family: str, epoch_id: int) -> str:
        return os.path.join(family, f"v{epoch_id}")

    # -- reads ---------------------------------------------------------------
    def committed(self, spark: SparkSession, before: int | None = None) -> list[int]:
        """Epochs with a marker, ascending; only those below ``before``
        when given (the state an epoch builds on)."""
        marks = sorted(
            int(n) for n in self._names(spark, os.path.join(self.root, "_commits"))
            if n.isdigit()
        )
        return marks if before is None else [e for e in marks if e < before]

    def read(
        self,
        spark: SparkSession,
        family: str,
        before: int | None = None,
        latest: bool = False,
    ) -> DataFrame | None:
        """The committed versions of ``family`` (below ``before`` when
        given) as one frame, or only the newest of them with ``latest``;
        ``None`` when there are none.

        An epoch is visible by marker membership or, when retention has
        collected markers, by lying below the oldest surviving one. A
        committed epoch whose version is missing raises
        ``FileNotFoundError`` naming the family and the epochs."""
        marks = self.committed(spark)
        visible = set(marks)
        if self.keep is not None and marks and not latest:
            visible.update(
                int(n[1:])
                for n in self._names(spark, family)
                if n[:1] == "v" and n[1:].isdigit() and int(n[1:]) < marks[0]
            )
        epochs = sorted(e for e in visible if before is None or e < before)
        if latest:
            epochs = epochs[-1:]
        if not epochs:
            return None
        paths = [self.version(family, e) for e in epochs]
        try:
            return spark.read.parquet(*paths)
        except AnalysisException as err:
            missing = [e for e, p in zip(epochs, paths) if not self._exists(spark, p)]
            if not missing:
                raise
            raise FileNotFoundError(
                f"state family {family} has no version for committed "
                f"epoch(s) {missing}: it was not written when they ran"
            ) from err

    # -- writes --------------------------------------------------------------
    def write(self, df: DataFrame, family: str, epoch_id: int, key: str) -> None:
        """Idempotent family write: drop any torn ``v<epoch>`` left by a
        crashed attempt, then write the version keyed by ``key``. The
        one write every pipeline goes through (and the fault-injection
        seam of the crash tests)."""
        path = self.version(family, epoch_id)
        self._delete(df.sparkSession, path)
        df.repartition(F.col(key)).write.mode("overwrite").parquet(path)

    def submit(
        self, writes: list[tuple[DataFrame, str, str]], epoch_id: int
    ) -> Callable[[], None]:
        """Start an epoch's ``(frame, family, key)`` writes as concurrent
        Spark jobs, one driver thread each, and return ``wait``.

        The families must be independent (each derives from inputs
        persisted before this call), so the epoch's write time is about
        the slowest job rather than the sum. ``wait()`` settles every
        write, then raises the single failure, or all of them as an
        ``ExceptionGroup``; the caller lands the marker only after it
        returns, so a failure leaves a settled subset of torn dirs."""
        ex = ThreadPoolExecutor(max_workers=len(writes))
        futures = [
            ex.submit(self.write, df, family, epoch_id, key)
            for df, family, key in writes
        ]
        ex.shutdown(wait=False)

        def wait() -> None:
            errs = [e for e in (f.exception() for f in futures) if e is not None]
            if len(errs) == 1:
                raise errs[0]
            if errs:
                raise BaseExceptionGroup(
                    f"{len(errs)} of {len(futures)} state writes of epoch "
                    f"{epoch_id} failed",
                    errs,
                )

        return wait

    def commit(self, spark: SparkSession, epoch_id: int) -> None:
        """Land the epoch's marker, then apply retention."""
        fs, p = self._fs(spark, self._marker(epoch_id))
        fs.create(p, True).close()
        if self.keep is None:
            return
        for old in self.committed(spark)[: -self.keep]:
            self._delete(spark, self.version(self.root, old))
            self._delete(spark, self._marker(old))
