"""Streaming façades (reference O4/O5/O6/O9/O10/O15/O17).

``UpsertQuickStream::run(rx)`` (upsert.rs:77-141) becomes::

    UpsertQuickStream(config, target).run(stream_df)

i.e. ``writeStream.trigger(processingTime=lag).foreachBatch(merge)``.
Everything the reference hand-rolls per cycle — accumulation under a
time/size policy (upsert.rs:158-204), dedup, dispatch to an elastic
worker pool (upsert.rs:382-513) — is the micro-batch loop: the trigger
interval is the lag window, the source rate limit is the size policy,
and the Spark scheduler is the pool.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from quick_stream_spark.config import QuickStreamConfig
from quick_stream_spark.operators.merge import KeyedTable
from quick_stream_spark.operators.router import MultiTableRouter


class WriterFence:
    """One-writer fencing for a shared streaming state directory.

    Two streams maintaining the SAME index directory would corrupt it:
    their compaction rewrites race (mid-flight ``_temporary`` output
    collides) and each prunes segments the other just appended.  The
    classic answer is a fencing token (the design ZooKeeper/HDFS leases
    and Delta's commit arbiter use): every writer, at its FIRST
    MUTATION, TAKES OVER the directory by claiming the next epoch's
    ``_qss_writer-<epoch>.json`` marker through put-if-absent; before
    every later mutation it re-reads the highest-epoch marker and dies
    loudly (``RuntimeError``) if another writer has taken over since.
    Two takeovers that read the same epoch race for the same marker
    name, so exactly one claims it and the other raises.  No
    pid-liveness probing, so a crashed writer never wedges the
    directory — the next writer simply takes over — and a superseded
    writer discovers it at its next batch instead of corrupting.

    Claiming is deliberately LAZY (``ensure``, not the constructor —
    ADVICE r8): instantiating an index merely to QUERY existing state
    (``topk``/``pairs``/``estimate`` from a monitoring process) is a
    pure read and must not fence out — and kill — the live writer.
    Only run()/compact(), the mutation paths, claim.

    The check is batch-granular: a writer fenced out MID-append can
    still finish that one append job, which is safe here because the
    state logs are append-only with duplicate-tolerant readers (the
    docstring of :func:`replace_log_contents`) — the fence exists to
    stop two writers RUNNING compaction/append jobs side by side, and
    batch boundaries are where those jobs launch."""

    PREFIX = "_qss_writer-"

    def __init__(self, spark, work_dir: str) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.token: str | None = None
        self.epoch = 0

    def _markers(self) -> dict[int, object]:
        """``{epoch: hadoop Path}`` of every published marker."""
        from quick_stream_spark.operators.merge import _hadoop_fs

        fs, p, _ = _hadoop_fs(self.spark, self.work_dir)
        if not fs.exists(p):
            return {}
        out = {}
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(self.PREFIX) and name.endswith(".json"):
                out[int(name[len(self.PREFIX):-len(".json")])] = st.getPath()
        return out

    def _read(self) -> dict | None:
        """The highest-epoch marker (``epoch`` taken from its name), or
        None when the directory was never claimed."""
        from quick_stream_spark.operators.merge import _hadoop_fs

        fs, _, jvm = _hadoop_fs(self.spark, self.work_dir)
        while True:
            markers = self._markers()
            if not markers:
                return None
            epoch = max(markers)
            try:
                stream = fs.open(markers[epoch])
            except Exception:
                # a takeover prunes only markers below its own claim, so
                # one that vanished since the listing means a higher
                # epoch exists: list again
                if max(self._markers(), default=0) > epoch:
                    continue
                raise
            try:
                raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
            finally:
                stream.close()
            return {**json.loads(raw.decode("utf-8")), "epoch": epoch}

    def takeover(self) -> None:
        """Claim the directory: put-if-absent the next epoch's marker
        with our token, then prune the older markers."""
        import uuid as _uuid

        from quick_stream_spark.operators.commitlog import put_if_absent
        from quick_stream_spark.operators.merge import _hadoop_fs

        current = self._read()
        epoch = (current["epoch"] if current else 0) + 1
        token = _uuid.uuid4().hex
        fs, p, jvm = _hadoop_fs(self.spark, self.work_dir)
        fs.mkdirs(p)
        body = json.dumps({"token": token, "pid": os.getpid()}).encode("utf-8")
        if not put_if_absent(
            fs, jvm.org.apache.hadoop.fs.Path, self.work_dir,
            f"{self.PREFIX}{epoch}.json", body,
        ):
            raise RuntimeError(
                f"writer fence: another writer claimed epoch {epoch} of "
                f"{self.work_dir!r} concurrently with this one. One writer "
                "per index directory."
            )
        self.token, self.epoch = token, epoch
        # a takeover that read a stale epoch can claim a marker the
        # newer holder already pruned: verify ours is the highest
        self.check("claim")
        for e, path in self._markers().items():
            if e < epoch:
                fs.delete(path, False)

    def ensure(self, op: str = "write") -> None:
        """Mutation-path gate: claim the directory on the first call
        (lazy takeover — a never-mutating instance never fences the
        live writer out), verify our claim still stands on every later
        one."""
        if self.token is None:
            self.takeover()
        else:
            self.check(op)

    def check(self, op: str = "write") -> None:
        """Raise loudly if another writer has taken over since ours."""
        current = self._read()
        if current is None or current.get("token") != self.token:
            other = current or {}
            raise RuntimeError(
                f"writer fenced out: refusing to {op} "
                f"{self.work_dir!r} — another writer "
                f"(pid {other.get('pid')}, epoch {other.get('epoch')}) took "
                "over this state directory after this one claimed epoch "
                f"{self.epoch}. One writer per index directory; construct "
                "a new index instance to take it back."
            )


def replace_log_contents(spark, log_path: str, merged: DataFrame) -> None:
    """Crash-safe rewrite of an append-only state log: materialize the
    merged/kept rows, APPEND them as one new segment, then delete the
    files that pre-existed the append.

    Safe at every crash point because the state-log read paths are
    idempotent under duplicate rows (HLL registers max-merge; band-index
    consumers dedup ``(band, id)``; pairs logs are read ``.distinct()``):

    - crash before the append: nothing changed;
    - crash mid-append: partial task output stays under ``_temporary``,
      which parquet readers ignore;
    - crash between append and prune (or mid-prune): old and merged
      segments coexist — redundant rows, never lost state — and the next
      compaction pass removes the remainder.

    Contrast ``mode("overwrite")``, which deletes the directory before
    writing and so has a crash window where the ONLY copy of the state
    is a severed in-JVM checkpoint.  Run between micro-batches (the
    foreachBatch callback is serial per query) or with the stream
    stopped — a CONCURRENT appender's files written after the listing
    survive the prune untouched, but its mid-flight ``_temporary``
    output would collide with the rewrite job's.
    """
    from quick_stream_spark.operators.merge import _hadoop_fs

    fs, p, _ = _hadoop_fs(spark, log_path)
    old = [
        st.getPath()
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]
    # sever lineage from the files about to be pruned BEFORE writing
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("append").parquet(log_path)
    for f in old:
        fs.delete(f, False)


class _StreamBase:
    def __init__(self, config: QuickStreamConfig | None = None) -> None:
        self.config = (config or QuickStreamConfig()).validate()

    def _foreach_batch(self):  # pragma: no cover - overridden
        raise NotImplementedError

    def run(
        self,
        stream_df: DataFrame,
        available_now: bool = False,
        await_termination: bool = False,
    ) -> StreamingQuery:
        """Start the ingestion query.  ``available_now=True`` drains all
        currently-available input then stops — the deterministic offline
        replay mode used by tests and the correctness oracle."""
        ckpt = self.config.checkpoint_dir or tempfile.mkdtemp(prefix="qss-ckpt-")
        writer = (
            stream_df.writeStream.queryName(self.config.name)
            .foreachBatch(self._foreach_batch())
            .option("checkpointLocation", ckpt)
            .trigger(**self.config.trigger_kwargs(available_now=available_now))
        )
        query = writer.start()
        if await_termination or available_now:
            query.awaitTermination()
        return query


class UpsertQuickStream(_StreamBase):
    """Single-table upsert pipeline (reference upsert.rs:77-207).

    ``quarantine`` (optional): a
    :class:`~quick_stream_spark.streaming.quarantine.BadRecordQuarantine`
    — rows failing its rules are appended to the dead-letter table with
    their failure reasons instead of entering the MERGE (a NULL key
    would otherwise hash into a bucket and silently collide) or killing
    the stream.  The main table stays exactly-once (idempotent merge +
    checkpoint); the DLQ is at-least-once by design.

    ``auto_compact_every`` (optional): run the target's
    ``maybe_compact`` policy after every N committed batches.  Merges
    append task-aligned files per touched bucket (the write-side
    repartition is deliberately skipped), so a long-lived stream's
    file counts grow with batch count; periodic policy checks bound
    read amplification without paying a rewrite per batch.  The check
    itself is metadata-only; a rewrite runs only when some bucket
    exceeds ``auto_compact_max_files``.

    ``auto_rebucket_target_bytes`` (optional): on the same maintenance
    cadence, run the target's ``maybe_rebucket`` policy — a long-lived
    ingest stream's table grows without bound, and bucket count must
    grow with it (~1 GB/bucket) or per-bucket merge partitions
    eventually stop fitting in executor memory.  The check is one FS
    stat; a rewrite runs only when the average live bucket exceeds the
    target.  Requires ``auto_compact_every`` (the shared cadence)."""

    def __init__(
        self,
        target: KeyedTable,
        config: QuickStreamConfig | None = None,
        newer_wins: bool = False,
        quarantine=None,
        auto_compact_every: int | None = None,
        auto_compact_max_files: int = 8,
        auto_rebucket_target_bytes: int | None = None,
        auto_compact_sort_by: str | Sequence[str] | None = None,
        auto_compact_target_files: int = 1,
    ) -> None:
        super().__init__(config)
        self.target = target
        self.newer_wins = newer_wins
        self.quarantine = quarantine
        if auto_compact_every is not None and auto_compact_every < 1:
            raise ValueError("auto_compact_every must be >= 1")
        if auto_rebucket_target_bytes is not None and auto_compact_every is None:
            raise ValueError(
                "auto_rebucket_target_bytes rides the auto_compact_every "
                "maintenance cadence; set both"
            )
        self.auto_compact_every = auto_compact_every
        self.auto_compact_max_files = auto_compact_max_files
        self.auto_rebucket_target_bytes = auto_rebucket_target_bytes
        # clustered maintenance: forward sort_by/target to maybe_compact
        # so a long-lived ingest stream periodically re-clusters each
        # bucket into range-sliced files and its zone maps stay sharp
        self.auto_compact_sort_by = auto_compact_sort_by
        self.auto_compact_target_files = auto_compact_target_files
        self._batches_since_compact = 0

    def _maybe_auto_compact(self) -> None:
        if self.auto_compact_every is None:
            return
        self._batches_since_compact += 1
        if self._batches_since_compact >= self.auto_compact_every:
            self._batches_since_compact = 0
            if self.auto_rebucket_target_bytes is not None:
                # resize first: rebucket's rewrite also compacts, so a
                # resize batch skips the separate compaction pass
                if self.target.maybe_rebucket(
                    target_bucket_bytes=self.auto_rebucket_target_bytes
                ):
                    return
            self.target.maybe_compact(
                max_files_per_bucket=self.auto_compact_max_files,
                target_files_per_bucket=self.auto_compact_target_files,
                sort_by=self.auto_compact_sort_by,
            )

    def _foreach_batch(self):
        target, newer_wins = self.target, self.newer_wins
        quarantine = self.quarantine

        def apply(batch: DataFrame, batch_id: int) -> None:
            if quarantine is None:
                target.upsert(batch, newer_wins=newer_wins)
                self._maybe_auto_compact()
                return
            batch = batch.persist()
            try:
                good, bad = quarantine.split(batch)
                quarantine.write(bad, batch_id)
                target.upsert(good, newer_wins=newer_wins)
            finally:
                batch.unpersist()
            self._maybe_auto_compact()

        return apply


class DeleteQuickStream(_StreamBase):
    """Single-table delete pipeline (reference delete.rs:71-187).
    ``soft=True`` (default) matches the reference's soft-delete intent."""

    def __init__(
        self,
        target: KeyedTable,
        config: QuickStreamConfig | None = None,
        soft: bool = True,
    ) -> None:
        super().__init__(config)
        self.target = target
        self.soft = soft

    def _foreach_batch(self):
        target, soft = self.target, self.soft

        def apply(batch: DataFrame, batch_id: int) -> None:
            if soft:
                target.soft_delete(batch)
            else:
                target.hard_delete(batch)

        return apply


class MultiTableUpsertQuickStream(_StreamBase):
    """Table-routed upsert (reference multi_table_upsert.rs:72-198).

    ``quarantine`` (optional): rows failing its rules — typically the
    :func:`~quick_stream_spark.streaming.quarantine.in_set` routing
    guard on the destination column — are dead-lettered with reasons
    instead of being silently dropped by the fan-out (the failure mode
    an explicit table list otherwise has for unknown/NULL
    destinations)."""

    def __init__(
        self,
        router: MultiTableRouter,
        config: QuickStreamConfig | None = None,
        newer_wins: bool = False,
        quarantine=None,
    ) -> None:
        super().__init__(config)
        self.router = router
        self.newer_wins = newer_wins
        self.quarantine = quarantine
        # reference parity: the stream's max_con_count caps how many
        # destination tables merge concurrently (the elastic pool's
        # connection cap, builder.rs) unless the router already pinned
        # its own width
        if router.max_concurrency is None:
            router.max_concurrency = self.config.max_con_count

    def _foreach_batch(self):
        router, newer_wins = self.router, self.newer_wins
        quarantine = self.quarantine

        def apply(batch: DataFrame, batch_id: int) -> None:
            if quarantine is None:
                router.upsert_batch(batch, newer_wins=newer_wins)
                return
            batch = batch.persist()
            try:
                good, bad = quarantine.split(batch)
                quarantine.write(bad, batch_id)
                router.upsert_batch(good, newer_wins=newer_wins)
            finally:
                batch.unpersist()

        return apply


class MultiTableDeleteQuickStream(_StreamBase):
    """Table-routed delete (reference multi_table_delete.rs:323-448)."""

    def __init__(
        self,
        router: MultiTableRouter,
        config: QuickStreamConfig | None = None,
        soft: bool = True,
    ) -> None:
        super().__init__(config)
        self.router = router
        self.soft = soft

    def _foreach_batch(self):
        router, soft = self.router, self.soft

        def apply(batch: DataFrame, batch_id: int) -> None:
            if soft:
                router.soft_delete_batch(batch)
            else:
                router.hard_delete_batch(batch)

        return apply
