"""Crash-injection for the manifest commit protocol (r4 verdict ask #4):
the reference gets merge atomicity from Postgres transactions
(upsert.rs:287 executes the prepared statement transactionally); our
files-based translation claims the same contract via the append-only
commit-dir + atomic manifest publish (operators/commitlog.py).  These
tests PROVE the claim instead of asserting it: a crash injected between
the bucket-data write and the manifest publish must leave readers on the
pre-merge snapshot with honest metadata counts, a retry must converge to
the single-application end state, and vacuum must reclaim the orphaned
commit files."""

import os
from datetime import datetime

import pytest

from quick_stream_spark.operators.commitlog import ManifestLog
from quick_stream_spark.operators.merge import KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def _table(spark, root):
    return KeyedTable(
        spark,
        os.path.join(root, "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        commit_protocol="manifest",
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        [(k, datetime(2024, 1, d), a, p) for (k, d, a, p) in rows], SCHEMA
    )


class _InjectedCrash(RuntimeError):
    pass


def test_crash_between_data_write_and_manifest_publish(spark, tmp_table_dir, monkeypatch):
    """Kill the writer AFTER the commit dir's bucket files are fully
    written but BEFORE the snapshot manifest publishes.  A concurrent
    reader must see the pre-merge state (rows, checksum AND the
    metadata-only count_fast), and the orphaned data files must stay
    invisible."""
    t = _table(spark, tmp_table_dir)
    t.upsert(_batch(spark, [(1, 1, 1, "a1"), (2, 1, 2, "b1"), (3, 1, 3, "c1")]))
    pre_state = {r.pkey: r.payload for r in t.read().collect()}
    pre_checksum = t.content_checksum()
    pre_versions = t.snapshot_versions()

    real_commit = ManifestLog.commit

    def crash(self, mapping, stats=None, **kw):
        raise _InjectedCrash("injected: process died before manifest publish")

    monkeypatch.setattr(ManifestLog, "commit", crash)
    with pytest.raises(_InjectedCrash):
        t.upsert(_batch(spark, [(2, 2, 4, "b2"), (4, 2, 5, "d1")]))
    monkeypatch.setattr(ManifestLog, "commit", real_commit)

    # a separate reader instance (no shared caches with the writer)
    reader = _table(spark, tmp_table_dir)
    assert {r.pkey: r.payload for r in reader.read().collect()} == pre_state
    assert reader.content_checksum() == pre_checksum
    assert reader.count_fast() == len(pre_state) == reader.read().count()
    assert reader.snapshot_versions() == pre_versions
    # the failed commit's data files exist on disk (the crash happened
    # after the write) — but no snapshot references them
    commits_root = os.path.join(t.path, "_qss_commits")
    orphan_files = [
        os.path.join(dp, f)
        for dp, _, fns in os.walk(commits_root)
        for f in fns
        if f.endswith(".parquet")
    ]
    assert len(orphan_files) > 0, "injection fired before the data write?"

    # retry on a FRESH instance (the restarted process) converges to the
    # exact single-application end state, with honest metadata
    retry = _table(spark, tmp_table_dir)
    retry.upsert(_batch(spark, [(2, 2, 4, "b2"), (4, 2, 5, "d1")]))
    end = {r.pkey: r.payload for r in retry.read().collect()}
    assert end == {1: "a1", 2: "b2", 3: "c1", 4: "d1"}
    assert retry.count_fast() == 4 == retry.read().count()
    # vacuum reclaims the crash orphans; the surviving state is untouched
    removed = retry.vacuum(keep_versions=1)
    assert removed > 0
    assert {r.pkey: r.payload for r in retry.read().collect()} == end


def test_crash_before_data_write_leaves_no_trace(spark, tmp_table_dir, monkeypatch):
    """Kill the writer BEFORE any commit file lands (staging-dir
    allocation): nothing changes on disk at all — no orphan files, no
    manifest, same snapshot list."""
    t = _table(spark, tmp_table_dir)
    t.upsert(_batch(spark, [(1, 1, 1, "a1")]))
    pre_versions = t.snapshot_versions()

    def crash(self):
        raise _InjectedCrash("injected: process died before staging write")

    monkeypatch.setattr(ManifestLog, "new_commit_dir", crash)
    with pytest.raises(_InjectedCrash):
        t.upsert(_batch(spark, [(2, 2, 2, "b1")]))
    monkeypatch.undo()

    reader = _table(spark, tmp_table_dir)
    assert reader.snapshot_versions() == pre_versions
    assert {r.pkey for r in reader.read().collect()} == {1}


def test_double_crash_then_retry_still_converges(spark, tmp_table_dir, monkeypatch):
    """Two consecutive crashed attempts (each leaving its own orphaned
    commit dir) followed by a successful retry: the end state equals
    one clean application, count_fast stays honest, and vacuum removes
    BOTH orphan sets."""
    t = _table(spark, tmp_table_dir)
    t.upsert(_batch(spark, [(1, 1, 1, "a1"), (2, 1, 2, "b1")]))

    def crash(self, mapping, stats=None, **kw):
        raise _InjectedCrash("injected")

    real_commit = ManifestLog.commit
    for _ in range(2):
        monkeypatch.setattr(ManifestLog, "commit", crash)
        with pytest.raises(_InjectedCrash):
            t.upsert(_batch(spark, [(1, 3, 9, "a3")]))
        monkeypatch.setattr(ManifestLog, "commit", real_commit)

    retry = _table(spark, tmp_table_dir)
    retry.upsert(_batch(spark, [(1, 3, 9, "a3")]))
    assert {r.pkey: r.payload for r in retry.read().collect()} == {1: "a3", 2: "b1"}
    assert retry.count_fast() == 2 == retry.read().count()
    assert retry.vacuum(keep_versions=1) > 0
    assert {r.pkey: r.payload for r in retry.read().collect()} == {1: "a3", 2: "b1"}


def test_crash_during_streaming_merge_then_resume(spark, tmp_table_dir, monkeypatch):
    """The streaming composition of the same claim: a foreachBatch merge
    whose manifest publish dies mid-stream must not corrupt the table —
    restarting the stream from the SAME checkpoint replays the failed
    micro-batch and the end state equals a clean run (at-least-once
    foreachBatch + state-based MERGE = effectively-once table state)."""
    from quick_stream_spark.config import QuickStreamConfig
    from quick_stream_spark.sources.readers import write_batches_as_files

    batches = [
        _batch(spark, [(1, 1, 1, "a1"), (2, 1, 2, "b1")]),
        _batch(spark, [(2, 2, 3, "b2"), (3, 2, 4, "c1")]),
    ]
    src = os.path.join(tmp_table_dir, "in")
    write_batches_as_files(batches, src)
    t = _table(spark, tmp_table_dir)
    cfg = QuickStreamConfig(
        name="crash-stream",
        checkpoint_dir=os.path.join(tmp_table_dir, "ckpt"),
        buffer_size=1,  # one delivery file per micro-batch
    )

    real_commit = ManifestLog.commit
    calls = {"n": 0}

    def crash_on_second(self, mapping, stats=None, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise _InjectedCrash("injected mid-stream")
        return real_commit(self, mapping, stats=stats, **kw)

    monkeypatch.setattr(ManifestLog, "commit", crash_on_second)
    with pytest.raises(Exception):  # StreamingQueryException wrapping the crash
        _run_stream(spark, t, src, batches[0].schema, cfg)
    monkeypatch.setattr(ManifestLog, "commit", real_commit)

    # mid-crash visibility: only batch 1 landed
    reader = _table(spark, tmp_table_dir)
    assert {r.pkey: r.payload for r in reader.read().collect()} == {1: "a1", 2: "b1"}
    assert reader.count_fast() == 2

    # resume from the SAME checkpoint: the failed micro-batch replays
    fresh = _table(spark, tmp_table_dir)
    _run_stream(spark, fresh, src, batches[0].schema, cfg)
    assert {r.pkey: r.payload for r in fresh.read().collect()} == {
        1: "a1",
        2: "b2",
        3: "c1",
    }
    assert fresh.count_fast() == 3 == fresh.read().count()


def _run_stream(spark, target, src, schema, cfg):
    from quick_stream_spark.sources.readers import stream_parquet_dir
    from quick_stream_spark.streaming.stream import UpsertQuickStream

    UpsertQuickStream(target, config=cfg, newer_wins=True).run(
        stream_parquet_dir(spark, src, schema),
        available_now=True,
        await_termination=True,
    )


def test_logstore_backend_survives_publish_crash(spark, tmp_table_dir, monkeypatch):
    """The LogStructuredBucketStore (third backend) makes store-backed
    tables crash-atomic via the same manifest publish: a crash between
    its commit-dir write and the snapshot publish leaves a reader on the
    pre-merge state; retry converges; vacuum reclaims the orphans."""
    from quick_stream_spark.operators.backends import LogStructuredBucketStore

    store = LogStructuredBucketStore(spark, os.path.join(tmp_table_dir, "log"))
    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        store=store,
    )
    t.upsert(_batch(spark, [(1, 1, 1, "a1"), (2, 1, 2, "b1")]))
    real_commit = ManifestLog.commit

    def crash(self, mapping, stats=None, **kw):
        raise _InjectedCrash("injected")

    monkeypatch.setattr(ManifestLog, "commit", crash)
    with pytest.raises(_InjectedCrash):
        t.upsert(_batch(spark, [(2, 2, 3, "b2"), (3, 2, 4, "c1")]))
    monkeypatch.setattr(ManifestLog, "commit", real_commit)

    reader = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        store=LogStructuredBucketStore(spark, os.path.join(tmp_table_dir, "log")),
    )
    assert {r.pkey: r.payload for r in reader.read().collect()} == {1: "a1", 2: "b1"}

    t2 = reader
    t2.upsert(_batch(spark, [(2, 2, 3, "b2"), (3, 2, 4, "c1")]))
    assert {r.pkey: r.payload for r in t2.read().collect()} == {
        1: "a1",
        2: "b2",
        3: "c1",
    }
    assert store.vacuum(keep_versions=1) > 0
    assert {r.pkey: r.payload for r in t2.read().collect()} == {
        1: "a1",
        2: "b2",
        3: "c1",
    }


def test_register_log_append_crash_then_checkpoint_replay_converges(
    spark, tmp_table_dir, monkeypatch
):
    """r6 verdict ask #2 — the streaming state logs' replay claim,
    proven like the matview's: kill the HLL counter AFTER its
    register-log append but BEFORE the streaming checkpoint commits the
    batch.  The crashed batch's registers are then on disk (the
    at-least-once window); resuming from the SAME checkpoint replays
    that batch and appends them AGAIN — and the drained state must
    still equal the one-shot batch sketch, because max-merge is
    idempotent (the docstring's argument, here executed)."""
    from pyspark.sql import functions as F

    from quick_stream_spark.functions import hll
    from quick_stream_spark.sources.readers import (
        stream_parquet_dir,
        write_batches_as_files,
    )
    from quick_stream_spark.streaming.distinct_index import StreamingDistinctCounter

    ev_schema = "event_id long, event_type string"
    batches = [
        spark.createDataFrame(
            [(i, str(i % 3)) for i in range(b * 100, b * 100 + 150)], ev_schema
        )
        for b in range(3)  # overlapping ids across deliveries
    ]
    src = os.path.join(tmp_table_dir, "in")
    write_batches_as_files(batches, src)

    def counter():
        c = StreamingDistinctCounter(
            spark,
            os.path.join(tmp_table_dir, "state"),
            key_col="event_id",
            group_cols=("event_type",),
            p=8,
            auto_compact_every=2,  # the cadence must also survive replay
        )
        c.config.checkpoint_dir = os.path.join(tmp_table_dir, "ckpt")
        return c

    real_fb = StreamingDistinctCounter._foreach_batch

    def crashing(self):
        inner = real_fb(self)

        def apply(batch, batch_id):
            inner(batch, batch_id)  # the append COMMITS to the log
            if batch_id == 1:
                raise _InjectedCrash("injected after append, before ckpt commit")

        return apply

    monkeypatch.setattr(StreamingDistinctCounter, "_foreach_batch", crashing)
    with pytest.raises(Exception):  # StreamingQueryException wrapping the crash
        counter().run(
            stream_parquet_dir(spark, src, batches[0].schema), available_now=True
        )
    monkeypatch.setattr(StreamingDistinctCounter, "_foreach_batch", real_fb)

    # mid-crash: batch 1's registers landed without a checkpoint commit
    resumed = counter()
    resumed.run(
        stream_parquet_dir(spark, src, batches[0].schema), available_now=True
    )

    all_ev = batches[0].unionByName(batches[1]).unionByName(batches[2])
    batch_regs = hll.register_table(
        all_ev, resumed.tag, F.col("event_id"), 8, ("event_type",)
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(resumed.registers()) == rows(hll.merge_registers(batch_regs, ("event_type",)))
    assert rows(resumed.estimate()) == rows(
        hll.estimate(batch_regs, 8, ("event_type",))
    )


def test_dedup_index_append_crash_then_checkpoint_replay_converges(
    spark, tmp_table_dir, monkeypatch
):
    """Same kill-between-append-and-commit injection for the near-dup
    index's TWO state logs (pairs + band index): the crashed batch
    appends both, the checkpoint replay appends both again, and the
    drained pair set must equal the one-shot contract — duplicate
    emissions collapse on read, and compact() then removes them from
    disk without changing anything."""
    from quick_stream_spark.config import QuickStreamConfig
    from quick_stream_spark.sources.readers import (
        stream_parquet_dir,
        write_batches_as_files,
    )
    from quick_stream_spark.streaming.dedup_index import StreamingNearDupIndex

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long song about distributed systems and late "
    )
    schema = "id long, text string"
    batches = [
        spark.createDataFrame([(1, base + "data"), (2, base + "arrivals")], schema),
        spark.createDataFrame([(3, base + "data")], schema),
        spark.createDataFrame([(4, base + "arrivals")], schema),
    ]
    src = os.path.join(tmp_table_dir, "in")
    write_batches_as_files(batches, src)

    def index(name):
        return StreamingNearDupIndex(
            spark,
            os.path.join(tmp_table_dir, "state"),
            config=QuickStreamConfig(
                name=name, checkpoint_dir=os.path.join(tmp_table_dir, "ckpt")
            ),
        )

    real_fb = StreamingNearDupIndex._foreach_batch

    def crashing(self):
        inner = real_fb(self)

        def apply(batch, batch_id):
            inner(batch, batch_id)  # pairs AND band entries appended
            if batch_id == 1:
                raise _InjectedCrash("injected after appends, before ckpt commit")

        return apply

    monkeypatch.setattr(StreamingNearDupIndex, "_foreach_batch", crashing)
    with pytest.raises(Exception):
        index("ndi-crash").run(
            stream_parquet_dir(spark, src, batches[0].schema), available_now=True
        )
    monkeypatch.setattr(StreamingNearDupIndex, "_foreach_batch", real_fb)

    # the at-least-once window is real: the crashed (uncommitted)
    # batch's index rows are on disk alongside the committed batch's
    crashed_idx = spark.read.parquet(
        os.path.join(tmp_table_dir, "state", "band_index")
    )
    assert crashed_idx.select("id").distinct().count() >= 2

    resumed = index("ndi-resume")
    resumed.run(
        stream_parquet_dir(spark, src, batches[0].schema), available_now=True
    )
    expected = {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}
    assert {(r.id_a, r.id_b) for r in resumed.pairs().collect()} == expected

    # replay left duplicate (band, id) rows on disk; compact removes
    # them and the contract is unchanged
    raw = spark.read.parquet(resumed.index_path)
    assert raw.count() > raw.dropDuplicates(["band", "id"]).count()
    resumed.compact()
    raw = spark.read.parquet(resumed.index_path)
    assert raw.count() == raw.dropDuplicates(["band", "id"]).count()
    raw_pairs = spark.read.parquet(resumed.pairs_path)
    assert raw_pairs.count() == raw_pairs.distinct().count()
    assert {(r.id_a, r.id_b) for r in resumed.pairs().collect()} == expected


def test_matview_publish_crash_then_epoch_retry_does_not_double_count(
    spark, tmp_table_dir, monkeypatch
):
    """IncrementalAggView's docstring claims the combination of the
    manifest protocol and the _batch_id epoch guard absorbs a
    crash-and-retry without double-counting.  Prove it: crash the
    snapshot publish mid-apply for epoch 1, then re-apply epoch 1 (the
    foreachBatch retry).  The additive merge must land exactly once —
    and the crashed attempt must not have leaked a partial snapshot."""
    from quick_stream_spark.streaming.matview import IncrementalAggView

    view = IncrementalAggView(
        spark,
        os.path.join(tmp_table_dir, "v"),
        group_cols=["g"],
        value_col="value",
        commit_protocol="manifest",
    )

    def b(rows):
        return spark.createDataFrame(rows, "g string, value double")

    view.apply_batch(b([("a", 1.0), ("b", 2.0)]), 0)

    real_commit = ManifestLog.commit

    def crash(self, mapping, stats=None, **kw):
        raise _InjectedCrash("injected")

    monkeypatch.setattr(ManifestLog, "commit", crash)
    with pytest.raises(_InjectedCrash):
        view.apply_batch(b([("a", 10.0), ("c", 5.0)]), 1)
    monkeypatch.setattr(ManifestLog, "commit", real_commit)

    # crashed attempt invisible
    assert {r.g: (r.n, r.sum_value) for r in view.read().collect()} == {
        "a": (1, 1.0),
        "b": (1, 2.0),
    }
    # the retry of the SAME epoch applies exactly once
    view.apply_batch(b([("a", 10.0), ("c", 5.0)]), 1)
    # ... and a DUPLICATE delivery of that epoch (at-least-once
    # foreachBatch) is absorbed by the _batch_id guard
    view.apply_batch(b([("a", 10.0), ("c", 5.0)]), 1)
    assert {r.g: (r.n, r.sum_value) for r in view.read().collect()} == {
        "a": (2, 11.0),
        "b": (1, 2.0),
        "c": (1, 5.0),
    }


def test_zone_maps_are_crash_atomic_with_their_snapshot(
    spark, tmp_table_dir, monkeypatch
):
    """Zone maps ride the SAME atomic publish as the snapshot they
    describe (r9): a crash between the commit-dir data write and the
    manifest publish must leave readers on the pre-merge snapshot with
    the pre-merge zone bounds — read_range keeps pruning correctly —
    and the retry's zones describe exactly the converged file list."""
    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "tz"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        commit_protocol="manifest",
        zone_map_cols=("modified_date",),
    )
    t.upsert(_batch(spark, [(1, 1, 1, "a1"), (2, 1, 2, "b1")]))
    log = t._snapshot_log()
    z_before = log.read_zones()
    cut = datetime(2024, 1, 10)

    real_commit = ManifestLog.commit

    def crash(self, mapping, stats=None, **kw):
        raise _InjectedCrash("injected before zone-bearing publish")

    monkeypatch.setattr(ManifestLog, "commit", crash)
    with pytest.raises(_InjectedCrash):
        t.upsert(_batch(spark, [(2, 20, 3, "b2")]), newer_wins=True)
    monkeypatch.setattr(ManifestLog, "commit", real_commit)

    # readers: pre-merge zones, pre-merge pruning, pre-merge answers
    assert log.read_zones() == z_before
    assert t.read_range("modified_date", lo=cut).count() == 0
    assert t.agg_fast("modified_date", "max") == datetime(2024, 1, 1)

    # retry converges; the new zones cover exactly the new file list
    t.upsert(_batch(spark, [(2, 20, 3, "b2")]), newer_wins=True)
    zones, mapping = log.read_zones(), log.read()
    assert set(zones) == {p for fl in mapping.values() for p in fl}
    got = {(r.pkey, r.payload) for r in
           t.read_range("modified_date", lo=cut).collect()}
    assert got == {(2, "b2")}
    assert t.agg_fast("modified_date", "max") == datetime(2024, 1, 20)


def test_applied_watermark_survives_crash_before_rename(
    spark, tmp_table_dir, monkeypatch
):
    """The CDC watermark publish (operators/progress.py) must never pass
    through a state with no watermark: with the rename into place made
    to fail after the temp file is written, ``read_applied`` still
    returns the previous watermark, and a retried publish lands and
    prunes the older file."""
    from quick_stream_spark.operators import progress

    path = os.path.join(tmp_table_dir, "view")
    progress.write_applied(spark, path, 3)
    assert progress.read_applied(spark, path) == 3

    real_fs = progress._fs

    class _CrashOnRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            raise RuntimeError("injected crash before rename")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def crashing_fs(spark_, p):
        fs, jp, jvm = real_fs(spark_, p)
        return _CrashOnRename(fs), jp, jvm

    monkeypatch.setattr(progress, "_fs", crashing_fs)
    with pytest.raises(RuntimeError, match="injected crash"):
        progress.write_applied(spark, path, 4)
    monkeypatch.setattr(progress, "_fs", real_fs)
    assert progress.read_applied(spark, path) == 3

    progress.write_applied(spark, path, 4)
    assert progress.read_applied(spark, path) == 4
    names = sorted(n for n in os.listdir(path) if n.startswith("_qss_applied"))
    assert names == ["_qss_applied-4.json"]
    # re-publishing the current watermark (a retried apply) is a no-op
    progress.write_applied(spark, path, 4)
    assert progress.read_applied(spark, path) == 4
