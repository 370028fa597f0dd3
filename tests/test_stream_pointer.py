"""Streaming ingestion composed with the POINTER manifest layout
(r13 verdict ask #2): a long-lived 100 TB table streams into
``manifest_parquet_threshold=0`` + checkpoint cadence — bounded
O(commit) commits under a REAL checkpointed Structured Streaming query,
including kill/resume across a cadence crossing, the merge-half
bounded-commit spies under the stream, ``maybe_compact`` riding the
stream cadence, and the soft-delete leg.  Batch replay onto this layout
is pinned in tests/test_bounded_commits.py; these tests pin the
streaming COMPOSITION the reference's whole purpose implies
(upsert.rs:77-207 is a long-running ingestion loop, not a batch job).
"""

import os
from datetime import datetime

from pyspark.sql import functions as F

from quick_stream_spark.config import QuickStreamConfig
from quick_stream_spark.operators.commitlog import ManifestLog
from quick_stream_spark.operators.merge import KeyedTable
from quick_stream_spark.sources.readers import (
    stream_parquet_dir,
    write_batches_as_files,
)
from quick_stream_spark.streaming.stream import (
    DeleteQuickStream,
    UpsertQuickStream,
)

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mkp(spark, root, name, **kw):
    kw.setdefault("manifest_checkpoint_interval", 3)
    kw.setdefault("manifest_parquet_threshold", 0)
    kw.setdefault("num_buckets", 4)
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        commit_protocol="manifest",
        zone_map_cols=("modified_date",),
        **kw,
    )


def _state(t, **kw):
    return {r.pkey: (r.payload, r.row_active) for r in t.read(**kw).collect()}


def _cfg(tmp_path, name):
    return QuickStreamConfig(
        name=name, checkpoint_dir=str(tmp_path / f"ckpt-{name}")
    )


SEED = [(k, datetime(2024, 1, 1), k, "seed") for k in range(1, 9)]


def _add_delivery(batch, src_dir, name):
    """A later delivery for an already-streaming source dir (the
    existing-file set was written by write_batches_as_files)."""
    batch.coalesce(1).write.parquet(os.path.join(src_dir, name))


def test_stream_pointer_resume_across_cadence_crossing(spark, tmp_path):
    """Kill/resume on the pointer layout with the cadence boundary
    BEHIND the restart: phase 1 streams the seed (v1, delta), the query
    stops (availableNow), phase 2 restarts from the SAME checkpoint with
    two new deliveries — v2 (delta) and v3, the cadence checkpoint,
    whose parquet builds from the delta chain the PREVIOUS incarnation
    wrote.  Exactly-once across the restart is proven by batch-wins: the
    phase-2 older-ts update must hold the final state (a re-processed
    phase-1 file would overwrite it back).  End state equals an inline-
    layout twin of the same logical replay, and the log shape is pure
    pointer (every version a delta doc or a checkpoint pointer, never an
    inline body)."""
    src = str(tmp_path / "src")
    target = mkp(spark, str(tmp_path), "t")
    cfg = _cfg(tmp_path, "resume-ptr")

    b1 = df(spark, SEED)
    write_batches_as_files([b1], src)
    stream1 = stream_parquet_dir(spark, src, b1.schema, max_files_per_trigger=1)
    q1 = UpsertQuickStream(target, config=cfg).run(stream1, available_now=True)
    assert not q1.isActive and target.snapshot_versions() == [1]
    assert _state(target)[1] == ("seed", True)

    # the restart: two new deliveries, disjoint key sets so file pickup
    # order cannot matter under batch-wins
    b2 = df(spark, [(1, datetime(2023, 6, 1), 100, "late-older")])
    b3 = df(spark, [(9, datetime(2024, 2, 1), 101, "insert"),
                    (2, datetime(2024, 2, 1), 102, "updated")])
    _add_delivery(b2, src, "delivery-b2")
    _add_delivery(b3, src, "delivery-b3")
    stream2 = stream_parquet_dir(spark, src, b1.schema, max_files_per_trigger=1)
    q2 = UpsertQuickStream(target, config=cfg).run(stream2, available_now=True)
    assert not q2.isActive

    reader = mkp(spark, str(tmp_path), "t")
    got = _state(reader)
    # batch-wins: the older-ts phase-2 row holds; a phase-1 replay
    # after resume would have flipped it back to "seed"
    assert got[1] == ("late-older", True)
    assert got[9] == ("insert", True) and got[2] == ("updated", True)
    assert len(got) == 9

    # cadence crossing spanned the restart: v3 is the checkpoint whose
    # base chain (v1, v2) was written across two query incarnations
    log = reader._log
    assert reader.snapshot_versions() == [1, 2, 3]
    docs = {v: log._read_doc(v) for v in (1, 2, 3)}
    assert "checkpoint_parquet" in docs[3]
    assert "delta" in docs[2]
    for v, doc in docs.items():
        assert "delta" in doc or "checkpoint_parquet" in doc, (v, doc)

    # inline twin of the same logical replay (phase-2 batches touch
    # disjoint keys, so replay order within the phase is irrelevant)
    twin = mkp(spark, str(tmp_path), "twin",
               manifest_parquet_threshold=10**9)
    for b in (b1, b2, b3):
        twin.upsert(b)
    assert got == _state(twin)


def test_stream_merge_half_bounded_under_real_stream(
    spark, tmp_path, monkeypatch
):
    """The r13 bounded-commit guarantee under the configuration that
    motivated it: a cold-cache table fed by a REAL checkpointed stream
    — with `maybe_compact` riding every batch via auto_compact_every=1
    — performs ZERO full snapshot materializations across three
    streamed commits INCLUDING the cadence checkpoint build (v3) and
    the in-band maintenance probes.  The batch-mode twin of this pin is
    test_bounded_commits.py::test_merge_half_never_resolves_snapshot;
    this one proves foreachBatch + cadence + maintenance compose
    without reintroducing a driver-side O(table) term."""
    target = mkp(spark, str(tmp_path), "t")
    target.upsert(df(spark, SEED))                                   # v1
    target.upsert(df(spark, [(1, datetime(2024, 1, 5), 10, "a2")]))  # v2

    src = str(tmp_path / "src")
    deliveries = [
        df(spark, [(2, datetime(2024, 2, 1), 20, "b2")]),
        df(spark, [(9, datetime(2024, 2, 2), 21, "i1")]),
        df(spark, [(3, datetime(2024, 2, 3), 22, "c2")]),
    ]
    write_batches_as_files(deliveries, src)

    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint", "_full_parts"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)

    fresh = mkp(spark, str(tmp_path), "t")  # cold caches: honest pin
    stream = stream_parquet_dir(
        spark, src, deliveries[0].schema, max_files_per_trigger=1
    )
    q = UpsertQuickStream(
        fresh,
        config=_cfg(tmp_path, "bounded-ptr"),
        auto_compact_every=1,       # probe rides every batch...
        auto_compact_max_files=99,  # ...but never trips a rewrite
    ).run(stream, available_now=True)
    assert not q.isActive
    assert calls == [], f"streamed commit materialized a snapshot: {calls}"
    monkeypatch.undo()

    got = _state(mkp(spark, str(tmp_path), "t"))
    assert got[2] == ("b2", True) and got[9] == ("i1", True)
    assert got[3] == ("c2", True) and got[1] == ("a2", True)
    assert len(got) == 9
    # v3..v5 streamed; v3 was the cadence checkpoint, built distributed
    log = fresh._log
    assert "checkpoint_parquet" in log._read_doc(3)
    assert "delta" in log._read_doc(4) and "delta" in log._read_doc(5)


def test_stream_soft_delete_pointer_layout(spark, tmp_path):
    """The delete leg (reference delete.rs:71-187) composed with the
    pointer layout: DeleteQuickStream soft-deletes through a real
    checkpointed stream, commits stay delta documents until the cadence
    checkpoint, tombstones survive a cold reopen, and active-only reads
    exclude them."""
    target = mkp(spark, str(tmp_path), "t")
    target.upsert(df(spark, SEED))                                    # v1

    src = str(tmp_path / "src")
    write_batches_as_files(
        [df(spark, [(2, datetime(2024, 3, 1), 30, "x")]),
         df(spark, [(3, datetime(2024, 3, 2), 31, "x")])],
        src,
    )
    stream = stream_parquet_dir(
        spark, src, df(spark, SEED).schema, max_files_per_trigger=1
    )
    q = DeleteQuickStream(target, config=_cfg(tmp_path, "del-ptr")).run(
        stream, available_now=True
    )
    assert not q.isActive

    reader = mkp(spark, str(tmp_path), "t")
    full = _state(reader)
    assert full[2][1] is False and full[3][1] is False  # tombstoned
    assert sorted(_state(reader, active_only=True)) == [1, 4, 5, 6, 7, 8]
    log = reader._log
    assert reader.snapshot_versions() == [1, 2, 3]
    assert "delta" in log._read_doc(2)
    assert "checkpoint_parquet" in log._read_doc(3)


def test_stream_auto_rebucket_rides_pointer_cadence(spark, tmp_path):
    """A long-lived ingest stream's table grows without bound, so
    bucket count must grow with it (~1 GB/bucket at production scale):
    `auto_rebucket_target_bytes` rides the maintenance cadence of a
    pointer-layout stream — its `total_bytes` probe is the bounded
    executor stat job (pinned in test_bounded_commits.py), the resize
    publishes a full checkpoint mid-stream, and bounded delta commits
    resume after it under the new assignment.  End state and a cold
    reopen under the grown count stay correct."""
    target = mkp(spark, str(tmp_path), "t", num_buckets=2)
    src = str(tmp_path / "src")
    deliveries = [
        df(spark, [(b * 100 + k, datetime(2024, 1, 1 + b), b * 100 + k,
                    "x" * 64) for k in range(40)])
        for b in range(3)
    ]
    write_batches_as_files(deliveries, src)
    stream = stream_parquet_dir(
        spark, src, deliveries[0].schema, max_files_per_trigger=1
    )
    q = UpsertQuickStream(
        target,
        config=_cfg(tmp_path, "rebucket-ptr"),
        auto_compact_every=1,                  # probe every batch
        auto_compact_max_files=99,             # compaction never trips
        # merges rewrite whole buckets, so live bytes stay ~data-sized
        # (~4.5 KB here) rather than cumulative: the target must sit
        # below live/num_buckets for the policy to trip mid-stream
        auto_rebucket_target_bytes=1024,       # ...but the resize does
    ).run(stream, available_now=True)
    assert not q.isActive
    grown = target.num_buckets
    assert grown > 2, grown

    reader = mkp(spark, str(tmp_path), "t", num_buckets=grown)
    got = _state(reader)
    assert len(got) == 120 and all(v == ("x" * 64, True) for v in got.values())
    # log shape: merge deltas + at least one full checkpoint beyond the
    # cadence positions (the mid-stream resize)
    log = reader._log
    docs = {v: log._read_doc(v) for v in reader.snapshot_versions()}
    fulls = [v for v, d in docs.items() if "checkpoint_parquet" in d]
    cadence = [v for v in docs if v % 3 == 0]
    assert any(v not in cadence for v in fulls), (fulls, cadence)
    # and the table keeps ingesting after the resize: one more batch
    target.upsert(df(spark, [(9999, datetime(2024, 2, 1), 9999, "post")]))
    assert _state(target)[9999] == ("post", True)
