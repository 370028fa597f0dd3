"""Bucketing-properties guard + rebucket maintenance op (merge.py):
bucket = hash(keys) % num_buckets is baked into the physical layout, so
reopening a table under different bucketing silently corrupts — the
merge prunes to the wrong buckets and a key gains a second row.  The
properties sidecar turns that misconfiguration into a construction-time
error, and rebucket() is the sanctioned resize."""

import os
from datetime import datetime

import pytest

from quick_stream_spark.operators.merge import KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def _b(spark, rows):
    return spark.createDataFrame(
        [(k, datetime(2024, 1, v), a, p) for (k, v, a, p) in rows], SCHEMA
    )


def _t(spark, root, **kw):
    args = dict(
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
    )
    args.update(kw)
    return KeyedTable(spark, os.path.join(root, "t"), **args)


@pytest.mark.parametrize("protocol", ["manifest"])
def test_reopening_with_different_bucketing_fails_fast(
    spark, tmp_table_dir, protocol
):
    t = _t(spark, tmp_table_dir, commit_protocol=protocol)
    t.upsert(_b(spark, [(k, 1, k, f"v1-{k}") for k in range(20)]))
    # without the guard this exact sequence produced a duplicate key
    # (key 0's %8 bucket differs from its %4 bucket): reproduced before
    # the fix as 21 rows / 1 dup
    with pytest.raises(ValueError, match="rebucket"):
        _t(spark, tmp_table_dir, num_buckets=8, commit_protocol=protocol)
    with pytest.raises(ValueError, match="rebucket"):
        _t(spark, tmp_table_dir, keys=("arrival",), commit_protocol=protocol)
    # matching properties reopen fine
    again = _t(spark, tmp_table_dir, commit_protocol=protocol)
    assert again.read().count() == 20


@pytest.mark.parametrize("protocol", ["manifest"])
@pytest.mark.parametrize("new_n", [8, 2])
def test_rebucket_preserves_content_and_future_merges(
    spark, tmp_table_dir, protocol, new_n
):
    """Grow and shrink: content checksum is invariant across the
    rewrite, the properties sidecar tracks the new count (old count
    rejected, new accepted), and a post-rebucket merge under the new
    assignment stays correct — including for the keys whose bucket
    moved."""
    t = _t(spark, tmp_table_dir, commit_protocol=protocol)
    t.upsert(_b(spark, [(k, 1, k, f"v1-{k}") for k in range(20)]))
    before = t.content_checksum()
    t.rebucket(new_n)
    assert t.content_checksum() == before
    assert t.read().count() == 20
    with pytest.raises(ValueError, match="rebucket"):
        _t(spark, tmp_table_dir, num_buckets=4, commit_protocol=protocol)
    t2 = _t(spark, tmp_table_dir, num_buckets=new_n, commit_protocol=protocol)
    t2.upsert(_b(spark, [(k, 2, 100 + k, f"v2-{k}") for k in range(0, 20, 2)]))
    state = t2.read()
    assert state.count() == 20
    assert state.groupBy("pkey").count().filter("count > 1").count() == 0
    got = {r.pkey: r.payload for r in state.collect()}
    assert got == {
        k: (f"v2-{k}" if k % 2 == 0 else f"v1-{k}") for k in range(20)
    }
    assert t2.count_fast() == 20


@pytest.mark.parametrize("protocol", ["manifest"])
def test_maybe_rebucket_grows_with_volume(spark, tmp_table_dir, protocol):
    """The auto-resize policy: with a tiny per-bucket byte target the
    table must grow its bucket count (power-of-two) in one rewrite,
    preserve content, and report the resize; a table under target is
    untouched.  (Only LIVE snapshot files are measured, so superseded
    commit files don't trigger phantom resizes.)"""
    t = _t(spark, tmp_table_dir, num_buckets=2, commit_protocol=protocol)
    t.upsert(_b(spark, [(k, 1, k, "x" * 64) for k in range(200)]))
    before = t.content_checksum()
    assert t.maybe_rebucket(target_bucket_bytes=1 << 60) is False
    assert t.num_buckets == 2
    assert t.maybe_rebucket(target_bucket_bytes=2048) is True
    assert t.num_buckets > 2 and (t.num_buckets & (t.num_buckets - 1)) == 0
    assert t.content_checksum() == before
    # the new count is persisted: stale opens fail, fresh opens work
    with pytest.raises(ValueError, match="rebucket"):
        _t(spark, tmp_table_dir, num_buckets=2, commit_protocol=protocol)
    t2 = _t(
        spark, tmp_table_dir, num_buckets=t.num_buckets, commit_protocol=protocol
    )
    assert t2.read().count() == 200


def test_streaming_auto_rebucket_grows_bucket_count(spark, tmp_table_dir):
    """A long-lived ingest stream with auto_rebucket on the maintenance
    cadence must grow the table's bucket count as volume accumulates,
    with the end state untouched and properties persisted."""
    from quick_stream_spark.config import QuickStreamConfig
    from quick_stream_spark.sources.readers import (
        stream_parquet_dir,
        write_batches_as_files,
    )
    from quick_stream_spark.streaming.stream import UpsertQuickStream

    batches = [
        _b(spark, [(b * 100 + k, 1, b * 100 + k, "x" * 64) for k in range(100)])
        for b in range(4)
    ]
    src = os.path.join(tmp_table_dir, "in")
    write_batches_as_files(batches, src)
    t = _t(spark, tmp_table_dir, num_buckets=2)
    cfg = QuickStreamConfig(
        name="auto-rebucket",
        checkpoint_dir=os.path.join(tmp_table_dir, "ckpt"),
        buffer_size=1,
    )
    UpsertQuickStream(
        t,
        config=cfg,
        newer_wins=True,
        auto_compact_every=1,
        auto_rebucket_target_bytes=1024,
    ).run(
        stream_parquet_dir(spark, src, batches[0].schema),
        available_now=True,
        await_termination=True,
    )
    assert t.num_buckets > 2
    assert t.read().count() == 400
    # persisted: a fresh open must use the grown count
    t2 = _t(spark, tmp_table_dir, num_buckets=t.num_buckets)
    assert t2.read().count() == 400


def test_auto_rebucket_requires_the_maintenance_cadence(spark, tmp_table_dir):
    import pytest as _pytest

    from quick_stream_spark.streaming.stream import UpsertQuickStream

    with _pytest.raises(ValueError, match="cadence"):
        UpsertQuickStream(
            _t(spark, tmp_table_dir), auto_rebucket_target_bytes=1024
        )


@pytest.mark.parametrize("protocol", ["manifest"])
def test_rebucket_growth_replaces_every_old_dir(spark, tmp_table_dir, protocol):
    """The stale-bucket hazard: growing to a much larger count with few
    keys leaves some OLD bucket ids with no rows under the new
    assignment — a rewrite that replaced only the buckets it wrote
    would keep those buckets' stale copies (caught as 405/400 rows in
    the streaming test once).  Five keys into 64 buckets makes the skip
    near-certain."""
    t = _t(spark, tmp_table_dir, commit_protocol=protocol)
    t.upsert(_b(spark, [(k, 1, k, f"v-{k}") for k in range(5)]))
    t.rebucket(64)
    state = t.read()
    assert state.count() == 5
    assert state.groupBy("pkey").count().filter("count > 1").count() == 0


def test_removed_commit_protocol_is_rejected(spark, tmp_table_dir):
    """'manifest' is the only commit protocol left; any other value,
    the removed in-place 'direct' one included, fails at construction."""
    for bad in ("direct", "bogus"):
        with pytest.raises(ValueError, match="'direct' protocol was removed"):
            _t(spark, tmp_table_dir, commit_protocol=bad)


def test_in_place_layout_is_rejected_on_open(spark, tmp_table_dir):
    """A table root an older build wrote in place (properties sidecar
    plus ``__qss_bucket=*`` partition directories, no manifest) must
    fail on open rather than read as empty: its first commit would
    publish a snapshot that drops every existing row."""
    import json
    import re

    root = os.path.join(tmp_table_dir, "t")
    bucket_dir = os.path.join(root, "__qss_bucket=0")
    os.makedirs(bucket_dir)
    with open(os.path.join(root, "_qss_table.json"), "w") as f:
        json.dump({"keys": ["pkey"], "num_buckets": 4, "zone_map_cols": []}, f)
    _b(spark, [(1, 1, 1, "old")]).toPandas().to_parquet(
        os.path.join(bucket_dir, "part-0.parquet")
    )
    with pytest.raises(ValueError, match=re.escape(f"KeyedTable at {root} holds")):
        _t(spark, tmp_table_dir)
