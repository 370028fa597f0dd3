"""Manifest statistics (operators/commitlog.py stats +
KeyedTable.count_fast): every commit publishes per-bucket row counts
atomically with its snapshot, so COUNT(*) is answered from metadata —
exact across merges, deletes, compaction, restore and time travel, and
readable even when the data files themselves are not."""

import os
from datetime import datetime

import pytest

from quick_stream_spark.operators.merge import KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mk(spark, root, name="t", protocol="manifest", **kw):
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        commit_protocol=protocol,
        **kw,
    )


B1 = [(i, datetime(2024, 1, 1), i, f"p{i}") for i in range(10)]
B2 = [(9, datetime(2024, 1, 5), 20, "p9b"), (10, datetime(2024, 1, 2), 21, "new")]


def test_count_fast_tracks_every_commit_kind(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, B1))
    assert t.count_fast() == t.read().count() == 10
    t.upsert(df(spark, B2))  # one update + one insert
    assert t.count_fast() == t.read().count() == 11
    t.soft_delete(df(spark, [(1, datetime(2024, 2, 1), 30, "x")]))
    assert t.count_fast() == 11
    assert t.count_fast(active_only=True) == t.read(active_only=True).count() == 10
    t.hard_delete(df(spark, [(2, datetime(2024, 2, 2), 31, "x"),
                             (3, datetime(2024, 2, 2), 32, "x")]))
    assert t.count_fast() == t.read().count() == 9
    t.compact()  # layout-only: counts must not move
    assert t.count_fast() == 9
    assert t.count_fast(active_only=True) == 8
    # a fresh handle reads the same metadata
    fresh = mk(spark, tmp_table_dir)
    assert fresh.count_fast() == 9
    assert fresh.count_fast(active_only=True) == 8


def test_count_fast_time_travel_and_restore(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, B1))
    v1 = t.snapshot_versions()[-1]
    t.hard_delete(df(spark, [(0, datetime(2024, 2, 1), 30, "x")]))
    assert t.count_fast(version=v1) == 10
    assert t.count_fast() == 9
    t.restore(v1)
    assert t.count_fast() == 10  # restore republishes the old stats


def test_count_fast_is_metadata_only(spark, tmp_table_dir):
    """Corrupt every data file in place: a scan would now fail, but the
    metadata count still answers — proof no data file is opened."""
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, B1))
    t.vacuum(keep_versions=1)
    mapping = t._log.read()
    for path in t._log.resolve(mapping):
        with open(path, "wb") as f:
            f.write(b"not parquet anymore")
    assert t.count_fast() == 10
    assert t.count_fast(active_only=True) == 10
    with pytest.raises(Exception):
        t.read().count()


def test_pre_stats_manifest_falls_back_to_scan(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, B1))
    # simulate an old manifest: strip the stats key in place
    import json
    mdir = os.path.join(t.path, "_qss_manifest")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        if name.startswith(".") or not name.endswith(".json"):
            os.remove(p)  # drop Hadoop .crc sidecars: we rewrite the json
            continue
        doc = json.load(open(p))
        doc.pop("stats", None)
        json.dump(doc, open(p, "w"))
    assert t._log.read_stats() is None
    assert t.count_fast() == 10  # honest fallback still correct


def test_pre_stats_manifest_stays_honest_after_new_commit(spark, tmp_table_dir):
    """A commit on top of a pre-stats manifest must NOT publish a
    partial stats dict covering only its own buckets: carried-forward
    buckets have no entries, and count_fast would silently sum the
    partial dict.  The fix commits without stats (honest scan
    fallback) until no pre-stats buckets are carried forward."""
    import json
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, B1))
    mdir = os.path.join(t.path, "_qss_manifest")
    for name in os.listdir(mdir):
        p = os.path.join(mdir, name)
        if name.startswith(".") or not name.endswith(".json"):
            os.remove(p)
            continue
        doc = json.load(open(p))
        doc.pop("stats", None)
        json.dump(doc, open(p, "w"))
    assert t._log.read_stats() is None
    # incremental commit touches a subset of buckets; others carry forward
    t.upsert(df(spark, B2))
    assert t.count_fast() == t.read().count() == 11  # was: partial-sum lie
    # once a commit replaces EVERY bucket (compaction), stats can resume
    t.compact()
    assert t._log.read_stats() is not None
    assert t.count_fast() == 11


def test_count_fast_missing_table_raises_like_read(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, name="never_written")
    with pytest.raises(FileNotFoundError):
        t.count_fast()


def test_count_fast_counts_a_custom_soft_delete_col(spark, tmp_table_dir):
    """The per-bucket active-row stats count the table's OWN liveness
    column: with a non-default ``soft_delete_col``,
    ``count_fast(active_only=True)`` follows soft deletes on that
    column, not on ``row_active``."""
    t = mk(spark, tmp_table_dir, soft_delete_col="is_live")
    t.upsert(df(spark, B1))
    assert t.count_fast(active_only=True) == t.read().count() == 10
    t.soft_delete(df(spark, B1[:2]))
    assert (
        t.count_fast(active_only=True)
        == t.read(active_only=True).count()
        == 8
    )
    assert t.count_fast() == 10


def test_all_null_liveness_does_not_crash_the_stats_commit(
    spark, tmp_table_dir
):
    """ADVICE r8: F.sum over an all-NULL liveness column returns NULL;
    int(None) crashed the commit mid-write.  Both stats passes — the
    write job's Observation and the footer aggregation
    (``compute_commit_meta``, taken when zone maps are tracked) — must
    coalesce to 0: NULL liveness means not-active, and the commit
    lands."""
    from pyspark.sql import functions as F

    rows = [(i, datetime(2024, 1, 1), i, f"p{i}") for i in range(4)]
    for name, kw in (("obs", {}), ("scan", {"zone_map_cols": ("pkey",)})):
        t = mk(spark, tmp_table_dir, name=name, **kw)
        null_live = df(spark, rows).withColumn(
            "row_active", F.lit(None).cast("boolean")
        )
        t.upsert(null_live)
        assert t.count_fast() == 4
        assert t.count_fast(active_only=True) == 0
        assert t.read(active_only=True).count() == 0


def test_commit_meta_is_free_when_nothing_is_tracked():
    """Structural pin (r11 verdict ask #5): ``compute_commit_meta`` on
    a table that tracks neither liveness stats nor zone maps performs
    ZERO Spark actions — the guard returns before any read.  Pinned by
    passing no SparkSession at all: if the footer aggregation ever ran
    for a metadata-free commit, this would raise instead of returning
    the empty result."""
    from pyspark.sql.types import LongType, StructField, StructType

    from quick_stream_spark.operators.merge import compute_commit_meta

    schema = StructType(
        [StructField("pkey", LongType()), StructField("bucket", LongType())]
    )
    stats, zones = compute_commit_meta(
        None,  # would crash on any Spark use
        "/nonexistent-commit-dir",
        schema,
        "bucket",
        None,  # no soft-delete column -> no stats
        (),    # no zone columns -> no zones
    )
    assert stats is None and zones == {}
    # same guard when the configured columns are absent from the schema
    stats, zones = compute_commit_meta(
        None, "/nonexistent", schema, "bucket", "row_active", ("missing",)
    )
    assert stats is None and zones == {}


def test_observed_stats_match_the_footer_scan(spark, tmp_table_dir):
    """The write job's observed per-bucket stats (two array aggregates
    built as SQL text) and the footer scan over the commit's files
    (taken when zone maps are tracked) publish the same ``[rows,
    active_rows]`` for every bucket after every commit kind.  The
    liveness column's name needs quoting in SQL text, and the first
    batch carries false and NULL flags."""
    from pyspark.sql import functions as F

    live = "row-active"
    obs = mk(spark, tmp_table_dir, name="obs", soft_delete_col=live)
    scan = mk(
        spark, tmp_table_dir, name="scan", soft_delete_col=live,
        zone_map_cols=("pkey",),
    )
    rows = [(i, datetime(2024, 1, 1), i, f"p{i}") for i in range(24)]
    flags = F.when(F.col("pkey") % 5 == 0, F.lit(None).cast("boolean")).otherwise(
        F.col("pkey") % 3 != 0
    )
    steps = [
        ("upsert", df(spark, rows).withColumn(live, flags)),
        ("upsert", df(spark, [(3, datetime(2024, 1, 2), 40, "u3"),
                              (30, datetime(2024, 1, 2), 41, "new")])),
        ("soft_delete", df(spark, rows[4:9])),
        ("hard_delete", df(spark, rows[10:13])),
    ]
    for op, batch in steps:
        for t in (obs, scan):
            getattr(t, op)(batch)
        got = obs._log.read_stats()
        assert got is not None and got == scan._log.read_stats(), op
        assert sum(r for r, _ in got.values()) == obs.read().count()
        assert sum(a for _, a in got.values()) == obs.read(active_only=True).count()
