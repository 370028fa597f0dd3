"""CDC-driven incremental view maintenance (streaming/matview.py
CdcAggView): an aggregate maintained purely from a source table's
change feed must equal the direct aggregate of the source's active
state after every commit — through inserts, value updates, GROUP
MIGRATIONS, soft deletes, reactivations and hard deletes."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.operators.merge import KeyedTable
from quick_stream_spark.streaming.matview import CdcAggView

SCHEMA = "pkey long, modified_date timestamp, arrival long, grp string, amount double"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mk_source(spark, root):
    return KeyedTable(
        spark,
        os.path.join(root, "src"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        commit_protocol="manifest",
    )


def direct_agg(src):
    rows = (
        src.read(active_only=True)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    )
    return {r.grp: (r.n, r.s) for r in rows}


def view_state(view):
    return {r.grp: (r.n, r.sum_value) for r in view.read().collect()}


def test_view_tracks_every_commit_kind(spark, tmp_table_dir):
    src = mk_source(spark, tmp_table_dir)
    view = CdcAggView(src, os.path.join(tmp_table_dir, "v"), ["grp"], "amount")
    ops = [
        # inserts across two groups
        lambda: src.upsert(df(spark, [
            (1, datetime(2024, 1, 1), 1, "a", 10.0),
            (2, datetime(2024, 1, 1), 2, "a", 20.0),
            (3, datetime(2024, 1, 1), 3, "b", 5.0),
        ])),
        # value update (same group) + group migration b -> a
        lambda: src.upsert(df(spark, [
            (1, datetime(2024, 1, 5), 4, "a", 11.5),
            (3, datetime(2024, 1, 5), 5, "a", 5.0),
        ])),
        # soft delete removes from the aggregate
        lambda: src.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 6, "a", 0.0)])),
        # reactivation puts it back with the new value
        lambda: src.upsert(df(spark, [(2, datetime(2024, 3, 1), 7, "b", 7.25)])),
        # hard delete: the key leaves entirely
        lambda: src.hard_delete(df(spark, [(1, datetime(2024, 3, 2), 8, "a", 0.0)])),
    ]
    for op in ops:
        op()
        assert view.sync() >= 1
        assert view_state(view) == direct_agg(src)
    assert view.sync() == 0  # idempotent
    # a group whose rows all left shows neither in view nor direct agg
    src.hard_delete(df(spark, [(3, datetime(2024, 3, 3), 9, "a", 0.0)]))
    view.sync()
    state = view_state(view)
    assert "a" not in state
    assert state == direct_agg(src)


def test_bootstrap_mid_history(spark, tmp_table_dir):
    src = mk_source(spark, tmp_table_dir)
    src.upsert(df(spark, [(i, datetime(2024, 1, 1), i, "g" + str(i % 3), float(i))
                          for i in range(20)]))
    src.soft_delete(df(spark, [(4, datetime(2024, 2, 1), 30, "x", 0.0)]))
    view = CdcAggView(src, os.path.join(tmp_table_dir, "v"), ["grp"], "amount")
    assert view.sync() == 2  # bootstrap + one delta
    assert view_state(view) == direct_agg(src)
    src.upsert(df(spark, [(21, datetime(2024, 2, 2), 31, "g0", 100.0)]))
    assert view.sync() == 1
    assert view_state(view) == direct_agg(src)


def test_view_survives_process_restart_without_double_count(spark, tmp_table_dir):
    """A NEW CdcAggView instance over an existing view (process
    restart) must resume from the durable watermark.  Before the fix it
    re-ran the additive bootstrap + deltas, double-counting every group
    whose stored _src_version had advanced."""
    src = mk_source(spark, tmp_table_dir)
    path = os.path.join(tmp_table_dir, "v")
    view = CdcAggView(src, path, ["grp"], "amount")
    src.upsert(df(spark, [
        (1, datetime(2024, 1, 1), 1, "a", 10.0),
        (2, datetime(2024, 1, 1), 2, "b", 5.0),
    ]))
    view.sync()
    src.upsert(df(spark, [(3, datetime(2024, 1, 2), 3, "a", 7.0)]))
    view.sync()
    assert view_state(view) == direct_agg(src)

    restarted = CdcAggView(src, path, ["grp"], "amount")
    assert restarted.applied_version == view.applied_version
    assert restarted.sync() == 0          # nothing new: no re-bootstrap
    assert view_state(restarted) == direct_agg(src)  # unchanged, not doubled

    src.upsert(df(spark, [(4, datetime(2024, 1, 3), 4, "b", 2.5)]))
    assert restarted.sync() == 1
    assert view_state(restarted) == direct_agg(src)
