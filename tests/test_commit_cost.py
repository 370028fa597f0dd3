"""Fixed cost of a manifest commit: a warm small upsert on an inline-
manifest table runs a bounded number of Spark jobs and py4j round
trips, and neither grows with the bucket count.  The per-bucket stats
ride the write job as two array aggregates, the touched buckets come
from one observed job, the log is listed once per commit with warm
documents served from the per-log cache, and the publish reuses the
log's filesystem handle."""

import os
import time
from datetime import datetime

from quick_stream_spark.operators.merge import KeyedTable
from tests.test_property_merge import Model

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"
# a warm 8-row upsert into a 16-bucket table of this shape measured
# 394-583 round trips (4 vCPU, local[4]); 737-914 while every publish
# built its own filesystem handle and listings cost ~5 round trips per
# entry, and about 3,100 with per-bucket Column aggregates for the
# stats and a listing per snapshot read
MAX_ROUND_TRIPS = 900
MAX_JOBS = 3


def _mk(spark, root, num_buckets):
    return KeyedTable(
        spark,
        os.path.join(root, f"b{num_buckets}"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=num_buckets,
        manifest_checkpoint_interval=4,
    )


def _cost(spark, fn):
    """(Spark jobs, py4j round trips) of ``fn()``: a unique job group
    counts the jobs, a wrapped ``send_command`` the round trips."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    real = client.send_command
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return real(*args, **kwargs)

    group = f"commit-cost-{time.time_ns()}"
    sc.setJobGroup(group, group)
    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = real
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), sent[0]


def test_manifest_upsert_fixed_cost(spark, tmp_table_dir):
    seed = [(k, datetime(2024, 1, 1), f"p{k}") for k in range(2000)]
    batches = [
        [(k * 37 + i, datetime(2024, 2, 1), f"u{i}") for k in range(8)]
        for i in range(3)
    ]
    model = Model(newer_wins=False)
    for records in [seed, *batches]:
        model.upsert(records)

    def frame(records, arrival0):
        return spark.createDataFrame(
            [(k, v, arrival0 + i, p) for i, (k, v, p) in enumerate(records)],
            SCHEMA,
        )

    costs = {}
    for num_buckets in (16, 64):
        t = _mk(spark, tmp_table_dir, num_buckets)
        t.upsert(frame(seed, 0))
        for i, b in enumerate(batches[:2]):  # warm: plan caches, handle, docs
            t.upsert(frame(b, 10_000 + 8 * i))
        last = frame(batches[2], 10_016)
        costs[num_buckets] = _cost(spark, lambda: t.upsert(last))
        # the commit is still whole: the reference model's end state
        got = {
            r.pkey: (r.modified_date, r.payload, r.row_active)
            for r in t.read().collect()
        }
        assert got == model.state()
        assert t.count_fast() == 2000
    (jobs, trips), (wide_jobs, wide_trips) = costs[16], costs[64]
    assert jobs <= MAX_JOBS, jobs
    assert trips <= MAX_ROUND_TRIPS, trips
    # four times the buckets: no extra job, no per-bucket round trips
    assert wide_jobs <= jobs, (wide_jobs, jobs)
    assert wide_trips <= MAX_ROUND_TRIPS, wide_trips
