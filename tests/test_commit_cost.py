"""Fixed cost of a manifest commit: a warm small upsert on an inline-
manifest table runs no more Spark jobs than a direct upsert of the same
batch, and a bounded number of py4j round trips.  The per-bucket stats
ride the write job as two array aggregates, the touched buckets come
from one observed job, and the log is listed once per commit with warm
documents served from the per-log cache — so neither count grows with
the bucket count or the delta chain."""

import os
import time
from datetime import datetime

from quick_stream_spark.operators.merge import KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"
# a warm 8-row upsert into a 50k-key table of this shape measured 810
# round trips (4 vCPU, local[4]); per-bucket Column aggregates for the
# stats and a listing per snapshot read made it about 3,100
MAX_ROUND_TRIPS = 1200
MAX_JOBS = 3


def _mk(spark, root, name, **kw):
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=16,
        **kw,
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
    manifest = _mk(
        spark, tmp_table_dir, "manifest", commit_protocol="manifest",
        manifest_checkpoint_interval=4,
    )
    direct = _mk(spark, tmp_table_dir, "direct")
    seed = spark.createDataFrame(
        [(k, datetime(2024, 1, 1), k, f"p{k}") for k in range(2000)], SCHEMA
    )
    for t in (manifest, direct):
        t.upsert(seed)
    batches = [
        spark.createDataFrame(
            [(k * 37 + i, datetime(2024, 2, 1), 10_000 + 8 * i + k, f"u{i}")
             for k in range(8)],
            SCHEMA,
        )
        for i in range(3)
    ]
    for b in batches[:2]:  # warm: plan caches, the log's handle and docs
        for t in (manifest, direct):
            t.upsert(b)
    m_jobs, m_trips = _cost(spark, lambda: manifest.upsert(batches[2]))
    d_jobs, _ = _cost(spark, lambda: direct.upsert(batches[2]))
    assert m_jobs <= MAX_JOBS, m_jobs
    assert m_jobs <= d_jobs, (m_jobs, d_jobs)
    assert m_trips <= MAX_ROUND_TRIPS, m_trips
    # the commit is still whole: same end state as the direct table
    assert sorted(manifest.read().collect()) == sorted(direct.read().collect())
    assert manifest.count_fast() == 2000
