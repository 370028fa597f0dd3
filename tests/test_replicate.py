"""CDC replication (operators/replicate.py): a replica fed only by the
source's change feed must converge to the source's exact state —
including soft-delete flags, reactivations, and hard deletes — from any
bootstrap point, idempotently."""

import os
from datetime import datetime

from pyspark.sql import functions as F

from quick_stream_spark.operators.merge import KeyedTable
from quick_stream_spark.operators.replicate import ChangeReplicator

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mk(spark, root, name):
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
    )


def state(table):
    return {r.pkey: (r.payload, r.row_active) for r in table.read().collect()}


def tamper(table, key):
    """Silently change one row's payload: a batch-wins upsert of the
    row itself with only the payload replaced."""
    table.upsert(
        table.read()
        .filter(F.col("pkey") == key)
        .withColumn("payload", F.lit("TAMPERED"))
    )


B1 = [(1, datetime(2024, 1, 1), 1, "a1"), (2, datetime(2024, 1, 1), 2, "b1"),
      (3, datetime(2024, 1, 1), 3, "c1")]
B2 = [(1, datetime(2024, 1, 5), 4, "a2"), (4, datetime(2024, 1, 2), 5, "d1")]


def test_replica_converges_after_each_commit(spark, tmp_table_dir):
    src = mk(spark, tmp_table_dir, "src")
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    ops = [
        lambda: src.upsert(df(spark, B1)),
        lambda: src.upsert(df(spark, B2)),
        lambda: src.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 9, "x")])),
        lambda: src.hard_delete(df(spark, [(3, datetime(2024, 2, 2), 10, "x")])),
        # re-upsert reactivates the soft-deleted key via a postimage
        lambda: src.upsert(df(spark, [(2, datetime(2024, 3, 1), 11, "b2")])),
    ]
    for op in ops:
        op()
        assert rep.sync() >= 1
        assert state(rep.replica) == state(src)
    assert state(src)[2] == ("b2", True)
    assert 3 not in state(src)
    assert rep.sync() == 0  # idempotent: nothing new to apply


def test_bootstrap_mid_history(spark, tmp_table_dir):
    src = mk(spark, tmp_table_dir, "src")
    src.upsert(df(spark, B1))
    src.upsert(df(spark, B2))
    src.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 9, "x")]))
    # replica created only now: bootstrap snapshot + CDC forward
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    assert rep.sync() == 3  # bootstrap(v1) + deltas 1->2, 2->3
    assert state(rep.replica) == state(src)
    src.hard_delete(df(spark, [(1, datetime(2024, 2, 5), 12, "x")]))
    assert rep.sync() == 1
    assert state(rep.replica) == state(src)


def test_cross_protocol_manifest_replica(spark, tmp_table_dir):
    src = mk(spark, tmp_table_dir, "src")
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    src.upsert(df(spark, B1))
    src.upsert(df(spark, B2))
    rep.sync()
    assert state(rep.replica) == state(src)
    # the replica is itself a manifest table: its history is queryable
    assert len(rep.replica.snapshot_versions()) >= 2


def test_compaction_commit_is_a_noop_delta(spark, tmp_table_dir):
    src = mk(spark, tmp_table_dir, "src")
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    src.upsert(df(spark, B1))
    rep.sync()
    before = state(rep.replica)
    src.compact()  # layout-only commit: CDC delta must be empty
    assert rep.sync() == 1
    assert state(rep.replica) == before == state(src)


def test_checksums_verify_replica_and_locate_divergence(spark, tmp_table_dir):
    """The anti-entropy flow: after sync the replica's checksum equals
    the source's (across different file layouts); after tampering with one replica bucket, the full checksums differ and
    the per-bucket maps pinpoint exactly the divergent bucket."""
    src = mk(spark, tmp_table_dir, "src")
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    src.upsert(df(spark, B1))
    src.upsert(df(spark, B2))
    src.compact()  # different physical layout than the replica
    rep.sync()
    assert rep.replica.content_checksum() == src.content_checksum()
    assert rep.replica.bucket_checksums() == src.bucket_checksums()

    replica = rep.replica
    tamper(replica, 1)

    assert replica.content_checksum() != src.content_checksum()
    src_sums, rep_sums = src.bucket_checksums(), replica.bucket_checksums()
    diff = {
        b
        for b in set(src_sums) | set(rep_sums)
        if src_sums.get(b) != rep_sums.get(b)
    }
    expected_bucket = src.read(with_bucket=True).filter("pkey = 1").collect()[0][
        "__qss_bucket"
    ]
    assert diff == {expected_bucket}


def test_repair_rewrites_only_divergent_buckets(spark, tmp_table_dir):
    """After tampering, repair() locates the bad bucket from the
    checksum maps and restores it from the source snapshot at the
    APPLIED version — even though the source has since moved ahead,
    no future state leaks into the repaired replica."""
    src = mk(spark, tmp_table_dir, "src")
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    src.upsert(df(spark, B1))
    rep.sync()
    synced_state = state(rep.replica)

    # tamper one row, then advance the SOURCE past the synced version
    tamper(rep.replica, 1)
    src.upsert(df(spark, B2))  # future state the repair must NOT pull

    repaired = rep.repair()
    assert len(repaired) == 1
    assert state(rep.replica) == synced_state  # restored, not fast-forwarded
    assert rep.repair() == []  # converged: second repair is a no-op
    rep.sync()  # catching up still works afterwards
    assert state(rep.replica) == state(src)


def test_replication_follows_schema_evolution(spark, tmp_table_dir):
    """A source that evolves its schema mid-history (added column) must
    replicate: the CDC rows carry the evolved schema, the replica
    evolves on apply, and pre-evolution keys read NULL for the new
    column on both sides."""
    src = mk(spark, tmp_table_dir, "src")
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    src.upsert(df(spark, B1))
    rep.sync()
    evolved = df(spark, [(4, datetime(2024, 2, 1), 10, "d1")]).withColumn(
        "score", F.lit(0.75)
    )
    src.upsert(evolved)
    rep.sync()

    def full(t):
        return {
            r.pkey: (r.payload, r.row_active, r.score) for r in t.read().collect()
        }

    assert full(rep.replica) == full(src)
    assert full(src)[4][2] == 0.75
    assert full(src)[1][2] is None  # pre-evolution rows NULL-fill


def test_repair_converges_on_spurious_replica_bucket(spark, tmp_table_dir):
    """A divergent bucket whose source side is EMPTY (replica holds
    spurious extra rows) must actually be cleaned by repair(): the
    repair commit replaces the bucket with no files, rather than
    leaving it untouched for lack of rows to write and re-reporting it
    forever."""
    src = mk(spark, tmp_table_dir, "src")
    src.upsert(df(spark, [(1, datetime(2024, 1, 1), 1, "a1")]))
    rep = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    rep.sync()

    def bucket_of(k):
        return (
            spark.range(1)
            .select(F.pmod(F.xxhash64(F.lit(k).cast("long")), F.lit(4)).cast("int"))
            .collect()[0][0]
        )

    spurious = next(k for k in range(2, 100) if bucket_of(k) != bucket_of(1))
    # corrupt the replica: a key in a bucket the source never populates
    rep.replica.upsert(df(spark, [(spurious, datetime(2024, 1, 2), 9, "ghost")]))
    assert rep.repair() != []
    assert state(rep.replica) == state(src)
    assert rep.repair() == []  # converged, not re-reported


def test_replicator_resumes_across_restart(spark, tmp_table_dir):
    """A new ChangeReplicator over an existing replica must resume from
    the persisted watermark (incremental), not re-bootstrap."""
    src = mk(spark, tmp_table_dir, "src")
    rep_table = mk(spark, tmp_table_dir, "rep")
    rep = ChangeReplicator(src, rep_table)
    src.upsert(df(spark, B1))
    src.upsert(df(spark, B2))
    assert rep.sync() == 2
    # process restart
    rep2 = ChangeReplicator(src, mk(spark, tmp_table_dir, "rep"))
    assert rep2.applied_version == rep.applied_version
    assert rep2.sync() == 0
    src.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 9, "x")]))
    assert rep2.sync() == 1
    assert state(rep2.replica) == state(src)
