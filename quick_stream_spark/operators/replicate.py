"""CDC replication: keep a downstream replica table in sync with a
source :class:`~quick_stream_spark.operators.merge.KeyedTable` by
applying its change data feed — the Delta-CDF consumer pattern (and the
logical twin of the reference's sink role: the reference pushes rows
into PostgreSQL, upsert.rs:209-269; here a second engine-managed table
is fed from the first table's commits instead of from the stream).

Shape: initial snapshot + incremental deltas, exactly how warehouse
replication works in practice.  The replica is bootstrapped from one
historical snapshot read, then each subsequent commit is applied as a
bounded CDC delta (``read_changes`` diffs manifests file-first, so the
delta scan cost follows the change volume, not the table size).  Apply
is set-oriented: one batch-wins MERGE for inserts + update postimages
(the postimage IS the authoritative new state, including a
``row_active=false`` postimage for a soft delete) and one hard delete
for departed keys.  Nothing row-at-a-time, nothing driver-side beyond
the bounded version list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quick_stream_spark.operators.merge import KeyedTable

_CDC_COLS = ("_change_type", "_commit_version")


def apply_changes(replica: KeyedTable, changes: DataFrame) -> None:
    """Apply one CDC delta (the output of ``KeyedTable.read_changes``)
    to ``replica``.

    - ``insert`` / ``update_postimage`` rows carry full row images and
      merge in with batch-wins semantics (the delta is authoritative —
      a version guard would wrongly skip a postimage whose change was a
      soft delete or a batch-wins overwrite by an older version).
    - ``delete`` rows are keys that left the source; hard-deleted.
    - ``update_preimage`` rows are informational and ignored.
    """
    data_cols = [c for c in changes.columns if c not in _CDC_COLS]
    changes = changes.persist()
    try:
        if changes.isEmpty():  # e.g. a compaction commit: layout, no values
            return
        ups = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(*data_cols)
        replica.upsert(ups)
        dels = changes.filter(F.col("_change_type") == "delete").select(*data_cols)
        replica.hard_delete(dels)
    finally:
        changes.unpersist()


class ChangeReplicator:
    """Incrementally replicates ``source`` (manifest protocol) into
    ``replica`` (either protocol — cross-protocol replication works
    because CDC rows are plain row images).

    ``sync()`` is resumable and idempotent at the commit level: it
    applies only source versions newer than the last applied one and
    returns how many commits it applied.  The watermark is persisted in
    a ``_qss_applied-<v>.json`` sidecar next to the replica (written after
    each applied commit), so a restarted process resumes incrementally
    instead of re-running the snapshot bootstrap; the bootstrap itself
    is idempotent (row-image upserts), so a lost sidecar degrades to
    extra work, never to wrong data.
    """

    def __init__(self, source: KeyedTable, replica: KeyedTable) -> None:
        if source._snapshot_log() is None:
            raise ValueError(
                "ChangeReplicator requires a snapshot-logged source "
                "(commit_protocol='manifest' or a manifest-backed store)"
            )
        from quick_stream_spark.operators.progress import read_applied

        self.source = source
        self.replica = replica
        self.applied_version: int | None = read_applied(replica.spark, replica.path)

    def sync(self) -> int:
        """Bring the replica up to the source's newest snapshot."""
        versions = self.source.snapshot_versions()
        if not versions:
            return 0
        from quick_stream_spark.operators.progress import write_applied

        applied = 0
        if self.applied_version is None:
            # bootstrap: full read of the OLDEST retained snapshot, then
            # CDC forward — a replica created mid-history still converges
            first = versions[0]
            self.replica.upsert(self.source.read(version=first))
            self.applied_version = first
            write_applied(self.replica.spark, self.replica.path, first)
            applied += 1
        for v in versions:
            if v <= self.applied_version:
                continue
            apply_changes(self.replica, self.source.read_changes(self.applied_version, v))
            self.applied_version = v
            write_applied(self.replica.spark, self.replica.path, v)
            applied += 1
        return applied

    def repair(self) -> list[int]:
        """Anti-entropy repair: compare per-bucket content checksums
        against the source AT THE APPLIED VERSION (time travel — so a
        source that has since moved ahead cannot leak future state into
        the repair) and rewrite ONLY the divergent buckets from that
        snapshot.  Returns the repaired bucket ids.  Requires matching
        ``num_buckets`` (bucket = hash(keys) % N must agree); with
        checksums equal this is two bounded maps and no data movement.
        """
        if self.applied_version is None:
            raise ValueError("repair() needs a completed sync() first")
        if self.source.num_buckets != self.replica.num_buckets:
            raise ValueError("repair() requires matching num_buckets")
        src_sums = self.source.bucket_checksums(version=self.applied_version)
        rep_sums = self.replica.bucket_checksums()
        bad = sorted(
            b
            for b in set(src_sums) | set(rep_sums)
            if src_sums.get(b) != rep_sums.get(b)
        )
        if not bad:
            return []
        from quick_stream_spark.operators.merge import BUCKET_COL

        rows = (
            self.source.read(version=self.applied_version)
            .withColumn(BUCKET_COL, self.replica._bucket_expr())
            .filter(F.col(BUCKET_COL).isin(bad))
        )
        if self.replica._log is not None:
            self.replica._write_manifest_commit(rows, bad)
        else:
            self.replica._write(rows, "overwrite")
            # dynamic overwrite only touches buckets PRESENT in `rows`: a
            # divergent bucket that is empty on the source side (replica
            # holds spurious rows) would otherwise survive untouched and
            # be re-reported by every repair — drop those dirs explicitly
            # (mirrors hard_delete's emptied-bucket cleanup).  src_sums
            # already names exactly the buckets with source rows, so no
            # second snapshot scan is needed
            empty_on_source = [b for b in bad if b not in src_sums]
            if empty_on_source:
                self.replica._drop_bucket_dirs(empty_on_source)
        return bad
