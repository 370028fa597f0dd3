"""Manifest commit protocol: atomic snapshots, hard-delete emptying,
time travel, crash-orphan isolation, vacuum, and schema evolution
(operators/commitlog.py)."""

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.operators.commitlog import COMMITS_DIR, MANIFEST_DIR
from quick_stream_spark.operators.merge import KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mk(spark, root, name, **kw):
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        **kw,
    )


BATCH1 = [
    (1, datetime(2024, 1, 1), 1, "a1"),
    (2, datetime(2024, 1, 1), 2, "b1"),
    (3, datetime(2024, 1, 1), 3, "c1"),
]
BATCH2 = [
    (1, datetime(2024, 1, 5), 4, "a2"),  # newer -> wins
    (4, datetime(2024, 1, 2), 5, "d1"),  # new key
]


def state(table, **kw):
    return {
        r.pkey: (r.payload, r.row_active) for r in table.read(**kw).collect()
    }


def test_every_commit_is_a_snapshot(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, BATCH1))
    t.upsert(df(spark, BATCH2))
    assert t.snapshot_versions() == [1, 2]
    # time travel: v1 predates batch 2
    assert set(state(t, version=1)) == {1, 2, 3}
    assert state(t, version=1)[1] == ("a1", True)
    assert state(t)[1] == ("a2", True)


def test_orphan_files_invisible_until_committed(spark, tmp_table_dir):
    """A crash between data-file write and manifest publish must leave
    the previous snapshot intact: simulate by writing a data file into
    the commits area with no manifest referencing it."""
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, BATCH1))
    before = state(t)
    orphan_dir = os.path.join(t.path, COMMITS_DIR, "c_crashed", "__qss_bucket=0")
    df(spark, [(99, datetime(2030, 1, 1), 9, "ghost")]).write.mode(
        "overwrite"
    ).parquet(orphan_dir)
    assert state(t) == before  # reader never lists directories
    removed = t.vacuum(keep_versions=1)
    assert removed >= 1  # the orphan was reclaimed
    assert state(t) == before


def test_hard_delete_empties_bucket_atomically(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, BATCH1))
    t.hard_delete(df(spark, BATCH1))  # delete everything
    assert t.read().count() == 0
    assert t.file_count() == 0
    # previous snapshot still time-travelable
    versions = t.snapshot_versions()
    assert len(versions) == 2
    assert set(state(t, version=versions[0])) == {1, 2, 3}


def test_vacuum_retains_referenced_files(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, BATCH1))
    t.upsert(df(spark, BATCH2))
    t.compact()
    removed = t.vacuum(keep_versions=1)
    assert removed > 0  # pre-compaction files reclaimed
    assert t.snapshot_versions()[-1:] == t.snapshot_versions()  # only latest kept
    assert state(t)[1] == ("a2", True)
    # vacuumed table still merges correctly
    t.upsert(df(spark, [(5, datetime(2024, 3, 1), 7, "e1")]))
    assert state(t)[5] == ("e1", True)


def test_schema_evolution_under_manifest(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, BATCH1))
    evolved = spark.createDataFrame(
        [(1, datetime(2024, 2, 1), 8, "a3", "gold")],
        SCHEMA + ", tier string",
    )
    t.upsert(evolved)
    rows = {r.pkey: r.asDict() for r in t.read().collect()}
    assert rows[1]["payload"] == "a3" and rows[1]["tier"] == "gold"
    assert rows[2]["tier"] is None  # untouched rows NULL-fill the new column


def test_concurrent_commit_fails_loudly(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, BATCH1))
    # another writer already published v2 behind our back
    path = os.path.join(t.path, MANIFEST_DIR, "v2.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"version": 2, "buckets": {}}, fh)
    # simulate the race: this writer's snapshot read is stale (saw only
    # v1), so its commit targets v2 — the atomic no-overwrite rename
    # must refuse rather than clobber
    t._log.latest_version = lambda: 1
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t._log.commit({})


def _bucket_of(table):
    """pkey -> bucket id map of the table's current rows."""
    from quick_stream_spark.operators.merge import BUCKET_COL

    return {
        r.pkey: r[BUCKET_COL]
        for r in table.read(with_bucket=True).collect()
    }


_OCC_SEED = BATCH1 + [
    (k, datetime(2024, 1, 1), k, f"k{k}") for k in (4, 5, 6, 7, 8)
]


def _seed_buckets(spark, root):
    """pkey -> bucket id of the ``_OCC_SEED`` keys, from the table's own
    bucket expression — no probe table is written."""
    t = _mk_occ(spark, root)
    rows = df(spark, _OCC_SEED).select("pkey", t._bucket_expr().alias("b"))
    return {r.pkey: r.b for r in rows.collect()}


def _mk_occ(spark, root):
    """A fresh KeyedTable handle (its own caches) on the shared
    manifest-mode table the race tests contend for."""
    return mk(spark, root, "t")


def _race(spark, tmp_table_dir, monkeypatch, other_batch):
    """Writer A starts an upsert of pkey 1's bucket; just before A's
    manifest publish, writer B (a separate KeyedTable instance) lands
    ``other_batch``.  Returns (A's table, the exception A raised or
    None)."""
    from quick_stream_spark.operators.commitlog import ManifestLog

    t = _mk_occ(spark, tmp_table_dir)
    t.upsert(df(spark, _OCC_SEED))

    real_put = ManifestLog._put_if_absent
    state = {"injected": False}

    def racing(self, body, version):
        if not state["injected"]:
            state["injected"] = True
            other = _mk_occ(spark, tmp_table_dir)
            other.upsert(df(spark, other_batch))
        return real_put(self, body, version)

    monkeypatch.setattr(ManifestLog, "_put_if_absent", racing)
    err = None
    try:
        t.upsert(df(spark, [(1, datetime(2024, 3, 1), 10, "a-A")]))
    except Exception as exc:  # noqa: BLE001
        err = exc
    monkeypatch.setattr(ManifestLog, "_put_if_absent", real_put)
    return t, err


def test_disjoint_bucket_race_re_points_and_both_commits_land(
    spark, tmp_table_dir, monkeypatch
):
    """r6 verdict ask #3: two writers whose commits touch DISJOINT
    bucket sets must BOTH land — the loser of the publish race re-reads
    the winner's snapshot, re-points its untouched buckets and retries
    (the reference gets this for free from Postgres row locks,
    upsert.rs:287).  End state carries both updates with honest
    metadata counts and checksum-stable content."""
    buckets = _seed_buckets(spark, tmp_table_dir)
    other_key = next(k for k, b in buckets.items() if b != buckets[1])
    t, err = _race(
        spark,
        tmp_table_dir,
        monkeypatch,
        [(other_key, datetime(2024, 3, 1), 11, "x-B")],
    )
    assert err is None, f"disjoint race should auto-resolve, got {err}"
    reader = _mk_occ(spark, tmp_table_dir)
    rows = {r.pkey: r.payload for r in reader.read().collect()}
    assert rows[1] == "a-A"  # writer A's update
    assert rows[other_key] == "x-B"  # writer B's update survived the re-point
    assert reader.count_fast() == reader.read().count() == len(_OCC_SEED)
    # both commits are distinct snapshots: seed, B, A(re-pointed)
    assert len(reader.snapshot_versions()) == 3


def test_same_bucket_race_still_raises(spark, tmp_table_dir, monkeypatch):
    """Overlapping-bucket races must NOT be re-pointed: writer A's merge
    resolved MERGE semantics against a bucket state writer B has since
    replaced, so A must fail loudly and be re-run.  The table is left on
    B's snapshot."""
    from quick_stream_spark.operators.commitlog import ConcurrentCommitError

    buckets = _seed_buckets(spark, tmp_table_dir)
    same_key = next(
        (k for k, b in buckets.items() if b == buckets[1] and k != 1), 1
    )
    t, err = _race(
        spark,
        tmp_table_dir,
        monkeypatch,
        [(same_key, datetime(2024, 3, 1), 11, "x-B")],
    )
    assert isinstance(err, ConcurrentCommitError)
    reader = _mk_occ(spark, tmp_table_dir)
    rows = {r.pkey: r.payload for r in reader.read().collect()}
    assert rows[same_key] == "x-B"  # B's committed snapshot is the state
    assert rows.get(1) != "a-A"  # A's crashed attempt is invisible
    assert reader.count_fast() == reader.read().count()
    # A's orphaned commit files are reclaimable
    assert reader.vacuum(keep_versions=1) > 0


# the commit protocols that arbitrate concurrent writers optimistically
@pytest.mark.parametrize("protocol", ["manifest"])
def test_threaded_disjoint_writers_all_land(spark, tmp_table_dir, protocol):
    """True concurrency (not an injected interleaving): four threads,
    each a separate KeyedTable instance upserting ONE key in its own
    bucket, racing the same snapshot log.  Every
    commit must land (rename-if-absent arbitrates; losers re-point
    through the optimistic retry), the end state must carry all four
    updates, and metadata counts must stay honest."""
    import threading

    def _mk_occ(spark, root):
        return mk(spark, root, "t", commit_protocol=protocol)

    probe = _mk_occ(spark, tmp_table_dir)
    probe.upsert(df(spark, _OCC_SEED))
    buckets = _bucket_of(probe)
    # one representative key per bucket (the seed covers all 4 buckets
    # w.h.p.; skip any bucket that happens to be empty)
    per_bucket = {}
    for k, b in sorted(buckets.items()):
        per_bucket.setdefault(b, k)
    keys = list(per_bucket.values())
    assert len(keys) >= 3, f"seed covered only buckets {sorted(per_bucket)}"

    errors = []

    def writer(k):
        try:
            w = _mk_occ(spark, tmp_table_dir)
            w.upsert(df(spark, [(k, datetime(2024, 3, 1), 100 + k, f"w{k}")]))
        except Exception as exc:  # noqa: BLE001
            errors.append((k, exc))

    threads = [threading.Thread(target=writer, args=(k,)) for k in keys]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    reader = _mk_occ(spark, tmp_table_dir)
    rows = {r.pkey: r.payload for r in reader.read().collect()}
    for k in keys:
        assert rows[k] == f"w{k}", (k, rows)
    assert reader.count_fast() == reader.read().count() == len(_OCC_SEED)
    # every writer published its own snapshot: seed + one per thread
    assert len(reader.snapshot_versions()) == 1 + len(keys)


def test_router_routes_through_manifest_tables(spark, tmp_table_dir):
    """Every table MultiTableRouter routes to commits atomic
    snapshots."""
    from quick_stream_spark.operators.router import MultiTableRouter

    router = MultiTableRouter(
        spark,
        os.path.join(tmp_table_dir, "mt"),
        table_col="tbl",
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    batch = spark.createDataFrame(
        [
            ("a", 1, datetime(2024, 1, 1), 1, "x"),
            ("b", 1, datetime(2024, 1, 1), 2, "y"),
            ("a", 2, datetime(2024, 1, 2), 3, "z"),
        ],
        "tbl string, " + SCHEMA,
    )
    router.upsert_batch(batch)
    for name in ("a", "b"):
        t = router.target(name)
        assert t.snapshot_versions() == [1]
        assert t.read().count() == (2 if name == "a" else 1)


def test_simhash_banding_stays_subquadratic(spark):
    """Regression pin for the band-bucket blowup: on the sf0.001 dup
    corpus (~1000 docs, every doc a near-dup of its perturbed twin) the
    candidate band join must yield pairs on the order of the true-dup
    count, not O(n^2)."""
    from quick_stream_spark.plans.registry import REGISTRY, queries

    queries()
    df = REGISTRY["dedup_simhash_pairs"].fn(spark, "/root/testdata/sf0.001")
    n_docs = 500 * 2
    assert df.count() < 3 * n_docs


def test_read_changes_classifies_cdc_between_snapshots(spark, tmp_table_dir):
    """CDC between snapshots: upsert BATCH1 (v1), then one commit that
    updates key 1, inserts key 4 (BATCH2) and a later commit that
    soft-deletes key 2 and hard-deletes key 3."""
    t = mk(spark, tmp_table_dir, "cdc")
    t.upsert(df(spark, BATCH1))
    v1 = t.snapshot_versions()[-1]
    t.upsert(df(spark, BATCH2))
    t.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 9, "x")]))
    t.hard_delete(df(spark, [(3, datetime(2024, 2, 2), 10, "y")]))
    v_last = t.snapshot_versions()[-1]

    changes = t.read_changes(v1, v_last)
    by_type = {}
    for r in changes.collect():
        by_type.setdefault(r["_change_type"], []).append(r)
        assert r["_commit_version"] == v_last

    assert sorted(r.pkey for r in by_type["insert"]) == [4]
    assert sorted(r.pkey for r in by_type["delete"]) == [3]
    # key 1: payload update; key 2: soft delete = row_active update
    assert sorted(r.pkey for r in by_type["update_preimage"]) == [1, 2]
    assert sorted(r.pkey for r in by_type["update_postimage"]) == [1, 2]
    post = {r.pkey: (r.payload, r.row_active) for r in by_type["update_postimage"]}
    assert post[1] == ("a2", True)
    assert post[2][1] is False  # soft-deleted
    pre = {r.pkey: (r.payload, r.row_active) for r in by_type["update_preimage"]}
    assert pre[1] == ("a1", True)
    assert pre[2][1] is True


def test_read_changes_adjacent_and_empty_diff(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "cdc2")
    t.upsert(df(spark, BATCH1))
    v1 = t.snapshot_versions()[-1]
    t.upsert(df(spark, BATCH2))
    v2 = t.snapshot_versions()[-1]
    # adjacent diff sees exactly the second commit's effect
    adj = {(r.pkey, r._change_type) for r in t.read_changes(v1, v2).collect()}
    assert adj == {
        (4, "insert"),
        (1, "update_preimage"),
        (1, "update_postimage"),
    }
    # self-diff is empty
    assert t.read_changes(v2, v2).count() == 0


def test_restore_rolls_back_as_a_new_atomic_commit(spark, tmp_table_dir):
    t = mk(spark, tmp_table_dir, "restore")
    t.upsert(df(spark, BATCH1))
    v1 = t.snapshot_versions()[-1]
    good = state(t)
    t.upsert(df(spark, BATCH2))
    t.hard_delete(df(spark, [(2, datetime(2024, 3, 1), 9, "x")]))
    assert state(t) != good
    v_new = t.restore(v1)
    # rollback is a NEW version on top, not history surgery
    assert v_new == t.snapshot_versions()[-1] > v1
    assert state(t) == good
    # the undone states remain time-travelable
    assert state(t, version=v1) == good
    # CDC across the restore shows the rollback's effect (key 2 comes
    # back, key 1 reverts, key 4 disappears)
    kinds = {(r.pkey, r._change_type) for r in t.read_changes(v_new - 1, v_new).collect()}
    assert (2, "insert") in kinds
    assert (4, "delete") in kinds
    # restoring an unknown version fails loudly
    with pytest.raises(FileNotFoundError):
        t.restore(999)


def test_erase_removes_key_from_all_retained_history(spark, tmp_table_dir):
    """GDPR-style erasure: after erase, no retained snapshot or data
    file can resurrect the key — time travel to older versions is gone
    by design."""
    t = mk(spark, tmp_table_dir, "erase")
    t.upsert(df(spark, BATCH1))
    t.upsert(df(spark, BATCH2))
    assert 2 in state(t)
    removed = t.erase(df(spark, [(2, datetime(2024, 4, 1), 99, "gone")]))
    assert removed >= 0
    assert 2 not in state(t)
    # only the newest snapshot remains; older ones (which contained
    # key 2) are unreachable
    assert len(t.snapshot_versions()) == 1
    with pytest.raises(FileNotFoundError):
        t.read(version=1).collect()
    # no surviving data file contains the erased key
    import glob

    files = glob.glob(os.path.join(tmp_table_dir, "erase", "**", "*.parquet"),
                      recursive=True)
    assert files
    survivors = spark.read.parquet(*files)
    assert survivors.filter(survivors.pkey == 2).count() == 0


def test_disjoint_race_on_parquet_pointer_layout(
    spark, tmp_table_dir, monkeypatch
):
    """The OCC disjoint-race resolution on the r11 PARQUET-checkpoint
    layout (threshold=0, interval=1: every publish is a pointer doc
    over a parquet directory): both commits land, the race loser's
    orphaned checkpoint directory is reclaimed immediately, and no
    pointer on disk dangles."""
    import glob

    from quick_stream_spark.operators.commitlog import ManifestLog

    def mk_pq(root):
        return mk(
            spark, root, "t",
            manifest_checkpoint_interval=1, manifest_parquet_threshold=0,
        )

    t = mk_pq(tmp_table_dir)
    t.upsert(df(spark, _OCC_SEED))
    buckets = _bucket_of(t)
    other_key = next(k for k, b in buckets.items() if b != buckets[1])

    # inject at the publish PRIMITIVE (_put_if_absent) — the point every
    # publish funnels through, delta or checkpoint alike
    real_put = ManifestLog._put_if_absent
    state = {"injected": False}

    def racing(self, body, version):
        if not state["injected"]:
            state["injected"] = True
            other = mk_pq(tmp_table_dir)
            other.upsert(
                df(spark, [(other_key, datetime(2024, 3, 1), 11, "x-B")])
            )
        return real_put(self, body, version)

    monkeypatch.setattr(ManifestLog, "_put_if_absent", racing)
    t.upsert(df(spark, [(1, datetime(2024, 3, 1), 10, "a-A")]))
    monkeypatch.setattr(ManifestLog, "_put_if_absent", real_put)

    reader = mk_pq(tmp_table_dir)
    log = reader._log
    rows = {r.pkey: r.payload for r in reader.read().collect()}
    assert rows[1] == "a-A" and rows[other_key] == "x-B"
    assert reader.count_fast() == reader.read().count() == len(_OCC_SEED)
    # every version on disk is a pointer that resolves; every cp dir on
    # disk is referenced by exactly one pointer (the loser's orphan was
    # deleted at the failed publish)
    live = set()
    for v in log.versions():
        raw = log._read_doc(v)
        assert "checkpoint_parquet" in raw
        live.add(raw["checkpoint_parquet"])
        assert log.read(v)  # resolves
    on_disk = {
        os.path.basename(p) for p in glob.glob(os.path.join(log.dir, "cp-*"))
    }
    assert on_disk == live


def test_vacuum_listing_row_classification():
    """The single classifier both listing walks (driver spool and
    executor flatMap) share: data parquet keeps its own rel path,
    a kbloom sidecar's rel is its DATA file's path (it rides that
    file's referencedness), everything else is ignored."""
    from quick_stream_spark.operators.commitlog import _vacuum_listing_row

    root = "/tbl"
    pq = _vacuum_listing_row(
        "/tbl/_qss_commits/c1/b0/part-0.parquet", "part-0.parquet", root
    )
    assert pq == {
        "p": "/tbl/_qss_commits/c1/b0/part-0.parquet",
        "rel": "_qss_commits/c1/b0/part-0.parquet",
        "k": "pq",
    }
    kb = _vacuum_listing_row(
        "/tbl/_qss_commits/c1/b0/.part-0.parquet.kbloom",
        ".part-0.parquet.kbloom",
        root,
    )
    assert kb == {
        "p": "/tbl/_qss_commits/c1/b0/.part-0.parquet.kbloom",
        "rel": "_qss_commits/c1/b0/part-0.parquet",
        "k": "kb",
    }
    assert _vacuum_listing_row("/tbl/_qss_commits/c1/b0/_SUCCESS", "_SUCCESS", root) is None
    assert _vacuum_listing_row("/tbl/_qss_commits/c1/b0/x.crc", "x.crc", root) is None


def _mk_commit_tree(root):
    """A commits tree with one commit dir holding: a bucket data file +
    its kbloom sidecar (the reclaim-join pair), a stray file AT the
    commit-dir level and one nested a level TOO DEEP (both outside the
    two-level cdir/bdir/file shape every walk must honor), and a
    _SUCCESS marker (classifier-ignored)."""
    cdir = os.path.join(root, "tbl", COMMITS_DIR, "c1")
    bdir = os.path.join(cdir, "b0")
    deep = os.path.join(bdir, "nested")
    os.makedirs(deep)
    for p in (
        os.path.join(bdir, "part-0.parquet"),
        os.path.join(bdir, ".part-0.parquet.kbloom"),
        os.path.join(bdir, "_SUCCESS"),
        os.path.join(cdir, "stray-commit-level.parquet"),
        os.path.join(deep, "too-deep.parquet"),
    ):
        with open(p, "w") as f:
            f.write("x")
    return os.path.join(root, "tbl"), cdir


def test_vacuum_walk_pyarrow_two_level_shape_local(tmp_path):
    """`_vacuum_walk_pyarrow` over a genuine pyarrow local filesystem
    classifies exactly the two-level cdir/bdir/file set — the stray
    commit-level parquet and the too-deeply-nested parquet are SKIPPED
    (r13 advice: the old recursive FileSelector reclaimed both,
    diverging from the posix and spool walks), and `p` comes back
    URI-qualified for the driver's fs.delete."""
    from quick_stream_spark.operators.commitlog import _vacuum_walk_pyarrow

    table, cdir = _mk_commit_tree(str(tmp_path))
    table_uri = "file://" + table
    rows = sorted(_vacuum_walk_pyarrow("file://" + cdir, table_uri))
    rel_pq = f"{COMMITS_DIR}/c1/b0/part-0.parquet"
    assert rows == [
        (f"{table_uri}/{COMMITS_DIR}/c1/b0/.part-0.parquet.kbloom",
         rel_pq, "kb"),
        (f"{table_uri}/{rel_pq}", rel_pq, "pq"),
    ]


def test_vacuum_walk_pyarrow_object_store_native_paths(tmp_path, monkeypatch):
    """The object-store path contract (r13 advice, medium): pyarrow's
    info.path is filesystem-NATIVE (`bucket/key`, no scheme, no leading
    slash) while the Hadoop table root is a URI path (`/key`).  Pinned
    by routing from_uri through a SubTreeFileSystem whose native paths
    are exactly that bucket/key shape: rel must still be table-relative
    (native root re-derived via from_uri(table_uri), NOT the Hadoop
    path), and `p` must be the absolute URI, never the scheme-less
    native path the old code handed fs.delete."""
    import pyarrow.fs as pafs

    from quick_stream_spark.operators import commitlog

    table, cdir = _mk_commit_tree(str(tmp_path))
    mount = str(tmp_path)  # plays the role of the object store

    # A subtree FS rooted at mount's PARENT: native paths come back as
    # "<mountname>/key" — no scheme, no leading slash, != the URI path
    # — exactly the s3/gs "bucket/key" shape.
    class BucketFS:
        @staticmethod
        def from_uri(uri):
            from urllib.parse import urlparse

            u = urlparse(uri)
            return (
                pafs.SubTreeFileSystem(
                    os.path.dirname(mount), pafs.LocalFileSystem()
                ),
                u.netloc + u.path,  # "bucket/key" — the s3 shape
            )

    monkeypatch.setattr(pafs, "FileSystem", BucketFS)
    table_uri = "s3://" + os.path.basename(mount) + "/tbl"
    cdir_uri = table_uri + f"/{COMMITS_DIR}/c1"
    rows = sorted(commitlog._vacuum_walk_pyarrow(cdir_uri, table_uri))
    rel_pq = f"{COMMITS_DIR}/c1/b0/part-0.parquet"
    assert rows == [
        (f"{table_uri}/{COMMITS_DIR}/c1/b0/.part-0.parquet.kbloom",
         rel_pq, "kb"),
        (f"{table_uri}/{rel_pq}", rel_pq, "pq"),
    ]


def test_vacuum_spool_cleaned_up_when_walk_raises(tmp_path):
    """A raise mid-walk inside `_vacuum_listing_spool` must close the
    spool stream and delete the spool file itself — the caller's
    finally only ever sees spool_path AFTER a successful return (r13
    advice: the refactor moved spool creation inside the helper and
    dropped that coverage)."""
    from types import SimpleNamespace

    from quick_stream_spark.operators.commitlog import ManifestLog

    class FakeStream:
        closed = False

        def write(self, b):  # pragma: no cover - walk raises first
            pass

        def close(self):
            self.closed = True

    class FakeFS:
        def __init__(self):
            self.stream = FakeStream()
            self.deleted = []

        def create(self, path, overwrite):
            return self.stream

        def listStatus(self, path):
            raise RuntimeError("walk boom")

        def delete(self, path, recursive):
            self.deleted.append(str(path))

    jvm = SimpleNamespace(
        org=SimpleNamespace(
            apache=SimpleNamespace(
                hadoop=SimpleNamespace(fs=SimpleNamespace(Path=str))
            )
        )
    )
    fake_self = SimpleNamespace(dir=str(tmp_path))
    fs = FakeFS()
    with pytest.raises(RuntimeError, match="walk boom"):
        ManifestLog._vacuum_listing_spool(
            fake_self, fs, "croot", jvm, "/tbl"
        )
    assert fs.stream.closed
    assert len(fs.deleted) == 1 and "vacuum-spool-" in fs.deleted[0]


def test_vacuumed_versions_raise_from_warm_caches(spark, tmp_table_dir):
    """Each log caches parsed documents and resolved snapshots by
    version.  ``vacuum()`` clears both, so a version it deleted raises
    ``FileNotFoundError`` even when it was cached.  A version deleted by
    ANOTHER handle's vacuum raises too (the head of every walk is
    probed), and a cached delta whose chain that vacuum collapsed still
    resolves (the walk retries uncached)."""
    t = mk(spark, tmp_table_dir, "t", manifest_checkpoint_interval=8)
    t.upsert(df(spark, BATCH1))
    t.upsert(df(spark, BATCH2))
    t.soft_delete(df(spark, BATCH1[1:2]))
    vs = t.snapshot_versions()
    assert vs == [1, 2, 3]
    other, third = (
        mk(spark, tmp_table_dir, "t", manifest_checkpoint_interval=8)
        for _ in range(2)
    )
    for log in (t._log, other._log, third._log):
        for v in vs:
            log.read(v)  # warm: every document and snapshot cached
    want = state(t)
    t.vacuum(keep_versions=1)
    for v in vs[:-1]:
        with pytest.raises(FileNotFoundError):
            t._log.read(v)
        with pytest.raises(FileNotFoundError):
            t.read(version=v).collect()
        with pytest.raises(FileNotFoundError):
            other._log.read_stats(v)
    # the third handle still holds v3's pre-collapse delta document but
    # not the deleted documents behind it
    third._log._snap_cache.clear()
    third._log._doc_cache.pop(2)
    assert "delta" in third._log._doc_cache[3]
    head, deltas = third._log._chain_to_checkpoint(3)
    assert "delta" not in head and deltas == []
    assert state(other) == state(third) == state(t) == want
    other.upsert(df(spark, [(5, datetime(2024, 2, 1), 9, "e1")]))
    assert state(t)[5] == ("e1", True)


def test_publish_between_commits_is_seen_or_conflicts(
    spark, tmp_table_dir, monkeypatch
):
    """Warm caches never hide another writer.  Writer B publishing
    BETWEEN two commits of writer A is seen by A's next commit (it lists
    the log once per commit), so both updates survive.  B publishing
    after A's snapshot read but before A's publish sends A through the
    optimistic-concurrency check, because A's base is the version it
    read: a same-bucket update raises instead of silently dropping B's
    row, and a disjoint one re-points so both land.  The publish-time
    races are covered by test_disjoint_bucket_race_re_points_and_both_
    commits_land, test_same_bucket_race_still_raises and
    test_threaded_disjoint_writers_all_land (inline layout), and by
    tests/test_bounded_commits.py's test_bounded_disjoint_race_on_delta_
    layout, test_bounded_overlap_race_raises and
    test_overlap_race_with_identical_files_re_targets."""
    from quick_stream_spark.operators.commitlog import ConcurrentCommitError

    buckets = _seed_buckets(spark, tmp_table_dir)
    same = [k for k, b in buckets.items() if b == buckets[1] and k != 1]
    other_key = next(k for k, b in buckets.items() if b != buckets[1])
    a = _mk_occ(spark, tmp_table_dir)
    a.upsert(df(spark, _OCC_SEED))
    a.upsert(df(spark, [(1, datetime(2024, 2, 1), 20, "a-1")]))
    # B between two commits of A, same bucket
    b_key = same[0] if same else 1
    _mk_occ(spark, tmp_table_dir).upsert(
        df(spark, [(b_key, datetime(2024, 2, 2), 21, "b-1")])
    )
    a.upsert(df(spark, [(1, datetime(2024, 2, 3), 22, "a-2")]))
    rows = {r.pkey: r.payload for r in _mk_occ(spark, tmp_table_dir).read().collect()}
    assert rows[1] == "a-2"
    assert rows[b_key] == ("a-2" if b_key == 1 else "b-1")

    real_read = KeyedTable._read_current_buckets

    def race_after_read(key, payload):
        state_ = {"done": False}

        def racing(self, touched):
            out = real_read(self, touched)
            if not state_["done"]:
                state_["done"] = True
                _mk_occ(spark, tmp_table_dir).upsert(
                    df(spark, [(key, datetime(2024, 3, 1), 30, payload)])
                )
            return out

        monkeypatch.setattr(KeyedTable, "_read_current_buckets", racing)

    race_after_read(b_key, "b-2")
    with pytest.raises(ConcurrentCommitError):
        a.upsert(df(spark, [(1, datetime(2024, 3, 2), 31, "a-3")]))
    rows = {r.pkey: r.payload for r in _mk_occ(spark, tmp_table_dir).read().collect()}
    assert rows[b_key] == "b-2"  # B's row was not overwritten

    race_after_read(other_key, "x-B")
    a.upsert(df(spark, [(1, datetime(2024, 3, 3), 32, "a-4")]))
    monkeypatch.setattr(KeyedTable, "_read_current_buckets", real_read)
    reader = _mk_occ(spark, tmp_table_dir)
    rows = {r.pkey: r.payload for r in reader.read().collect()}
    assert rows[1] == "a-4" and rows[other_key] == "x-B"
    assert reader.count_fast() == reader.read().count() == len(_OCC_SEED)
