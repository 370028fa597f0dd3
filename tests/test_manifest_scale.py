"""Manifest metadata scale envelope (r9 verdict ask #2).

The r9 layout rewrote one O(files) JSON document per commit and parsed
it per read — fine at sf0.1 (~hundreds of files), a multi-hundred-MB
driver cost at 10^5-10^6 files.  The segmented log (commitlog.py:
delta documents + periodic full checkpoints, Delta's incremental-log
design) bounds the PER-COMMIT write to O(commit) and amortizes the
O(files) checkpoint to 1/interval of commits.  This file MEASURES the
envelope at 10^4 files — synthetic metadata for the per-op numbers,
plus a real 10^4-file table driving read_range end-to-end — and pins
the qualitative claims (delta bytes ~KB vs checkpoint ~MB; warm reads
O(1) after the cache; reconstruction bounded by the checkpoint
interval).

Residual O(files) driver costs, documented on purpose: cold snapshot
reconstruction (one checkpoint parse), the zone-pruning walk
(_pruned_mapping iterates every file's bounds), and agg_fast's bounds
sweep.  At 10^4 files each measures in the tens of milliseconds here;
the printed numbers give the extrapolation envelope (~linear in
files).  Beyond ~10^6 files the next step is Delta's: a PARQUET
checkpoint read distributedly — a layout swap local to ManifestLog.
"""

import json
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.operators.commitlog import ManifestLog
from quick_stream_spark.operators.merge import KeyedTable

N_BUCKETS = 64
FILES_PER_BUCKET = 156  # 64 * 156 = 9984 ~ 10^4 files


def _synthetic_state(n_buckets=N_BUCKETS, files_per_bucket=FILES_PER_BUCKET):
    mapping, stats, zones = {}, {}, {}
    for b in range(n_buckets):
        files = [
            f"_qss_commits/c{b:03d}{i:04d}/__qss_bucket={b}/part-{i:05d}.parquet"
            for i in range(files_per_bucket)
        ]
        mapping[b] = files
        stats[b] = [files_per_bucket * 10, files_per_bucket * 9]
        for i, p in enumerate(files):
            zones[p] = {
                "ts": [
                    f"2024-01-{1 + i % 28:02d}T00:00:00",
                    f"2024-01-{1 + i % 28:02d}T23:59:59",
                ],
                "uid": [i * 100, i * 100 + 99],
            }
    return mapping, stats, zones


def test_manifest_scale_envelope_at_10k_files(spark, tmp_table_dir):
    """Metadata-op envelope at ~10^4 files: seed a full checkpoint,
    run 15 declared incremental commits (2 buckets each), measure
    per-commit wall + document bytes, cold reconstruction through the
    whole delta chain, warm reads, and the zone-pruning walk."""
    log = ManifestLog(spark, os.path.join(tmp_table_dir, "t"), checkpoint_interval=16)
    mapping, stats, zones = _synthetic_state()
    n_files = sum(len(fl) for fl in mapping.values())

    t0 = time.monotonic()
    v = log.commit(mapping, stats=stats, zones=zones)  # undeclared -> full
    t_checkpoint = time.monotonic() - t0
    ckpt_bytes = os.path.getsize(os.path.join(log.dir, f"v{v}.json"))

    # 15 declared incremental commits: each replaces 2 buckets with one
    # fresh file each (the steady-state micro-batch shape)
    commit_walls, delta_bytes = [], []
    for i in range(15):
        base = log.latest_version()
        m = log.read(base)
        s = log.read_stats(base)
        z = log.read_zones(base)
        touched = {(2 * i) % N_BUCKETS, (2 * i + 1) % N_BUCKETS}
        new_files, new_zones = {}, {}
        for b in touched:
            for p in m[b]:
                z.pop(p, None)
            newp = f"_qss_commits/cinc{i:03d}/__qss_bucket={b}/part-0.parquet"
            m[b] = new_files[b] = [newp]
            s[b] = [10, 9]
            z[newp] = new_zones[newp] = {
                "ts": ["2024-02-01T00:00:00", "2024-02-01T23:59:59"],
                "uid": [0, 99],
            }
        t0 = time.monotonic()
        v = log.commit_bounded(
            touched, new_files, {b: s[b] for b in touched}, new_zones, base
        )
        wall = time.monotonic() - t0
        raw = log._read_doc(v)
        if v % log.checkpoint_interval == 0:
            # the cadence checkpoint: a full document by design
            assert "buckets" in raw, f"v{v} should be the checkpoint"
        else:
            assert "delta" in raw, f"commit {v} should be a delta document"
            commit_walls.append(wall)
            delta_bytes.append(
                os.path.getsize(os.path.join(log.dir, f"v{v}.json"))
            )

    # cold reconstruction: fresh instance, longest chain (15 deltas)
    cold = ManifestLog(spark, log.table_path, checkpoint_interval=16)
    t0 = time.monotonic()
    m_cold = cold.read()
    z_cold = cold.read_zones()
    t_cold = time.monotonic() - t0
    # warm reads: the structural claim is NO re-parse (cache hit probes
    # existence only) — pinned by counting _read_doc calls, which is
    # load-proof where a wall-clock bound is not
    parses = []
    real_read_doc = cold._read_doc
    cold._read_doc = lambda v: (parses.append(v), real_read_doc(v))[1]
    t0 = time.monotonic()
    cold.read(), cold.read_zones()
    t_warm = time.monotonic() - t0
    cold._read_doc = real_read_doc
    assert parses == []  # warm: zero documents re-parsed

    # correctness of the whole chain: reconstruction == eager state
    assert m_cold == m and {p: z_cold[p] for p in z_cold} == z
    assert cold.read_stats() == s

    # the pruning walk at 10^4 files (the residual O(files) driver cost)
    from quick_stream_spark.operators.commitlog import zone_overlaps

    t0 = time.monotonic()
    kept = [
        p
        for fl in m_cold.values()
        for p in fl
        if zone_overlaps(z_cold.get(p, {}).get("ts"),
                         "2024-02-01T00:00:00", None)
    ]
    t_prune = time.monotonic() - t0
    assert len(kept) == 30  # exactly the incremental commits' files

    avg_commit = sum(commit_walls) / len(commit_walls)
    avg_delta = sum(delta_bytes) / len(delta_bytes)
    print(
        f"\n# manifest envelope @ {n_files} files: "
        f"checkpoint {ckpt_bytes / 1e6:.2f} MB in {t_checkpoint * 1e3:.0f} ms; "
        f"delta commit avg {avg_delta / 1e3:.1f} KB in {avg_commit * 1e3:.0f} ms; "
        f"cold read (15-delta chain) {t_cold * 1e3:.0f} ms, warm {t_warm * 1e3:.1f} ms; "
        f"zone-prune walk {t_prune * 1e3:.0f} ms"
    )
    # envelope pins (loose: box-load tolerant, catch regressions of kind
    # not of degree): deltas are ~three orders below the checkpoint;
    # every metadata op is sub-second at 10^4 files
    assert avg_delta < ckpt_bytes / 100
    assert avg_commit < 2.0 and t_cold < 5.0 and t_prune < 2.0
    assert t_warm < 1.0  # loose wall bound; the re-parse pin is above


def test_checkpoint_cadence_bounds_chains(spark, tmp_table_dir):
    """Every checkpoint_interval-th version is a full document, so no
    reconstruction walks more than interval-1 deltas; interval=1 is
    the pre-segmentation layout (every commit full)."""
    log = ManifestLog(spark, os.path.join(tmp_table_dir, "a"), checkpoint_interval=4)
    mapping = {0: ["_qss_commits/c0/__qss_bucket=0/p.parquet"]}
    v = log.commit(mapping, stats={0: [1, 1]})
    for i in range(1, 9):
        base = log.latest_version()
        v = log.commit_bounded(
            {0}, {0: [f"_qss_commits/c{i}/__qss_bucket=0/p.parquet"]},
            {0: [1, 1]}, None, base,
        )
    kinds = ["full" if "buckets" in log._read_doc(x) else "delta"
             for x in log.versions()]
    # v1 full (creating), v4 and v8 full (cadence), rest deltas
    assert kinds == ["full", "delta", "delta", "full",
                     "delta", "delta", "delta", "full", "delta"]

    legacy = ManifestLog(spark, os.path.join(tmp_table_dir, "b"), checkpoint_interval=1)
    legacy.commit(mapping, stats={0: [1, 1]})
    legacy.commit_bounded(
        {0}, {0: ["_qss_commits/c9/__qss_bucket=0/p.parquet"]},
        {0: [1, 1]}, None, legacy.latest_version(),
    )
    assert all("buckets" in legacy._read_doc(x) for x in legacy.versions())


def test_vacuum_collapses_oldest_kept_delta(spark, tmp_table_dir):
    """Vacuum on a segmented log: the oldest kept version collapses to
    a self-contained full document, older documents delete, vacuumed
    versions raise FileNotFoundError exactly as before — on a REAL
    table so the data-file sweep is exercised too."""
    t = KeyedTable(
        spark, os.path.join(tmp_table_dir, "t"), keys=("pkey",),
        version_col="v", arrival_col="a", num_buckets=4,
        commit_protocol="manifest", zone_map_cols=("v",),
    )
    mk = lambda rows: spark.createDataFrame(rows, "pkey long, v timestamp, a long")
    t.upsert(mk([(i, datetime(2024, 1, 1), i) for i in range(8)]))
    for i in range(3):
        t.upsert(mk([(i, datetime(2024, 2, 1 + i), 100 + i)]), newer_wins=True)
    vs = t.snapshot_versions()
    assert len(vs) == 4
    log = t._log
    assert "delta" in log._read_doc(vs[-1])
    before = {tuple(r) for r in t.read().collect()}

    t.vacuum(keep_versions=2)
    kept = t.snapshot_versions()
    assert kept == vs[-2:]
    assert "buckets" in log._read_doc(kept[0])  # collapsed to full
    assert {tuple(r) for r in t.read().collect()} == before
    assert {tuple(r) for r in t.read(version=kept[0]).collect()}
    with pytest.raises(FileNotFoundError):
        t.read(version=vs[0]).collect()
    # zones survived the collapse byte-for-byte in meaning
    assert log.read_zones(kept[0]) is not None
    assert t.count_fast() == t.read().count()


@pytest.mark.slow
def test_real_10k_file_table_read_range(spark, tmp_table_dir):
    """End-to-end at a REAL 10^4-file scale: a clustered table whose
    buckets roll one row per file; read_range must stay exact and its
    metadata planning must prune >99% of files for a one-day slice.
    Prints the measured planning + scan wall."""
    t = KeyedTable(
        spark, os.path.join(tmp_table_dir, "t"), keys=("pkey",),
        version_col="ts", arrival_col="a", num_buckets=16,
        commit_protocol="manifest", zone_map_cols=("ts",),
    )
    n = 10_000
    rows = spark.range(n).select(
        F.col("id").alias("pkey"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,cast(id % 500 as int),0,0,0)").alias("ts"),
        F.col("id").alias("a"),
    )
    t.upsert(rows)
    t.compact(target_files_per_bucket=n, sort_by="ts")  # one row per file
    n_files = t.file_count()
    assert n_files >= 9_000, n_files

    day_lo = datetime(2024, 1, 3)
    day_hi = datetime(2024, 1, 7)
    t0 = time.monotonic()
    stats = t.skipping_stats({"ts": (day_lo, day_hi)})
    t_plan = time.monotonic() - t0
    t0 = time.monotonic()
    got = t.read_range("ts", lo=day_lo, hi=day_hi).count()
    t_scan = time.monotonic() - t0
    want = t.read().filter(F.col("ts").between(F.lit(day_lo), F.lit(day_hi))).count()
    assert got == want > 0
    print(
        f"\n# real 10k-file table: {n_files} files, slice scans "
        f"{stats['files_scanned']} ({stats['skipped_fraction']:.3f} skipped); "
        f"planning {t_plan * 1e3:.0f} ms, pruned scan {t_scan:.1f} s"
    )
    assert stats["skipped_fraction"] > 0.98
    assert t_plan < 5.0


@pytest.mark.slow
def test_delta_commit_cost_independent_of_table_size(spark, tmp_table_dir):
    """The structural segmentation claim, pinned without timing: the
    DOCUMENT a steady-state commit writes is O(commit), so its size is
    the same at 10^4 and at 10^5 table files, while the checkpoint
    grows linearly.  (Byte asserts are deterministic — the wall-clock
    envelope lives in test_manifest_scale_envelope_at_10k_files.)"""
    sizes = {}
    for label, fpb in (("10k", FILES_PER_BUCKET), ("100k", FILES_PER_BUCKET * 10)):
        # inline-JSON layout pinned explicitly: at 10^5 files the
        # DEFAULT threshold (50k) publishes a parquet checkpoint behind
        # an O(1) pointer instead (test_parquet_checkpoint_envelope_at_
        # 100k_files) — this test pins the pre-r11 growth claim that
        # motivated it
        log = ManifestLog(
            spark, os.path.join(tmp_table_dir, label), checkpoint_interval=16,
            parquet_checkpoint_threshold=10**9,
        )
        mapping, stats, zones = _synthetic_state(N_BUCKETS, fpb)
        v = log.commit(mapping, stats=stats, zones=zones)
        ckpt = os.path.getsize(os.path.join(log.dir, f"v{v}.json"))
        base = log.latest_version()
        m, s, z = log.read(base), log.read_stats(base), log.read_zones(base)
        for p in m[0]:
            z.pop(p, None)
        newp = "_qss_commits/cinc/__qss_bucket=0/part-0.parquet"
        m[0] = [newp]
        s[0] = [10, 9]
        z[newp] = {"ts": ["2024-02-01T00:00:00", "2024-02-01T23:59:59"],
                   "uid": [0, 99]}
        v = log.commit_bounded({0}, {0: [newp]}, {0: s[0]}, {newp: z[newp]}, base)
        delta = os.path.getsize(os.path.join(log.dir, f"v{v}.json"))
        n_files = sum(len(fl) for fl in m.values())
        sizes[label] = (n_files, ckpt, delta)
    (n1, c1, d1), (n2, c2, d2) = sizes["10k"], sizes["100k"]
    print(
        f"\n# delta-cost independence: {n1} files -> checkpoint "
        f"{c1 / 1e6:.2f} MB, delta {d1} B; {n2} files -> checkpoint "
        f"{c2 / 1e6:.2f} MB, delta {d2} B"
    )
    assert n2 >= 9 * n1
    assert c2 > 8 * c1          # checkpoints grow ~linearly with files
    assert d2 == d1             # the delta document does not grow AT ALL
    assert d1 < 2_000           # and stays O(commit): under 2 KB


def test_restore_to_a_delta_version(spark, tmp_table_dir):
    """RESTORE targeting a version whose document is a DELTA must
    reconstruct that snapshot and republish it as a self-contained
    checkpoint — values, stats and zones all byte-equal in meaning to
    the original snapshot."""
    t = KeyedTable(
        spark, os.path.join(tmp_table_dir, "t"), keys=("pkey",),
        version_col="v", arrival_col="a", num_buckets=4,
        commit_protocol="manifest", zone_map_cols=("v",),
    )
    mk = lambda rows: spark.createDataFrame(rows, "pkey long, v timestamp, a long")
    t.upsert(mk([(i, datetime(2024, 1, 1), i) for i in range(8)]))
    t.upsert(mk([(1, datetime(2024, 2, 1), 100)]), newer_wins=True)  # delta v2
    v2 = t.snapshot_versions()[-1]
    log = t._log
    assert "delta" in log._read_doc(v2)
    want = {tuple(r) for r in t.read().collect()}
    z2 = log.read_zones(v2)

    t.upsert(mk([(2, datetime(2024, 3, 1), 200)]), newer_wins=True)  # v3
    v4 = t.restore(v2)
    assert "buckets" in log._read_doc(v4)  # restore publishes a checkpoint
    assert {tuple(r) for r in t.read().collect()} == want
    assert log.read_zones(v4) == z2
    assert t.count_fast() == 8


# --------------------------------------------------------------------------
# r11: parquet checkpoint (verdict ask #3) — the distributed-readable
# full-document layout behind ManifestLog, same delta-log semantics.


def _mk_keyed(spark, path, threshold):
    return KeyedTable(
        spark, path, keys=("pkey",), version_col="ts", arrival_col="a",
        num_buckets=4, commit_protocol="manifest", zone_map_cols=("ts",),
        manifest_parquet_threshold=threshold,
    )


def test_parquet_checkpoint_full_table_contract(spark, tmp_table_dir):
    """The whole KeyedTable contract on the parquet-checkpoint layout
    (threshold=0 forces every full document to parquet): upsert /
    newer-wins / soft delete / read_range / lookup / clustered compact
    / time travel / restore / vacuum behave byte-identically to the
    inline-JSON layout built from the same batches."""
    a = _mk_keyed(spark, os.path.join(tmp_table_dir, "pq"), threshold=0)
    b = _mk_keyed(spark, os.path.join(tmp_table_dir, "js"), threshold=10**9)
    mk = lambda rows: spark.createDataFrame(rows, "pkey long, ts timestamp, a long")
    batches = [
        [(i, datetime(2024, 1, 1 + i % 5), i) for i in range(16)],
        [(3, datetime(2024, 2, 1), 100), (99, datetime(2024, 2, 2), 101)],
        [(4, datetime(2023, 12, 1), 102)],  # older: newer-wins drops it
    ]
    for t in (a, b):
        for rows in batches:
            t.upsert(mk(rows), newer_wins=True)
        t.soft_delete(mk([(5, datetime(2024, 3, 1), 200)]))
        t.compact(target_files_per_bucket=2, sort_by="ts")
    # every full document of the threshold-0 table is a pointer
    log = a._log
    fulls = [v for v in log.versions() if "delta" not in log._read_doc(v)]
    assert fulls and all(
        "checkpoint_parquet" in log._read_doc(v) for v in fulls
    )
    for kwargs in (
        dict(active_only=False),
        dict(active_only=True),
    ):
        ga = {tuple(r) for r in a.read(**kwargs).collect()}
        gb = {tuple(r) for r in b.read(**kwargs).collect()}
        assert ga == gb and len(ga) > 0
    lo, hi = datetime(2024, 1, 2), datetime(2024, 2, 1)
    assert (
        {tuple(r) for r in a.read_range("ts", lo=lo, hi=hi).collect()}
        == {tuple(r) for r in b.read_range("ts", lo=lo, hi=hi).collect()}
    )
    assert (
        {tuple(r) for r in a.lookup([3, 4, 99]).collect()}
        == {tuple(r) for r in b.lookup([3, 4, 99]).collect()}
    )
    assert a.count_fast() == b.count_fast()
    assert a.content_checksum() == b.content_checksum()
    for fn in ("min", "max"):
        assert a.agg_fast("ts", fn) == b.agg_fast("ts", fn)
    # time travel + restore + vacuum on the pointer layout
    v_old = a.snapshot_versions()[1]
    old_rows = {tuple(r) for r in a.read(version=v_old).collect()}
    a.restore(v_old)
    assert {tuple(r) for r in a.read().collect()} == old_rows
    a.vacuum(keep_versions=1)
    assert {tuple(r) for r in a.read().collect()} == old_rows
    import glob
    live = [
        log._read_doc(v).get("checkpoint_parquet")
        for v in a.snapshot_versions()
    ]
    on_disk = {
        os.path.basename(p) for p in glob.glob(os.path.join(log.dir, "cp-*"))
    }
    assert on_disk == {c for c in live if c}  # orphan cp dirs swept


def test_parquet_checkpoint_cdc_source_reads_pointer(spark, tmp_table_dir):
    """The no-Spark CDC reader (sources/pyds.py) reconstructs snapshot
    mappings through pointer documents with plain pyarrow."""
    from quick_stream_spark.sources.pyds import _cdc_mapping

    t = _mk_keyed(spark, os.path.join(tmp_table_dir, "t"), threshold=0)
    mk = lambda rows: spark.createDataFrame(rows, "pkey long, ts timestamp, a long")
    t.upsert(mk([(i, datetime(2024, 1, 1), i) for i in range(8)]))
    t.upsert(mk([(1, datetime(2024, 2, 1), 100)]), newer_wins=True)
    log = t._log
    for v in t.snapshot_versions():
        assert _cdc_mapping(t.path, v) == log.read(v)


@pytest.mark.slow
def test_parquet_checkpoint_envelope_at_100k_files(spark, tmp_table_dir):
    """The 10^5-file envelope (r10 verdict ask #3): at this size the
    r10 layout wrote a ~19.9 MB JSON checkpoint parsed single-threaded
    on the driver, and read_range planning walked every file's bounds
    driver-side.  With the parquet checkpoint: (a) the published JSON
    document stays O(1) (a pointer), (b) planning runs as a Spark
    filter over the checkpoint rows and — pinned structurally, not by
    wall clock — never materializes the snapshot on the driver, and
    (c) the pruned mapping is exactly the driver walk's."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=16, parquet_checkpoint_threshold=50_000,
    )
    mapping, stats, zones = _synthetic_state(N_BUCKETS, FILES_PER_BUCKET * 10)
    n_files = sum(len(fl) for fl in mapping.values())
    assert n_files >= 99_000

    t0 = time.monotonic()
    v = log.commit(mapping, stats=stats, zones=zones)
    t_ckpt = time.monotonic() - t0
    ptr_bytes = os.path.getsize(os.path.join(log.dir, f"v{v}.json"))
    assert "checkpoint_parquet" in log._read_doc(v)
    assert ptr_bytes < 2_000  # the pointer, not the 19.9 MB payload

    # one steady-state delta on top (the incremental-commit shape)
    base = log.latest_version()
    m = log.read(base)
    s = log.read_stats(base)
    z = log.read_zones(base)
    for p in m[0]:
        z.pop(p, None)
    newp = "_qss_commits/cinc/__qss_bucket=0/part-0.parquet"
    m[0] = [newp]
    s[0] = [10, 9]
    z[newp] = {"ts": ["2024-02-01T00:00:00", "2024-02-01T23:59:59"],
               "uid": [0, 99]}
    v2 = log.commit_bounded({0}, {0: [newp]}, {0: s[0]}, {newp: z[newp]}, base)
    assert "delta" in log._read_doc(v2)

    # planning OFF the driver's critical path: a fresh instance prunes
    # without ever resolving the snapshot driver-side
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=16, parquet_checkpoint_threshold=50_000,
    )
    resolved = []
    orig = cold._snapshot
    cold._snapshot = lambda v: (resolved.append(v), orig(v))[1]
    t0 = time.monotonic()
    status, pm = cold.pruned_mapping_distributed(
        {"ts": ("2024-02-01T00:00:00", None)}, v2
    )
    t_plan = time.monotonic() - t0
    cold._snapshot = orig
    assert status == "ok"
    assert resolved == []  # never materialized on the driver
    assert pm == {0: [newp]}  # exactly the delta's fresh file

    # parity with the driver walk on a selective AND an open slice
    from quick_stream_spark.operators.commitlog import zone_overlaps

    mw, _, zw = cold._snapshot(v2)
    # the distributed calls need an instance whose cache is cold: a
    # cached snapshot deliberately short-circuits to the driver walk
    dist = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=16, parquet_checkpoint_threshold=50_000,
    )
    for enc in (
        {"uid": (150_000, 150_999)},
        {"ts": (None, "2024-01-03T00:00:00"), "uid": (0, 10_000)},
    ):
        status, got = dist.pruned_mapping_distributed(enc, v2)
        assert status == "ok"
        walk = {}
        for b, fl in mw.items():
            kept = [
                p for p in fl
                if all(
                    zone_overlaps(zw.get(p, {}).get(c), lo, hi)
                    for c, (lo, hi) in enc.items()
                )
            ]
            if kept:
                walk[b] = kept
        assert {b: sorted(f) for b, f in got.items()} == {
            b: sorted(f) for b, f in walk.items()
        }

    # agg_fast's metadata sweep, also off the driver: min/max from a
    # Spark aggregation over checkpoint rows + the delta's file
    dist2 = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=16, parquet_checkpoint_threshold=50_000,
    )
    st, mm = dist2.agg_bounds_distributed("uid", v2)
    assert st == "ok"
    # driver-walk parity: uid max over carried files is (fpb-1)*100+99,
    # and the delta file's [0, 99] cannot beat it; min is 0
    assert mm[0] == 0 and mm[1] == (FILES_PER_BUCKET * 10 - 1) * 100 + 99
    st, mm_ts = dist2.agg_bounds_distributed("ts", v2)
    assert st == "ok" and mm_ts[1] == "2024-02-01T23:59:59"

    # point-lookup planning: bounded bucket fetch, no materialization
    dist3 = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=16, parquet_checkpoint_threshold=50_000,
    )
    st, (msub, zsub) = dist3.bucket_zones_distributed([0, 5], v2)
    assert st == "ok"
    assert set(msub) == {0, 5} and msub[0] == [newp]
    assert len(msub[5]) == FILES_PER_BUCKET * 10
    assert all(p in zsub for fl in msub.values() for p in fl)
    # zones-agnostic bounded fetch (lookup fallback / CDC bucket reads)
    sub = dist3.bucket_mapping_distributed([0, 5], v2)
    assert sub == {0: msub[0], 5: msub[5]}
    # diagnostic totals from one aggregation, not a driver walk
    assert dist3.snapshot_totals(v2) == (
        63 * FILES_PER_BUCKET * 10 + 1,
        64,
    )

    # cold full materialization (read paths that DO need the mapping)
    cold2 = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=16, parquet_checkpoint_threshold=50_000,
    )
    t0 = time.monotonic()
    m_cold = cold2.read(v2)
    t_cold = time.monotonic() - t0
    assert m_cold == m and cold2.read_stats(v2) == s
    assert cold2.read_zones(v2) == z

    print(
        f"\n# parquet checkpoint @ {n_files} files: pointer {ptr_bytes} B "
        f"(vs ~19.9 MB inline JSON at r10), checkpoint write "
        f"{t_ckpt:.1f} s, distributed read_range planning "
        f"{t_plan * 1e3:.0f} ms with ZERO driver snapshot "
        f"materializations, cold full read {t_cold:.1f} s"
    )
    assert t_plan < 10.0


def test_parquet_checkpoint_threshold_crossing_mid_history(
    spark, tmp_table_dir
):
    """A table that GROWS past the threshold transitions layouts
    mid-log: early full documents are inline JSON, later ones parquet
    pointers — readers resolve mixed chains (inline full -> deltas ->
    parquet full -> deltas) transparently, and time travel still reads
    every version."""
    t = KeyedTable(
        spark, os.path.join(tmp_table_dir, "t"), keys=("pkey",),
        version_col="ts", arrival_col="a", num_buckets=8,
        commit_protocol="manifest", zone_map_cols=("ts",),
        manifest_checkpoint_interval=3, manifest_parquet_threshold=4,
    )
    mk = lambda rows: spark.createDataFrame(rows, "pkey long, ts timestamp, a long")
    states = {}
    for i in range(8):  # growing key set: file count crosses 4 by v3
        batch = [
            (100 * i + j, datetime(2024, 1, 1 + i), 10 * i + j)
            for j in range(1 + i)
        ]
        t.upsert(mk(batch), newer_wins=True)
        states[t.snapshot_versions()[-1]] = {
            tuple(r) for r in t.read().collect()
        }
    log = t._log
    kinds = []
    for v in log.versions():
        raw = log._read_doc(v)
        kinds.append(
            "delta" if "delta" in raw
            else ("pointer" if "checkpoint_parquet" in raw else "inline")
        )
    # both full layouts must occur in one log
    assert "inline" in kinds and "pointer" in kinds, kinds
    # every retained version reads exactly its recorded state
    fresh = KeyedTable(
        spark, t.path, keys=("pkey",), version_col="ts", arrival_col="a",
        num_buckets=8, commit_protocol="manifest", zone_map_cols=("ts",),
        manifest_checkpoint_interval=3, manifest_parquet_threshold=4,
    )
    for v, want in states.items():
        assert {tuple(r) for r in fresh.read(version=v).collect()} == want
    # range planning agrees across the transition
    lo = datetime(2024, 1, 5)
    got = {tuple(r) for r in fresh.read_range("ts", lo=lo).collect()}
    want = {
        tuple(r)
        for r in fresh.read().filter(F.col("ts") >= F.lit(lo)).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_bounded_commit_envelope_at_100k_files(spark, tmp_table_dir):
    """The r11 bounded-commit envelope at 10^5 files (the r10 verdict's
    last O(files) commit-path seam): steady-state DELTA commits via
    ``commit_bounded`` never materialize the base snapshot (structural
    pin) and publish in table-size-independent time; the cadence
    checkpoint is built DISTRIBUTEDLY from the base checkpoint rows —
    replacing both the 1.5 s cold driver materialization per commit and
    the 5.4 s driver-side arrow build per checkpoint measured on the
    r10 layout."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=4, parquet_checkpoint_threshold=50_000,
    )
    mapping, stats, zones = _synthetic_state(N_BUCKETS, FILES_PER_BUCKET * 10)
    n_files = sum(len(fl) for fl in mapping.values())
    assert n_files >= 99_000
    v1 = log.commit(mapping, stats=stats, zones=zones)  # seed checkpoint
    assert "checkpoint_parquet" in log._read_doc(v1)

    def z_of(i):
        return {
            "ts": [f"2024-02-{1 + i:02d}T00:00:00", f"2024-02-{1 + i:02d}T23:59:59"],
            "uid": [i * 100, i * 100 + 99],
        }

    # COLD instances: each commit starts with nothing cached, exactly
    # the restarted-writer shape that cost 1.5 s on the r10 layout
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=4, parquet_checkpoint_threshold=50_000,
    )
    resolved = []
    orig = ManifestLog._snapshot
    ManifestLog._snapshot = lambda self, v: (resolved.append(v), orig(self, v))[1]
    try:
        delta_walls = []
        for i in range(2):  # v2, v3: deltas
            nf = {i: [f"_qss_commits/cb{i}/__qss_bucket={i}/part-0.parquet"]}
            t0 = time.monotonic()
            v = cold.commit_bounded(
                {i}, nf, {i: [10, 9]}, {nf[i][0]: z_of(i)},
                cold.latest_version(),
            )
            delta_walls.append(time.monotonic() - t0)
            assert v == 2 + i
        # v4: cadence — distributed checkpoint build at 10^5 rows
        nf = {2: ["_qss_commits/cb2/__qss_bucket=2/part-0.parquet"]}
        t0 = time.monotonic()
        v4 = cold.commit_bounded(
            {2}, nf, {2: [10, 9]}, {nf[2][0]: z_of(2)}, cold.latest_version()
        )
        t_ckpt = time.monotonic() - t0
        assert v4 == 4
    finally:
        ManifestLog._snapshot = orig
    assert resolved == [], "bounded commits materialized a snapshot"
    assert "checkpoint_parquet" in log._read_doc(4)
    assert all(w < 2.0 for w in delta_walls), delta_walls
    print(
        f"\n[bounded-commit envelope @ {n_files} files] cold delta commits "
        f"{[f'{w * 1000:.0f} ms' for w in delta_walls]}, distributed cadence "
        f"checkpoint {t_ckpt:.2f} s"
    )

    # the distributedly-built checkpoint resolves to the exact state a
    # materialized reader computes, and planning stays distributed
    fresh = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=4, parquet_checkpoint_threshold=50_000,
    )
    doc = fresh._read_doc(4)
    assert doc["has_stats"] and doc["has_zones"]
    assert doc["nfiles"] == n_files - 3 * FILES_PER_BUCKET * 10 + 3
    sub = fresh.bucket_mapping_distributed([0, 1, 2, 5], 4)
    assert sub is not None
    assert sub[0] == ["_qss_commits/cb0/__qss_bucket=0/part-0.parquet"]
    assert sub[2] == ["_qss_commits/cb2/__qss_bucket=2/part-0.parquet"]
    assert len(sub[5]) == FILES_PER_BUCKET * 10
    status, pm = fresh.pruned_mapping_distributed(
        {"ts": ("2024-02-01T00:00:00", None)}, 4
    )
    assert status == "ok"
    assert set(pm) == {0, 1, 2}  # only the three fresh files overlap Feb
    st, mm = fresh.agg_bounds_distributed("uid", 4)
    assert st == "ok" and mm[0] == 0
