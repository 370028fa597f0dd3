"""Per-file key bloom-filter sidecars (operators/merge.py
``key_bloom_bits``): point lookups drop candidate files whose bloom
excludes every requested key — the Delta/Iceberg bloom-index analog for
UNSORTED high-cardinality keys, where zone maps cannot prune.  The
index lives NEXT TO each data file (``.<file>.kbloom``, hidden from
Spark's listings), so the manifest log carries no extra bytes and
carry-forward / rebase / time travel need no special handling.

Contract: false positives only (kept files are re-filtered by the
residual semi-join); a missing or corrupt sidecar keeps its file; no
false negatives (every key tuple written to a file set its bits)."""

import glob
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.operators.merge import KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mk(spark, root, name="t", **kw):
    kw.setdefault("key_bloom_bits", 1 << 14)
    kw.setdefault("key_bloom_hashes", 6)
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol="manifest",
        **kw,
    )


def _sidecars(t):
    return glob.glob(os.path.join(t.path, "_qss_commits", "*", "*", ".*.kbloom"))


def _datafiles(t):
    return glob.glob(os.path.join(t.path, "_qss_commits", "*", "*", "*.parquet"))


def test_expr_and_python_positions_agree(spark, tmp_table_dir):
    """The JVM write-side position expression and the Python probe-side
    twin compute identical bit positions for the same keys — the one
    invariant that makes 'no false negatives' true."""
    t = mk(spark, tmp_table_dir)
    keys = list(range(-50, 50)) + [2**62, -(2**62), 0]
    kdf = spark.createDataFrame([(k,) for k in keys], "pkey long")
    got = kdf.select(
        F.col("pkey"),
        t._kbloom_hash_expr().alias("h"),
        t._kbloom_pos_expr().alias("pos"),
    ).collect()
    for r in got:
        py = t._kbloom_positions_py(int(r.h), t.key_bloom_bits, t.key_bloom_hashes)
        assert list(r.pos) == py, (r.pkey, list(r.pos), py)


def test_lookup_skips_rolled_files_and_never_misses(spark, tmp_table_dir):
    """The headline shape: one bucket rolled into many task-aligned
    files (a large bucket at scale).  The requested key lives in
    exactly one rolled file; the bloom excludes the rest WITHOUT any
    sorted layout — and every present key is always found."""
    t = mk(spark, tmp_table_dir)
    n = 4000
    t.upsert(df(spark, [
        (k, datetime(2024, 1, 1), k, f"p{k}") for k in range(n)
    ]))
    t.compact(target_files_per_bucket=8)  # roll each bucket, no sort
    files_total = len(t._log.read()[0]) + len(
        t._log.read()[1]
    )
    assert files_total >= 12  # genuinely rolled
    assert len(_sidecars(t)) == len(_datafiles(t))

    # candidate files for one key = its bucket's roll set; bloom keeps ~1
    full = t._log.read()
    probe_keys = [7, 1234, 3999]
    sel = spark.createDataFrame(
        [(k,) for k in probe_keys], "pkey long"
    ).select(t._bucket_expr().alias("b"), t._kbloom_hash_expr().alias("h")).collect()
    kept_total, cand_total = 0, 0
    for r in sel:
        pm = t._bloom_prune({r.b: full[r.b]}, [int(r.h)])
        cand_total += len(full[r.b])
        kept_total += sum(len(v) for v in pm.values())
    assert kept_total < cand_total / 2, (kept_total, cand_total)

    # correctness sweep: lookups equal the unpruned filter for present,
    # absent, and mixed key sets
    for ks in ([7], [1234, 3999], [99999], [7, 99999], [0, n - 1]):
        got = sorted(r.pkey for r in t.lookup(ks).collect())
        want = sorted(
            r.pkey
            for r in t.read(active_only=True)
            .filter(F.col("pkey").isin(ks))
            .collect()
        )
        assert got == want, (ks, got, want)


def test_bloom_composes_with_updates_and_versions(spark, tmp_table_dir):
    """Updated keys stay findable (the rewritten bucket's new files
    carry new sidecars), absent keys prune to an empty scan, and time
    travel probes each version's own files' sidecars."""
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, [(k, datetime(2024, 1, 1), k, f"a{k}") for k in range(20)]))
    v1 = t.snapshot_versions()[-1]
    t.upsert(df(spark, [(5, datetime(2024, 2, 1), 100, "a5-new")]))
    assert {r.payload for r in t.lookup([5]).collect()} == {"a5-new"}
    assert {r.payload for r in t.lookup([5], version=v1).collect()} == {"a5"}
    assert t.lookup([424242]).count() == 0
    # soft-deleted keys stay visible to active_only=False lookups
    t.soft_delete(df(spark, [(6, datetime(2024, 3, 1), 101, "x")]))
    assert t.lookup([6]).count() == 0
    assert t.lookup([6], active_only=False).count() == 1


def test_missing_or_corrupt_sidecar_is_conservative(spark, tmp_table_dir):
    """Deleting or corrupting sidecars only loses pruning, never rows."""
    t = mk(spark, tmp_table_dir)
    t.upsert(df(spark, [(k, datetime(2024, 1, 1), k, f"a{k}") for k in range(50)]))
    scs = _sidecars(t)
    assert scs
    os.remove(scs[0])
    with open(scs[1], "wb") as f:
        f.write(b"garbage")
    t._kbloom_cache.clear()
    for ks in ([3], [17, 42], [999]):
        got = sorted(r.pkey for r in t.lookup(ks).collect())
        want = sorted(
            r.pkey
            for r in t.read(active_only=True).filter(F.col("pkey").isin(ks)).collect()
        )
        assert got == want


def test_bloom_on_composite_keys(spark, tmp_table_dir):
    """Composite-key tables hash the FULL key tuple: lookups of
    (a, b) tuples prune and resolve exactly."""
    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "ck"),
        keys=("region", "pkey"),
        version_col="modified_date",
        num_buckets=2,
        commit_protocol="manifest",
        key_bloom_bits=1 << 13,
    )
    rows = [
        (r, k, datetime(2024, 1, 1), f"{r}-{k}")
        for r in ("eu", "us")
        for k in range(100)
    ]
    t.upsert(
        spark.createDataFrame(
            rows, "region string, pkey long, modified_date timestamp, payload string"
        )
    )
    got = {tuple(r[:2]) for r in t.lookup([("eu", 7), ("us", 42)]).select("region", "pkey").collect()}
    assert got == {("eu", 7), ("us", 42)}
    assert t.lookup([("eu", 4242)]).count() == 0


def test_bloom_on_pointer_layout_and_vacuum(spark, tmp_table_dir):
    """Sidecars compose with the parquet-pointer manifest layout and
    bounded commits; vacuum reclaims a removed file's sidecar with it."""
    t = mk(
        spark, tmp_table_dir, "pt",
        manifest_checkpoint_interval=3, manifest_parquet_threshold=0,
    )
    for i in range(4):
        t.upsert(df(spark, [
            (100 * i + j, datetime(2024, 1, 1 + i), i, f"p{i}-{j}")
            for j in range(10)
        ]))
    for k in (5, 103, 207, 309):
        assert {r.pkey for r in t.lookup([k]).collect()} == {k}
    assert t.lookup([777]).count() == 0
    t.compact()
    t.vacuum(keep_versions=1)
    assert len(_sidecars(t)) == len(_datafiles(t))
    for k in (5, 103, 207, 309):
        assert {r.pkey for r in t.lookup([k]).collect()} == {k}


def test_bloom_sizing_is_validated(spark, tmp_table_dir):
    with pytest.raises(ValueError, match="key_bloom_bits"):
        KeyedTable(
            spark,
            os.path.join(tmp_table_dir, "d2"),
            keys=("pkey",),
            version_col="modified_date",
            commit_protocol="manifest",
            key_bloom_bits=8,
        )


def test_lookup_stats_reports_bloom_skipping(spark, tmp_table_dir):
    """lookup_stats: the lookup() twin of skipping_stats — bucket
    pruning bounds the candidate set, bloom pruning bounds the files
    actually opened, and the fractions are consistent with a real
    lookup's plan."""
    t = mk(spark, tmp_table_dir, "ls")
    t.upsert(df(spark, [
        (k, datetime(2024, 1, 1), k, f"p{k}") for k in range(4000)
    ]))
    t.compact(target_files_per_bucket=8)
    st = t.lookup_stats([7, 1234])
    assert st["buckets_total"] == 2
    assert 1 <= st["buckets_scanned"] <= 2
    assert st["files_scanned"] < st["files_in_buckets"]
    assert 0.0 < st["skipped_fraction"] < 1.0
    # the real lookup still resolves exactly
    assert sorted(r.pkey for r in t.lookup([7, 1234]).collect()) == [7, 1234]
    # absent key: everything pruned away
    st2 = t.lookup_stats([999999])
    assert st2["files_scanned"] == 0 and st2["skipped_fraction"] == 1.0


def test_sidecar_bitmap_matches_python_reference(spark, tmp_table_dir):
    """Byte-exact writer parity: the executor-side packed bitmap (per-
    (file, 64-bit-chunk) JVM bit_or -> pandas little-endian scatter)
    equals a bitmap rebuilt in plain Python from each file's key hashes
    — pinning the packing's endianness and byte layout against the
    probe side's ``bits[p >> 3] & (1 << (p & 7))`` contract.  Also pins
    the ADVICE-r11 shape: exactly m/8 payload bytes per sidecar, never
    a positions list."""
    t = mk(spark, tmp_table_dir, key_bloom_bits=1 << 10, key_bloom_hashes=4)
    rows = [
        (k, datetime(2026, 1, 1), k, f"p{k}") for k in range(200)
    ]
    t.upsert(df(spark, rows))
    sidecars = _sidecars(t)
    assert sidecars and len(sidecars) == len(_datafiles(t))
    m, k = t.key_bloom_bits, t.key_bloom_hashes
    for sc in sidecars:
        data = open(sc, "rb").read()
        assert data[:6] == b"QSSKB1"
        assert len(data) == 12 + m // 8  # header + packed bitmap only
        datafile = os.path.join(
            os.path.dirname(sc), os.path.basename(sc)[1:-len(".kbloom")]
        )
        hashes = [
            int(r.h)
            for r in spark.read.parquet(datafile)
            .select(t._kbloom_hash_expr().alias("h"))
            .collect()
        ]
        want = bytearray(m // 8)
        for h in hashes:
            for p in t._kbloom_positions_py(h, m, k):
                want[p >> 3] |= 1 << (p & 7)
        assert data[12:] == bytes(want), sc


def test_sidecar_write_is_executor_side(spark, tmp_table_dir, monkeypatch):
    """Structural pin for the r12 verdict ask #2: on an executor-
    reachable table filesystem (posix / ``file:``), a multi-file
    commit's sidecar BYTES never transit the driver — each bitmap is
    written by the pandas task that packs it, and the driver-side
    fallback (`_write_kbloom_sidecar_fallback`, the ONLY code path that
    writes sidecar bytes from the driver) is never invoked.  Any task
    acking ``ok=False`` would route through the spy and fail here."""
    calls = []
    monkeypatch.setattr(
        KeyedTable,
        "_write_kbloom_sidecar_fallback",
        lambda self, uri, payload: calls.append(uri),
    )
    t = mk(spark, tmp_table_dir, key_bloom_bits=1 << 12, key_bloom_hashes=4)
    t.upsert(
        df(spark, [(k, datetime(2026, 1, 1), k, f"p{k}") for k in range(64)])
    )
    files = _datafiles(t)
    assert len(files) >= 2  # a genuinely multi-file commit
    assert calls == []  # zero sidecar bytes through the driver
    assert len(_sidecars(t)) == len(files)
    # lookups still prune through the executor-written sidecars
    stats = t.lookup_stats([1])
    assert stats["files_scanned"] <= stats["files_in_buckets"]


def test_sidecar_fallback_writes_identical_sidecar(spark, tmp_table_dir):
    """The driver fallback leg (tasks that cannot reach the table FS)
    produces a byte-identical, probe-readable sidecar: rewrite one
    executor-written sidecar through the fallback and compare."""
    t = mk(spark, tmp_table_dir, key_bloom_bits=1 << 10, key_bloom_hashes=4)
    t.upsert(
        df(spark, [(k, datetime(2026, 1, 1), k, f"p{k}") for k in range(40)])
    )
    sc = _sidecars(t)[0]
    original = open(sc, "rb").read()
    datafile = os.path.join(
        os.path.dirname(sc), os.path.basename(sc)[1 : -len(".kbloom")]
    )
    os.remove(sc)
    t._write_kbloom_sidecar_fallback("file://" + datafile, original)
    assert open(sc, "rb").read() == original
    assert t._read_kbloom(datafile) is not None
