"""Declared commits (operators/commitlog.py ``ManifestLog.commit_bounded``),
the one publish path of every table write on both manifest layouts:
commits never materialize the carried-forward bucket->files mapping on
the driver — deltas publish from commit-local metadata, cadence
checkpoints are restated by one builder (DISTRIBUTEDLY from the base
checkpoint rows minus touched buckets UNION the chain's rows on the
parquet-pointer layout, by a driver replay of the chain on the inline
one), and a lost OCC race compares the touched buckets' file lists at
the base and the latest version.

The reference is tests/manifest_model.py, a pure-Python dict replay of
the declared commits: the model tests here pin that both layouts
resolve every version to the model's snapshot.
"""

import glob
import os
from datetime import datetime

import pytest

from quick_stream_spark.operators.commitlog import (
    ConcurrentCommitError,
    ManifestLog,
)
from quick_stream_spark.operators.merge import KeyedTable
from tests.manifest_model import ModelRecorder

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def mk(spark, root, name, **kw):
    kw.setdefault("manifest_checkpoint_interval", 3)
    kw.setdefault("manifest_parquet_threshold", 0)
    kw.setdefault("num_buckets", 4)
    return KeyedTable(
        spark,
        os.path.join(root, name),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        commit_protocol="manifest",
        zone_map_cols=("modified_date", "arrival"),
        **kw,
    )


SEED = [(k, datetime(2024, 1, 1), k, f"k{k}") for k in range(1, 9)]


def _state(t, **kw):
    return {r.pkey: (r.payload, r.row_active) for r in t.read(**kw).collect()}


def _run_sequence(spark, t):
    """A commit sequence crossing several cadence checkpoints (interval
    3) with updates, inserts, soft deletes, and a compaction."""
    t.upsert(df(spark, SEED))                                        # v1
    t.upsert(df(spark, [(1, datetime(2024, 1, 5), 10, "a2")]))       # v2
    t.upsert(df(spark, [(9, datetime(2024, 1, 6), 11, "i1")]))       # v3 (cadence)
    t.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 12, "x")]))   # v4
    t.upsert(df(spark, [(3, datetime(2024, 2, 2), 13, "c2"),
                        (10, datetime(2024, 2, 2), 14, "j1")]))      # v5
    t.upsert(df(spark, [(4, datetime(2024, 2, 3), 15, "d2")]))       # v6 (cadence)
    t.compact()                                                      # v7


def test_both_layouts_equal_the_model(spark, tmp_table_dir, monkeypatch):
    """Same sequence on the inline layout and the pointer layout: every
    version of each log resolves to the reference model's (mapping,
    stats, zones), and both tables read the same rows at every
    version."""
    rec = ModelRecorder(monkeypatch)
    inline = mk(spark, tmp_table_dir, "inline",
                manifest_parquet_threshold=10**9)
    pointer = mk(spark, tmp_table_dir, "pointer")
    _run_sequence(spark, inline)
    _run_sequence(spark, pointer)

    vs_i = inline.snapshot_versions()
    vs_p = pointer.snapshot_versions()
    assert vs_i == vs_p and len(vs_i) == 7
    # both layouts publish deltas off the cadence; their full documents
    # are inline JSON bodies and parquet pointers respectively
    for log, full_key in ((inline._log, "buckets"),
                          (pointer._log, "checkpoint_parquet")):
        for v in vs_p:
            raw = log._read_doc(v)
            if v % 3 == 0 or v == 1:
                assert full_key in raw, (v, raw)
            else:
                assert "delta" in raw, (v, raw)
        rec.check(log)
    for v in vs_i:
        assert _state(inline, version=v) == _state(pointer, version=v)
    assert inline.count_fast() == pointer.count_fast() == 10


def test_bounded_commit_never_resolves_snapshot(spark, tmp_table_dir, monkeypatch):
    """Structural pin for the r10 seam: once the table is on the
    pointer layout, the PUBLISH half of a commit performs ZERO full
    snapshot materializations — ``_snapshot``, ``_load_parquet_
    checkpoint`` and ``_full_parts`` are never called INSIDE
    ``commit_bounded``, across both delta and cadence-checkpoint
    versions (the read half of the merge may materialize freely —
    that's the read path's job)."""
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, SEED))  # v1: materialized (table-creating)

    flag = {"in_cb": False}
    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint", "_full_parts"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            if flag["in_cb"]:
                calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)

    real_cb = ManifestLog.commit_bounded
    results: list = []

    def cb_spy(self, *a, **kw):
        flag["in_cb"] = True
        try:
            v = real_cb(self, *a, **kw)
        finally:
            flag["in_cb"] = False
        results.append(v)
        return v

    monkeypatch.setattr(ManifestLog, "commit_bounded", cb_spy)
    t.upsert(df(spark, [(1, datetime(2024, 3, 1), 20, "a3")]))   # v2 delta
    t.upsert(df(spark, [(11, datetime(2024, 3, 2), 21, "m1")]))  # v3 ckpt
    t.upsert(df(spark, [(2, datetime(2024, 3, 3), 22, "b3")]))   # v4 delta
    assert results == [2, 3, 4]  # fast path taken every time
    assert calls == [], f"commit_bounded materialized a snapshot: {calls}"
    reader = mk(spark, tmp_table_dir, "t")
    got = _state(reader)
    assert got[1] == ("a3", True) and got[11] == ("m1", True)
    assert got[2] == ("b3", True)
    assert reader.count_fast() == reader.read().count() == 9


def test_bounded_disjoint_race_on_delta_layout(spark, tmp_table_dir, monkeypatch):
    """Two bounded writers racing DISJOINT buckets on the delta layout
    (interval high enough that both publishes are deltas): the loser
    finds its touched bucket unchanged since its base and re-targets
    the next version — both rows land."""
    def mk_t(name="t"):
        return mk(spark, tmp_table_dir, name,
                  manifest_checkpoint_interval=64)

    t = mk_t()
    t.upsert(df(spark, SEED))
    buckets = {
        r.pkey: r["__qss_bucket"]
        for r in t.read(with_bucket=True).collect()
    }
    other_key = next(k for k, b in buckets.items() if b != buckets[1])

    real_put = ManifestLog._put_if_absent
    state = {"injected": False}

    def racing(self, body, version):
        if not state["injected"]:
            state["injected"] = True
            other = mk_t()
            other.upsert(
                df(spark, [(other_key, datetime(2024, 3, 1), 30, "x-B")])
            )
        return real_put(self, body, version)

    monkeypatch.setattr(ManifestLog, "_put_if_absent", racing)
    t.upsert(df(spark, [(1, datetime(2024, 3, 1), 31, "a-A")]))
    monkeypatch.setattr(ManifestLog, "_put_if_absent", real_put)

    reader = mk_t()
    rows = {r.pkey: r.payload for r in reader.read().collect()}
    assert rows[1] == "a-A" and rows[other_key] == "x-B"
    assert reader.count_fast() == reader.read().count() == len(SEED)
    log = reader._log
    assert log.versions() == [1, 2, 3]
    assert "delta" in log._read_doc(2) and "delta" in log._read_doc(3)


def test_bounded_overlap_race_raises(spark, tmp_table_dir, monkeypatch):
    """Two bounded writers racing the SAME bucket: the loser must raise
    ``ConcurrentCommitError`` (its merge resolved against stale bucket
    state): the bucket's file list changed since the loser's base."""
    def mk_t():
        return mk(spark, tmp_table_dir, "t",
                  manifest_checkpoint_interval=64)

    t = mk_t()
    t.upsert(df(spark, SEED))

    real_put = ManifestLog._put_if_absent
    state = {"injected": False}

    def racing(self, body, version):
        if not state["injected"]:
            state["injected"] = True
            other = mk_t()
            other.upsert(df(spark, [(1, datetime(2024, 3, 1), 30, "x-B")]))
        return real_put(self, body, version)

    monkeypatch.setattr(ManifestLog, "_put_if_absent", racing)
    with pytest.raises(ConcurrentCommitError, match="conflict on buckets"):
        t.upsert(df(spark, [(1, datetime(2024, 3, 2), 31, "a-A")]))
    monkeypatch.setattr(ManifestLog, "_put_if_absent", real_put)
    # the winner's state survives intact
    reader = mk_t()
    assert {r.pkey: r.payload for r in reader.read().collect()}[1] == "x-B"


def test_cadence_checkpoint_regains_stats_and_zones(spark, tmp_table_dir):
    """Coverage lost by a mid-chain delta (stats/zones absent for its
    files) is regained at the next cadence checkpoint IFF a later
    commit re-covered those buckets — the checkpoint recomputes
    ``has_stats``/``has_zones`` from the written rows, so partial
    coverage is never claimed."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=4, parquet_checkpoint_threshold=0,
    )
    z0 = {"ts": ["2024-01-01T00:00:00", "2024-01-31T00:00:00"]}
    mapping = {0: ["f0"], 1: ["f1"]}
    stats = {0: [5, 5], 1: [5, 4]}
    zones = {"f0": z0, "f1": z0}
    v1 = log.commit(mapping, stats=stats, zones=zones)
    assert "checkpoint_parquet" in log._read_doc(v1)

    # v2: bounded delta REPLACING bucket 0 with a file that has no
    # stats and no zones -> coverage lost from v2 on
    v2 = log.commit_bounded({0}, {0: ["f0b"]}, None, None, v1)
    assert v2 == 2
    assert log.read_stats(v2) is None and log.read_zones(v2) is None

    # v3: bucket 0 re-covered (stats + zones restated) — but bucket 1
    # is still a gap in the RESOLVED chain (v2 dropped coverage), so
    # the delta-resolved view honestly stays None until the checkpoint
    v3 = log.commit_bounded({0}, {0: ["f0c"]}, {0: [6, 6]}, {"f0c": z0}, v2)
    assert log.read_stats(v3) is None and log.read_zones(v3) is None

    # v4 (cadence): checkpoint built distributedly; coverage regained
    v4 = log.commit_bounded({1}, {1: ["f1b"]}, {1: [7, 7]}, {"f1b": z0}, v3)
    assert v4 == 4 and "checkpoint_parquet" in log._read_doc(v4)
    doc = log._read_doc(v4)
    assert doc["has_stats"] and doc["has_zones"]
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=4, parquet_checkpoint_threshold=0,
    )
    assert cold.read(v4) == {0: ["f0c"], 1: ["f1b"]}
    assert cold.read_stats(v4) == {0: [6, 6], 1: [7, 7]}
    assert cold.read_zones(v4) == {"f0c": z0, "f1b": z0}


def test_cadence_checkpoint_with_uncovered_file_stays_lost(spark, tmp_table_dir):
    """A file still uncovered at cadence keeps ``has_stats``/
    ``has_zones`` False — the checkpoint never claims coverage the
    rows don't have (readers scan, never mis-skip)."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=2, parquet_checkpoint_threshold=0,
    )
    z0 = {"ts": ["2024-01-01T00:00:00", "2024-01-31T00:00:00"]}
    v1 = log.commit({0: ["f0"], 1: ["f1"]}, stats={0: [5, 5], 1: [5, 4]},
                    zones={"f0": z0, "f1": z0})
    # v2 = cadence: bucket 0 replaced WITHOUT stats/zones
    v2 = log.commit_bounded({0}, {0: ["f0b"]}, None, None, v1)
    assert v2 == 2
    doc = log._read_doc(v2)
    assert "checkpoint_parquet" in doc
    assert not doc["has_stats"] and not doc["has_zones"]
    assert log.read_stats(v2) is None and log.read_zones(v2) is None
    assert log.read(v2) == {0: ["f0b"], 1: ["f1"]}


def test_inline_base_publishes_a_delta(spark, tmp_table_dir):
    """An inline-JSON base takes the same declared path as a pointer
    base: off the cadence the commit publishes a DELTA document, and the
    carried bucket keeps its files and stats."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=4, parquet_checkpoint_threshold=10**9,
    )
    v1 = log.commit({0: ["f0"], 1: ["f1"]}, stats={0: [1, 1], 1: [2, 1]})
    assert "buckets" in log._read_doc(v1)
    v2 = log.commit_bounded({0}, {0: ["f0b"]}, {0: [3, 3]}, None, v1)
    assert v2 == 2
    raw = log._read_doc(v2)
    assert raw["delta"]["replaced"] == [0]
    assert raw["delta"]["added"] == {"0": ["f0b"]}
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=4, parquet_checkpoint_threshold=10**9,
    )
    assert cold.read(v2) == {0: ["f0b"], 1: ["f1"]}
    assert cold.read_stats(v2) == {0: [3, 3], 1: [2, 1]}


def test_bounded_commit_empties_bucket(spark, tmp_table_dir):
    """A bounded commit replacing a bucket with NO new files (hard
    delete emptying it) drops the bucket across delta and checkpoint
    versions."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=3, parquet_checkpoint_threshold=0,
    )
    v1 = log.commit({0: ["f0"], 1: ["f1"]}, stats={0: [2, 2], 1: [3, 3]})
    v2 = log.commit_bounded({0}, {}, None, None, v1)
    assert log.read(v2) == {1: ["f1"]}
    assert log.read_stats(v2) == {1: [3, 3]}  # emptying loses nothing
    # v3 = cadence with the emptied bucket still absent
    v3 = log.commit_bounded({1}, {1: ["f1b"]}, {1: [4, 4]}, None, v2)
    assert "checkpoint_parquet" in log._read_doc(v3)
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=3, parquet_checkpoint_threshold=0,
    )
    assert cold.read(v3) == {1: ["f1b"]}
    assert cold.read_stats(v3) == {1: [4, 4]}


def test_schema_evolution_adds_zone_col_across_checkpoint(spark, tmp_table_dir):
    """A zone column that first appears mid-chain (schema evolution)
    lands in the cadence checkpoint's typed bound columns; base files
    keep NULL bounds for it (conservative: never skipped on the new
    column) while pruning on it still works for the new files."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=2, parquet_checkpoint_threshold=0,
    )
    v1 = log.commit(
        {0: ["f0"]}, stats={0: [1, 1]},
        zones={"f0": {"ts": ["2024-01-01T00:00:00", "2024-01-31T00:00:00"]}},
    )
    # v2 (cadence): new bucket whose file carries bounds for a NEW col
    v2 = log.commit_bounded(
        {1}, {1: ["f1"]}, {1: [1, 1]},
        {"f1": {"ts": ["2024-02-01T00:00:00", "2024-02-28T00:00:00"],
                "uid": [100, 200]}},
        v1,
    )
    doc = log._read_doc(v2)
    assert doc["zone_cols"] == ["ts", "uid"]
    assert doc["zone_col_types"] == {"ts": "string", "uid": "long"}
    assert doc["has_zones"]
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=2, parquet_checkpoint_threshold=0,
    )
    # prune on the NEW column: f0 (no uid bounds) must be KEPT
    status, pm = cold.pruned_mapping_distributed({"uid": (300, 400)}, v2)
    assert status == "ok"
    assert pm == {0: ["f0"]}  # f1 skipped on uid, f0 conservatively kept
    status, pm2 = cold.pruned_mapping_distributed({"uid": (150, 160)}, v2)
    assert status == "ok"
    assert pm2 == {0: ["f0"], 1: ["f1"]}


def test_pointer_chain_vacuum_sweeps_bounded_checkpoints(spark, tmp_table_dir):
    """Vacuum on a bounded-commit history: old pointers' cp dirs are
    swept, kept versions stay resolvable, and the oldest kept delta is
    collapsed exactly as on the materialized layout."""
    t = mk(spark, tmp_table_dir, "t")
    _run_sequence(spark, t)
    log = t._log
    before = _state(t)
    removed = t.vacuum(keep_versions=2)
    assert removed >= 0
    reader = mk(spark, tmp_table_dir, "t")
    assert _state(reader) == before
    live = set()
    rl = reader._log
    for v in rl.versions():
        raw = rl._read_doc(v)
        if "checkpoint_parquet" in raw:
            live.add(raw["checkpoint_parquet"])
        assert rl.read(v)
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(rl.dir, "cp-*"))
    }
    assert on_disk == live


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_record = st.tuples(
    st.integers(min_value=0, max_value=6),
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=99),
)
_batch = st.lists(_record, min_size=1, max_size=5)
_op = st.tuples(
    st.sampled_from(["upsert", "soft", "hard", "compact", "restore"]), _batch
)
_seq = st.lists(_op, min_size=2, max_size=5)


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_seq)
def test_property_both_layouts_equal_the_model(spark, tmp_path_factory, ops):
    """Property net over the one commit path: for RANDOM sequences of
    upsert / soft-delete / hard-delete / compact / restore, every
    version of the inline-layout table and of the pointer-layout table
    (cadence checkpoints at interval 2 — every other commit crosses the
    checkpoint builder) resolves to the reference model's (mapping,
    stats, zones), and the two tables read the same rows."""
    with pytest.MonkeyPatch.context() as mp:
        _property_sequence(spark, tmp_path_factory, ModelRecorder(mp), ops)


def _property_sequence(spark, tmp_path_factory, rec, ops):
    from datetime import timedelta

    work = tmp_path_factory.mktemp("bprop")
    BASE = datetime(2024, 1, 1)

    def mk_twin(name, threshold):
        return KeyedTable(
            spark,
            str(work / name),
            keys=("pkey",),
            version_col="modified_date",
            arrival_col="arrival",
            num_buckets=2,
            commit_protocol="manifest",
            zone_map_cols=("modified_date",),
            manifest_checkpoint_interval=2,
            manifest_parquet_threshold=threshold,
        )

    inline, pointer = mk_twin("i", 10**9), mk_twin("p", 0)
    arrival = 0
    for op, records in ops:
        rows = [
            (k, BASE + timedelta(hours=v), arrival + i, f"p{p}")
            for i, (k, v, p) in enumerate(records)
        ]
        b = spark.createDataFrame(
            rows,
            "pkey long, modified_date timestamp, arrival long, payload string",
        )
        for t in (inline, pointer):
            if op == "upsert":
                t.upsert(b)
            elif op == "soft":
                t.soft_delete(b)
            elif op == "hard":
                t.hard_delete(b)
            elif op == "restore" and t.exists():
                # same deterministic earlier target on both tables:
                # pointer restores ride the distributed chain builder,
                # inline restores the driver replay
                vs = t.snapshot_versions()
                t.restore(vs[len(records) % len(vs)])
            elif op == "compact" and t.exists():
                t.compact()
        arrival += len(records)
    if not inline.exists():
        assert not pointer.exists()
        return
    vs_i, vs_p = inline.snapshot_versions(), pointer.snapshot_versions()
    assert vs_i == vs_p
    rec.check(inline._log)
    rec.check(pointer._log)
    for v in vs_i:
        assert _state(inline, version=v) == _state(pointer, version=v)


def test_history_describes_every_commit(spark, tmp_table_dir):
    """KeyedTable.history(): per-commit op / timestamp / document kind
    derived from the manifest documents alone — on BOTH layouts, with
    vacuum keeping the oldest surviving commit's own provenance."""
    import time as _time

    t0 = int(_time.time())
    for name, threshold in (("hi", 10**9), ("hp", 0)):
        t = mk(spark, tmp_table_dir, name,
               manifest_parquet_threshold=threshold)
        t.upsert(df(spark, SEED))                                      # v1
        t.upsert(df(spark, [(1, datetime(2024, 2, 1), 20, "a2")]))     # v2
        t.soft_delete(df(spark, [(2, datetime(2024, 3, 1), 21, "x")]))  # v3
        t.compact()                                                    # v4
        v_restored = t.restore(2)                                      # v5
        h = {r.version: r for r in t.history().collect()}
        assert sorted(h) == [1, 2, 3, 4, 5]
        assert [h[v].op for v in sorted(h)] == [
            "upsert", "upsert", "soft_delete", "compact", "restore"
        ]
        assert all(h[v].committed_at >= t0 for v in h)
        assert all(
            h[a].committed_at <= h[b].committed_at
            for a, b in zip(sorted(h), sorted(h)[1:])
        )
        # delta rows expose commit-grain counts; full docs expose totals
        deltas = [r for r in h.values() if r.kind == "delta"]
        fulls = [r for r in h.values() if r.kind != "delta"]
        assert all(r.files_added >= 0 and r.buckets_touched >= 1 for r in deltas)
        assert all(r.files_total >= 1 for r in fulls)
        if threshold == 0:
            assert all(
                r.kind in ("delta", "checkpoint_parquet") for r in h.values()
            )
            assert h[2].kind == "delta" and h[2].files_added >= 1
        # restore is a FULL document (undeclared commit) on both layouts
        assert h[v_restored].kind != "delta"
        t.vacuum(keep_versions=2)
        h2 = {r.version: r.op for r in t.history().collect()}
        assert sorted(h2) == [4, 5]
        assert h2[4] == "compact" and h2[5] == "restore"


def test_restore_is_distributed_on_pointer_layout(spark, tmp_table_dir, monkeypatch):
    """RESTORE on the pointer layout republishes the target snapshot as
    a checkpoint built DISTRIBUTEDLY from the target's own chain (r11
    verdict ask #2): zero snapshot materializations — ``_snapshot``,
    ``_load_parquet_checkpoint`` and ``_full_parts`` are never called —
    for a target mid-chain (delta doc) AND a target that IS a
    checkpoint (empty chain), with stats/zones coverage riding along."""
    t = mk(spark, tmp_table_dir, "tr")
    _run_sequence(spark, t)  # 7 versions
    want = {v: _state(t, version=v) for v in (2, 6)}

    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint", "_full_parts"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)
    reader = mk(spark, tmp_table_dir, "tr")
    v8 = reader.restore(2)   # target is a DELTA version
    assert calls == [], f"restore materialized a snapshot: {calls}"
    v9 = reader.restore(6)   # target is a CHECKPOINT version (empty chain)
    assert calls == [], f"restore materialized a snapshot: {calls}"
    monkeypatch.undo()

    rlog = reader._log
    for v_new, v_old in ((v8, 2), (v9, 6)):
        raw = rlog._read_doc(v_new)
        assert "checkpoint_parquet" in raw and raw.get("op") == "restore"
        assert raw.get("has_stats") and raw.get("has_zones")
        assert _state(reader, version=v_new) == want[v_old]
    assert _state(reader) == want[6]
    assert reader.count_fast() == reader.read().count()


def test_restore_equals_the_model_on_both_layouts(
    spark, tmp_table_dir, monkeypatch
):
    """RESTORE on both layouts (the distributed chain build on the
    pointer layout, the driver replay on the inline one) lands the
    reference model's snapshot, the same rows, and a "restore" history
    op."""
    rec = ModelRecorder(monkeypatch)
    ti = mk(spark, tmp_table_dir, "ri", manifest_parquet_threshold=10**9)
    tp = mk(spark, tmp_table_dir, "rp")
    _run_sequence(spark, ti)
    _run_sequence(spark, tp)
    vi, vp = ti.restore(3), tp.restore(3)
    assert vi == vp == 8
    rec.check(ti._log)
    rec.check(tp._log)
    assert _state(ti) == _state(tp) == _state(tp, version=3)
    hi = {r.version: r.op for r in ti.history().collect()}
    hp = {r.version: r.op for r in tp.history().collect()}
    assert hi[8] == hp[8] == "restore"


def test_seed_checkpoint_on_first_crossing_is_bounded(spark, tmp_table_dir, monkeypatch):
    """First parquet-threshold crossing of an INLINE table (r11 verdict
    ask #2): the cadence checkpoint's driver replay of the raw head
    document + O(chain) deltas reaches the threshold, so the one
    checkpoint builder writes the first parquet checkpoint — no
    ``_snapshot`` / ``_load_parquet_checkpoint`` call (parsing the
    inline head itself is inherent: it is a driver-side JSON bounded by
    the threshold by construction), and subsequent commits ride the
    pointer layout."""
    t = mk(spark, tmp_table_dir, "ts", manifest_parquet_threshold=5)
    t.upsert(df(spark, SEED))                                      # v1 inline
    t.upsert(df(spark, [(1, datetime(2024, 3, 1), 20, "a2")]))     # v2 delta
    log = t._log
    assert "buckets" in log._read_doc(1)  # inline full body below threshold

    flag = {"in_cb": False}
    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            if flag["in_cb"]:
                calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)
    real_cb = ManifestLog.commit_bounded
    results: list = []

    def cb_spy(self, *a, **kw):
        flag["in_cb"] = True
        try:
            v = real_cb(self, *a, **kw)
        finally:
            flag["in_cb"] = False
        results.append(v)
        return v

    monkeypatch.setattr(ManifestLog, "commit_bounded", cb_spy)
    t.compact(target_files_per_bucket=2)  # v3 (cadence): crosses threshold
    t.upsert(df(spark, [(2, datetime(2024, 3, 2), 21, "b2")]))     # v4 delta
    assert results == [3, 4], results  # seed checkpoint + delta
    assert calls == [], f"seed crossing materialized a snapshot: {calls}"
    raw3 = log._read_doc(3)
    assert "checkpoint_parquet" in raw3 and raw3.get("op") == "compact"
    assert raw3.get("has_stats") and raw3.get("has_zones")
    assert "delta" in log._read_doc(4)
    reader = mk(spark, tmp_table_dir, "ts", manifest_parquet_threshold=5)
    got = _state(reader)
    assert got[1] == ("a2", True) and got[2] == ("b2", True)
    assert reader.count_fast() == reader.read().count() == len(SEED)


def test_overlap_race_with_identical_files_re_targets(spark, tmp_table_dir, monkeypatch):
    """A racing winner that DECLARED a bucket but left its file list
    identical to the base state (delta restating the same files) is
    not a real conflict: the loser compares the touched buckets' lists
    at its base and at the latest version and re-targets instead of
    raising."""
    t = mk(spark, tmp_table_dir, "t")
    t.upsert(df(spark, SEED))  # pointer layout, v1
    log = t._log
    base_v = log.latest_version()
    bucket_of_1 = next(
        r["__qss_bucket"]
        for r in t.read(with_bucket=True).collect()
        if r.pkey == 1
    )
    base_files = log.read(base_v)[bucket_of_1]

    real_put = ManifestLog._put_if_absent
    state = {"injected": False}

    def racing(self, body, version):
        if not state["injected"]:
            state["injected"] = True
            import json as _json
            winner = {
                "version": version,
                "delta": {
                    "replaced": [int(bucket_of_1)],
                    "added": {str(int(bucket_of_1)): sorted(base_files)},
                    "stats_lost": True,
                    "zones_lost": True,
                },
            }
            assert real_put(
                self, _json.dumps(winner).encode("utf-8"), version
            )
        return real_put(self, body, version)

    monkeypatch.setattr(ManifestLog, "_put_if_absent", racing)
    t.upsert(df(spark, [(1, datetime(2024, 4, 1), 40, "a-post")]))
    monkeypatch.setattr(ManifestLog, "_put_if_absent", real_put)

    reader = mk(spark, tmp_table_dir, "t")
    assert {r.pkey: r.payload for r in reader.read().collect()}[1] == "a-post"
    rlog = reader._log
    assert rlog.latest_version() == base_v + 2  # winner + re-targeted loser


@pytest.mark.parametrize("threshold", [10**9, 0], ids=["inline", "pointer"])
def test_lost_race_over_a_checkpoint_window(spark, tmp_table_dir, threshold):
    """A lost race whose window holds a FULL document (the winner's
    cadence checkpoint): a loser whose bucket the winner did not touch
    re-targets the next version and both commits land, with stats and
    zones carried through the checkpoint; a loser whose bucket the
    winner replaced raises ``ConcurrentCommitError``."""
    log = ManifestLog(
        spark, os.path.join(tmp_table_dir, "t"),
        checkpoint_interval=2, parquet_checkpoint_threshold=threshold,
    )
    z = {"ts": ["2024-01-01T00:00:00", "2024-01-31T00:00:00"]}
    base = log.commit(
        {0: ["f0"], 1: ["f1"]}, stats={0: [1, 1], 1: [2, 2]},
        zones={"f0": z, "f1": z},
    )
    # the winner replaces bucket 1; v2 is a cadence checkpoint
    assert log.commit_bounded({1}, {1: ["f1b"]}, {1: [3, 3]}, {"f1b": z}, base) == 2
    assert "delta" not in log._read_doc(2)
    # disjoint loser from the same base: re-targets v3 (a delta)
    assert log.commit_bounded({0}, {0: ["f0b"]}, {0: [4, 4]}, {"f0b": z}, base) == 3
    assert "delta" in log._read_doc(3)
    cold = ManifestLog(
        spark, log.table_path,
        checkpoint_interval=2, parquet_checkpoint_threshold=threshold,
    )
    assert cold.read(3) == {0: ["f0b"], 1: ["f1b"]}
    assert cold.read_stats(3) == {0: [4, 4], 1: [3, 3]}
    assert cold.read_zones(3) == {"f0b": z, "f1b": z}
    # overlapping loser from the same base: bucket 1 changed since
    with pytest.raises(ConcurrentCommitError, match=r"conflict on buckets \[1\]"):
        log.commit_bounded({1}, {1: ["f1c"]}, {1: [5, 5]}, {"f1c": z}, base)
    assert log.versions() == [1, 2, 3]


def test_history_row_count_deltas(spark, tmp_table_dir):
    """history() carries the Delta operationMetrics analog (r11 verdict
    ask #6): num_rows_added / num_rows_removed from the stats the
    documents already carry, plus the running rows_total — on BOTH
    layouts, surviving vacuum's collapse."""
    for name, threshold in (("hi", 10**9), ("hp", 0)):
        t = mk(spark, tmp_table_dir, name,
               manifest_parquet_threshold=threshold)
        t.upsert(df(spark, SEED))                                     # v1: 8 rows
        t.upsert(df(spark, [(1, datetime(2024, 2, 1), 20, "a2"),
                            (9, datetime(2024, 2, 1), 21, "i1")]))    # v2
        t.soft_delete(df(spark, [(2, datetime(2024, 3, 1), 22, "x")]))  # v3
        h = {r.version: r for r in t.history().collect()}
        assert h[1].rows_total == 8
        assert h[2].rows_total == 9 and h[3].rows_total == 9
        # v2 rewrote the buckets holding keys 1 and 9: one update, one
        # insert -> net +1 row
        if h[2].kind == "delta":
            assert h[2].num_rows_added - h[2].num_rows_removed == 1
        # soft delete keeps the row (liveness flip): net 0
        if h[3].kind == "delta":
            assert h[3].num_rows_added - h[3].num_rows_removed == 0
        # full documents restate everything: per-commit deltas are NULL
        for r in h.values():
            if r.kind != "delta":
                assert r.num_rows_added is None and r.num_rows_removed is None
        t.vacuum(keep_versions=2)
        h2 = {r.version: r for r in t.history().collect()}
        assert sorted(h2) == [2, 3]
        assert h2[2].rows_total == 9  # collapse regains totals as a full doc


def test_vacuum_is_distributed_on_pointer_layout(spark, tmp_table_dir, monkeypatch):
    """Vacuum on the pointer layout: referenced paths stay a DataFrame
    (listing ANTI JOIN referenced — the driver never holds a
    table-sized set), the oldest-kept-delta collapse is chain-built,
    and the whole run performs ZERO snapshot materializations — while
    reclaiming exactly what the materialized (inline-twin) path
    reclaims, with identical surviving reads."""
    ti = mk(spark, tmp_table_dir, "vi", manifest_parquet_threshold=10**9)
    tp = mk(spark, tmp_table_dir, "vp")
    _run_sequence(spark, ti)
    _run_sequence(spark, tp)
    want = {v: _state(tp, version=v) for v in (5, 6, 7)}

    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint", "_full_parts"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)
    fresh_p = mk(spark, tmp_table_dir, "vp")  # cold caches: honest pin
    rp = fresh_p.vacuum(keep_versions=3)  # keeps [5,6,7]; v5 is a delta
    assert calls == [], f"pointer vacuum materialized a snapshot: {calls}"
    monkeypatch.undo()
    ri = ti.vacuum(keep_versions=3)
    assert rp == ri and rp > 0

    reader = mk(spark, tmp_table_dir, "vp")
    log = reader._log
    assert log.versions() == [5, 6, 7]
    for v in (5, 6, 7):
        assert _state(reader, version=v) == want[v]
    with pytest.raises(FileNotFoundError):
        log._read_doc(4)
    # the collapsed v5 is now a self-contained full document
    assert "delta" not in log._read_doc(5)


def test_vacuum_listing_walk_is_executor_side(spark, tmp_table_dir, monkeypatch):
    """Structural pin for the r12 verdict ask #6: on an executor-
    reachable table filesystem (posix / ``file:``), vacuum's commits-
    tree listing walk runs as an EXECUTOR job — the driver-side spool
    walk (`_vacuum_listing_spool`, the only remaining O(files) driver
    iteration on this path) is never invoked — and the reclaim still
    equals the inline twin's."""
    ti = mk(spark, tmp_table_dir, "wi", manifest_parquet_threshold=10**9)
    tp = mk(spark, tmp_table_dir, "wp")
    _run_sequence(spark, ti)
    _run_sequence(spark, tp)

    def boom(self, *a, **kw):  # pragma: no cover - the pin
        raise AssertionError(
            "driver spool walk invoked on an executor-reachable FS"
        )

    monkeypatch.setattr(ManifestLog, "_vacuum_listing_spool", boom)
    rp = tp.vacuum(keep_versions=1)
    monkeypatch.undo()
    ri = ti.vacuum(keep_versions=1)
    assert rp == ri and rp > 0
    assert _state(tp) == _state(ti)
    # post-vacuum sidecar/data invariants: nothing referenced was lost
    reader = mk(spark, tmp_table_dir, "wp")
    assert reader.count_fast() == 10


def test_merge_half_never_resolves_snapshot(spark, tmp_table_dir, monkeypatch):
    """Structural pin for the r13 seam: the MERGE half of a steady-
    state pointer-layout write is bounded too — the WHOLE upsert /
    soft_delete (not just the publish half pinned above) performs ZERO
    full snapshot materializations.  The current-rows read routes
    through the bucket-pushdown mapping fetch
    (`bucket_mapping_distributed`) instead of resolving the full
    snapshot, which previously cost a `_load_parquet_checkpoint`
    (full checkpoint read + toArrow, O(files) driver memory) on EVERY
    commit."""
    t = mk(spark, tmp_table_dir, "mh")
    t.upsert(df(spark, SEED))                                      # v1
    t.upsert(df(spark, [(9, datetime(2024, 1, 6), 11, "i1")]))     # v2
    t.upsert(df(spark, [(1, datetime(2024, 2, 1), 12, "a2")]))     # v3 ckpt

    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint", "_full_parts"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)
    fresh = mk(spark, tmp_table_dir, "mh")  # cold caches: honest pin
    fresh.upsert(df(spark, [(2, datetime(2024, 3, 1), 30, "b9")]))      # v4
    fresh.soft_delete(df(spark, [(3, datetime(2024, 3, 2), 31, "x")]))  # v5
    assert calls == [], f"steady-state write materialized a snapshot: {calls}"
    monkeypatch.undo()
    got = _state(mk(spark, tmp_table_dir, "mh"))
    assert got[2] == ("b9", True)
    assert got[3][1] is False  # soft-deleted
    assert got[1] == ("a2", True) and got[9] == ("i1", True)
    assert len(got) == 9


def test_maybe_compact_check_is_bounded_on_pointer_layout(
    spark, tmp_table_dir, monkeypatch
):
    """The streaming auto-compaction cadence check (r13): on the
    pointer layout `maybe_compact`'s worst-bucket probe is one pruned
    aggregation (`files_per_bucket_max`) — never a full mapping
    materialization — and it answers exactly the materialized view's
    number on both layouts."""
    ti = mk(spark, tmp_table_dir, "ci", manifest_parquet_threshold=10**9)
    tp = mk(spark, tmp_table_dir, "cp")
    _run_sequence(spark, ti)
    _run_sequence(spark, tp)
    li, lp = ti._log, tp._log
    want = max(len(fl) for fl in li.read().values())
    fresh = mk(spark, tmp_table_dir, "cp")  # cold caches: honest pin
    lf = fresh._log
    got = lf.files_per_bucket_max(lf.latest_version())
    assert got == want, (got, want)

    calls: list[str] = []
    for name in ("_snapshot", "_load_parquet_checkpoint", "_full_parts"):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)
    fresh2 = mk(spark, tmp_table_dir, "cp")
    # threshold above the worst bucket: the check runs, no compaction
    assert fresh2.maybe_compact(max_files_per_bucket=want) is False
    assert calls == [], f"cadence check materialized a snapshot: {calls}"
    monkeypatch.undo()
    # and the policy still fires through the bounded check
    assert fresh2.maybe_compact(max_files_per_bucket=want - 1) is True
    assert _state(fresh2) == _state(ti)


def test_total_bytes_bounded_on_pointer_layout(
    spark, tmp_table_dir, monkeypatch
):
    """`total_bytes` (the `maybe_rebucket` cadence probe, which rides a
    long-lived stream's maintenance cadence) on the pointer layout is
    ONE executor stat job — it materializes no mapping and makes no
    per-file py4j round trips (the r14 fix: the old loop was
    resolve(read()) + getFileStatus PER FILE, an O(files) driver term
    per cadence).  Parity: equals the independently computed sum over
    the snapshot's resolved files."""
    t = mk(spark, tmp_table_dir, "tb")
    _run_sequence(spark, t)
    log = t._log
    want = sum(os.path.getsize(f) for f in log.resolve(log.read()))

    calls: list[str] = []
    for name in (
        "_snapshot", "_load_parquet_checkpoint", "_full_parts",
        "read", "resolve",
    ):
        real = getattr(ManifestLog, name)

        def spy(*a, _n=name, _r=real, **kw):
            calls.append(_n)
            return _r(*a, **kw)

        monkeypatch.setattr(ManifestLog, name, spy)
    fresh = mk(spark, tmp_table_dir, "tb")  # cold caches: honest pin
    got = fresh.total_bytes()
    assert calls == [], f"total_bytes materialized driver-side: {calls}"
    # the rebucket cadence probe itself stays bounded (no-op branch)
    assert fresh.maybe_rebucket(target_bucket_bytes=1 << 30) is False
    assert calls == [], f"maybe_rebucket probe materialized: {calls}"
    monkeypatch.undo()
    assert got == want, (got, want)
    # inline twin: the fallback loop still answers (bounded by the
    # threshold there by construction) and the two layouts agree on
    # identical content
    ti = mk(spark, tmp_table_dir, "tbi", manifest_parquet_threshold=10**9)
    _run_sequence(spark, ti)
    li = ti._log
    assert ti.total_bytes() == sum(
        os.path.getsize(f) for f in li.resolve(li.read())
    )


def test_rebucket_on_pointer_layout(spark, tmp_table_dir):
    """`rebucket` — the sanctioned resize for a growing table — composed
    with bounded commits: the resize publishes one full checkpoint
    (every bucket key changes, so a delta cannot express it), bounded
    delta commits RESUME after it against the new assignment, time
    travel across the resize still resolves the old layout, and a cold
    reopen under the new count reads the merged end state."""
    t = mk(spark, tmp_table_dir, "rb", num_buckets=2)
    t.upsert(df(spark, SEED))                                        # v1
    t.upsert(df(spark, [(1, datetime(2024, 1, 5), 10, "a2")]))       # v2
    t.rebucket(4)                                                    # v3
    log = t._log
    assert "checkpoint_parquet" in log._read_doc(3)
    # bounded commits resume post-resize (deltas, then the v6 cadence)
    t.upsert(df(spark, [(9, datetime(2024, 2, 1), 11, "i1")]))       # v4
    t.soft_delete(df(spark, [(2, datetime(2024, 2, 2), 12, "x")]))   # v5
    t.upsert(df(spark, [(3, datetime(2024, 2, 3), 13, "c2")]))       # v6
    assert "delta" in log._read_doc(4) and "delta" in log._read_doc(5)
    assert "checkpoint_parquet" in log._read_doc(6)

    reader = mk(spark, tmp_table_dir, "rb", num_buckets=4)
    got = _state(reader)
    assert got[1] == ("a2", True) and got[9] == ("i1", True)
    assert got[2][1] is False and got[3] == ("c2", True)
    assert len(got) == 9
    # pre-resize version still reads under the OLD assignment
    assert sorted(
        r.pkey for r in reader.read(version=2).collect()
    ) == list(range(1, 9))
    # reopening with the stale count is a loud construction error
    with pytest.raises(ValueError, match="rebucket"):
        mk(spark, tmp_table_dir, "rb", num_buckets=2)


def test_cdc_reads_on_pointer_layout(spark, tmp_table_dir):
    """The CDC surface composed with bounded commits: `read_changes`
    over a delta-document range answers exactly the inline-layout
    table's change set (a collapsed endpoint diff tagged with the `to`
    version), and a `ChangeReplicator` follows a
    pointer-layout source to convergence commit-by-commit, across the
    cadence checkpoint and a compaction no-op delta."""
    from quick_stream_spark.operators.replicate import ChangeReplicator

    tp = mk(spark, tmp_table_dir, "src")
    ti = mk(spark, tmp_table_dir, "twin", manifest_parquet_threshold=10**9)
    rep = ChangeReplicator(
        tp, mk(spark, tmp_table_dir, "rep", manifest_parquet_threshold=10**9)
    )
    ops = [
        lambda t: t.upsert(df(spark, SEED)),                              # v1
        lambda t: t.upsert(df(spark, [(1, datetime(2024, 1, 5), 10, "a2"),
                                      (9, datetime(2024, 1, 6), 11, "i1")])),
        lambda t: t.soft_delete(df(spark, [(2, datetime(2024, 2, 1), 12, "x")])),
        lambda t: t.compact(),                                            # v4
        lambda t: t.upsert(df(spark, [(3, datetime(2024, 2, 2), 13, "c2")])),
    ]
    for op in ops:
        op(tp)
        op(ti)
        assert rep.sync() >= 0
        assert _state(rep.replica) == _state(tp)
    changes_p = sorted(
        tuple(r) for r in tp.read_changes(1, 5).collect()
    )
    changes_i = sorted(
        tuple(r) for r in ti.read_changes(1, 5).collect()
    )
    assert changes_p == changes_i and len(changes_p) > 0
