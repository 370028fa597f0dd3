"""End-state contract tests for KeyedTable (SURVEY.md §2 query-semantics
note): after any batch sequence, one row per key with the winning
record's values; soft-deleted keys keep their row with row_active=false."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.operators.merge import BUCKET_COL, KeyedTable

SCHEMA = "pkey long, modified_date timestamp, arrival long, payload string"


@pytest.fixture(params=["manifest"])
def commit_protocol(request):
    """Commit-protocol axis of the MERGE contract tests: one value, the
    manifest snapshot log every write publishes through."""
    return request.param


@pytest.fixture()
def table(spark, tmp_table_dir, commit_protocol):
    return KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        commit_protocol=commit_protocol,
    )


@pytest.fixture()
def ptable(spark, tmp_table_dir):
    """Table for tests of the physical layout itself (bucket pruning,
    per-bucket file lists, compaction, write-plan shape)."""
    return KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
    )


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def state(table):
    return {r.pkey: (r.payload, r.row_active) for r in table.read().collect()}


def test_upsert_creates_then_updates(spark, table):
    table.upsert(
        df(
            spark,
            [
                (1, datetime(2024, 1, 1), 1, "a"),
                (1, datetime(2024, 1, 1, 0, 0, 1), 2, "b"),
                (2, datetime(2024, 1, 1, 0, 0, 2), 3, "c"),
            ],
        )
    )
    assert state(table) == {1: ("b", True), 2: ("c", True)}
    table.upsert(df(spark, [(2, datetime(2024, 1, 2), 4, "c2"), (3, datetime(2024, 1, 2), 5, "d")]))
    assert state(table) == {1: ("b", True), 2: ("c2", True), 3: ("d", True)}


def test_batch_wins_reproduces_on_conflict_do_update(spark, table):
    """Faithful mode: an older record in a later batch still overwrites
    (the reference's SQL updates unconditionally on conflict)."""
    table.upsert(df(spark, [(1, datetime(2024, 1, 5), 1, "new")]))
    table.upsert(df(spark, [(1, datetime(2024, 1, 1), 2, "old")]))
    assert state(table) == {1: ("old", True)}


def test_newer_wins_guard(spark, table):
    table.upsert(df(spark, [(1, datetime(2024, 1, 5), 1, "new")]), newer_wins=True)
    table.upsert(df(spark, [(1, datetime(2024, 1, 1), 2, "old")]), newer_wins=True)
    assert state(table) == {1: ("new", True)}
    # equal version: current wins (strict > guard)
    table.upsert(df(spark, [(1, datetime(2024, 1, 5), 3, "tie")]), newer_wins=True)
    assert state(table) == {1: ("new", True)}


def test_soft_delete_keeps_row_marks_inactive(spark, table):
    table.upsert(df(spark, [(1, datetime(2024, 1, 1), 1, "a"), (2, datetime(2024, 1, 1), 2, "b")]))
    table.soft_delete(df(spark, [(2, datetime(2024, 1, 2), 3, None)]))
    assert state(table) == {1: ("a", True), 2: ("b", False)}
    # re-upsert reactivates with new values (DO UPDATE sets all columns)
    table.upsert(df(spark, [(2, datetime(2024, 1, 3), 4, "b2")]))
    assert state(table) == {1: ("a", True), 2: ("b2", True)}


def test_soft_delete_nonexistent_key_is_noop(spark, table):
    table.upsert(df(spark, [(1, datetime(2024, 1, 1), 1, "a")]))
    table.soft_delete(df(spark, [(99, datetime(2024, 1, 2), 2, None)]))
    assert state(table) == {1: ("a", True)}


def test_hard_delete_removes_rows(spark, table):
    table.upsert(
        df(
            spark,
            [(k, datetime(2024, 1, 1), k, f"p{k}") for k in range(10)],
        )
    )
    table.hard_delete(df(spark, [(k, datetime(2024, 1, 2), 100 + k, None) for k in range(5)]))
    assert set(state(table)) == {5, 6, 7, 8, 9}


def test_hard_delete_all_rows_empties_table(spark, table):
    table.upsert(df(spark, [(1, datetime(2024, 1, 1), 1, "a")]))
    table.hard_delete(df(spark, [(1, datetime(2024, 1, 2), 2, None)]))
    # the emptied bucket has no files in the new snapshot
    assert table.file_count() == 0
    assert table.read().count() == 0


def test_merge_touches_only_affected_buckets(spark, ptable):
    """Scale contract: a batch replaces only the buckets its keys hash
    into — every untouched bucket keeps its exact file list, and those
    files are not rewritten."""
    ptable.upsert(df(spark, [(k, datetime(2024, 1, 1), k, f"p{k}") for k in range(64)]))
    before = ptable._log.read()
    assert len(before) == 4  # all buckets populated
    mtimes = {
        p: os.path.getmtime(os.path.join(ptable.path, p))
        for files in before.values()
        for p in files
    }

    one_key = df(spark, [(0, datetime(2024, 1, 2), 999, "upd")])
    bucket_of_0 = one_key.select(
        F.pmod(F.xxhash64(F.col("pkey")), F.lit(4)).cast("int")
    ).collect()[0][0]
    ptable.upsert(one_key)

    after = ptable._log.read()
    assert after[bucket_of_0] != before[bucket_of_0]
    for b, files in before.items():
        if b == bucket_of_0:
            continue
        assert after[b] == files, f"untouched bucket {b} was rewritten"
        for p in files:
            assert os.path.getmtime(os.path.join(ptable.path, p)) == mtimes[p]


def test_merge_read_is_partition_pruned(spark, ptable):
    """The touched-bucket read must prune to the bucket's own files:
    the scan opens only files under the touched ``__qss_bucket=1``
    partition directories, so a merge never reads untouched buckets."""
    from datetime import datetime as dt

    ptable.upsert(df(spark, [(k, dt(2024, 1, 1), k, f"p{k}") for k in range(64)]))
    pruned, _ = ptable._read_current_buckets([1])
    files = pruned.inputFiles()
    assert files
    assert all(f"/{BUCKET_COL}=1/" in f for f in files), files


def test_compact_restores_one_file_per_bucket(spark, ptable):
    """Merges append files to touched buckets; compact() must rewrite
    each bucket to one file with values untouched."""
    # AQE coalesces tiny merges to one task per bucket, so force the
    # multi-file state a high-frequency merge stream produces at scale
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for b in range(4):
            ptable.upsert(
                df(
                    spark,
                    [(k, datetime(2024, 1, 1 + b), 100 * b + k, f"v{b}-{k}") for k in range(16)],
                )
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    before_rows = {(r.pkey, r.payload) for r in ptable.read().collect()}
    assert ptable.file_count() > 4  # merge growth happened
    ptable.compact()
    assert ptable.file_count() == 4  # one file per bucket
    after_rows = {(r.pkey, r.payload) for r in ptable.read().collect()}
    assert after_rows == before_rows


def test_composite_keys(spark, tmp_table_dir, commit_protocol):
    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "ck"),
        keys=("k1", "k2"),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol=commit_protocol,
    )
    schema = "k1 long, k2 string, modified_date timestamp, arrival long, v string"
    t.upsert(spark.createDataFrame([(1, "x", datetime(2024, 1, 1), 1, "a")], schema))
    t.upsert(spark.createDataFrame([(1, "y", datetime(2024, 1, 1), 2, "b")], schema))
    t.upsert(spark.createDataFrame([(1, "x", datetime(2024, 1, 2), 3, "a2")], schema))
    got = {(r.k1, r.k2): r.v for r in t.read().collect()}
    assert got == {(1, "x"): "a2", (1, "y"): "b"}


def test_schema_evolution_adds_column(spark, tmp_table_dir, commit_protocol):
    """A batch with a new column evolves the table; old winners read
    back NULL for it — including rows in buckets the evolving batch
    never rewrote (NULL-filled via the sidecar schema at read time)."""
    from pyspark.sql import functions as F

    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "evo"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=4,
        commit_protocol=commit_protocol,
    )
    base = df(spark, [(k, datetime(2024, 1, 1), k, f"v{k}") for k in range(16)])
    t.upsert(base, newer_wins=True)
    # evolve with a single-key batch: most buckets stay untouched
    evolved = df(spark, [(1, datetime(2024, 1, 2), 100, "new")]).withColumn(
        "score", F.lit(9.5)
    )
    t.upsert(evolved, newer_wins=True)
    rows = {r.pkey: (r.payload, r.score) for r in t.read().collect()}
    assert rows[1] == ("new", 9.5)
    assert rows[2] == ("v2", None)  # untouched bucket, NULL-filled
    assert len(rows) == 16


def test_missing_columns_fail_fast_unless_allowed(spark, tmp_table_dir, commit_protocol):
    import pytest as _pytest

    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "miss"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol=commit_protocol,
    )
    t.upsert(df(spark, [(1, datetime(2024, 1, 1), 1, "a")]))
    partial = spark.createDataFrame(
        [(2, datetime(2024, 1, 2), 2)], "pkey long, modified_date timestamp, arrival long"
    )
    with _pytest.raises(ValueError, match="missing table columns"):
        t.upsert(partial)
    t.upsert(partial, allow_missing_columns=True)
    rows = {r.pkey: r.payload for r in t.read().collect()}
    assert rows == {1: "a", 2: None}


def test_merge_observation_metrics(spark, table):
    """Every upsert refreshes last_merge_stats via Observation metrics
    (executor-side, no extra job) — the reference's per-cycle upsert
    count logs."""
    from datetime import datetime as dt

    table.upsert(df(spark, [(1, dt(2024, 1, 1), 1, "a"), (2, dt(2024, 1, 1), 2, "b")]))
    assert table.last_merge_stats == {"rows_written": 2, "rows_active": 2}
    table.upsert(df(spark, [(3, dt(2024, 1, 2), 3, "c")]))
    # merge rewrites only touched buckets: written = bucket residents
    assert table.last_merge_stats["rows_written"] >= 1
    assert table.last_merge_stats["rows_active"] == table.last_merge_stats["rows_written"]


def test_pre_reduce_upsert_matches_plain_path(spark, tmp_table_dir):
    """The hot-key skew guard (map-side max_by pre-reduce) must produce
    the identical end state as the plain merge window — including
    equal-version ties (earliest arrival wins) and batch-wins vs
    newer-wins — on a batch where one key carries most of the rows."""
    import os
    from datetime import datetime, timedelta

    from quick_stream_spark.operators.merge import KeyedTable

    base = datetime(2024, 1, 1)
    # viral key 7: many updates, with version ties at the top
    hot = [(7, base + timedelta(hours=min(i, 50)), i, f"h{i}") for i in range(200)]
    cold = [(k, base + timedelta(hours=k), 1000 + k, f"c{k}") for k in range(10)]
    first = [(7, base, 0, "seed"), (3, base, 1, "seed3")]

    states = {}
    for variant, pre in (("plain", False), ("reduced", True)):
        for nw in (False, True):
            t = KeyedTable(
                spark,
                os.path.join(tmp_table_dir, f"t_{variant}_{nw}"),
                keys=("pkey",),
                version_col="modified_date",
                arrival_col="arrival",
                num_buckets=4,
            )
            schema = "pkey long, modified_date timestamp, arrival long, payload string"
            t.upsert(spark.createDataFrame(first, schema))
            t.upsert(
                spark.createDataFrame(hot + cold, schema),
                newer_wins=nw,
                pre_reduce=pre,
            )
            states[(variant, nw)] = {
                r.pkey: (r.modified_date, r.arrival, r.payload)
                for r in t.read().collect()
            }
    assert states[("plain", False)] == states[("reduced", False)]
    assert states[("plain", True)] == states[("reduced", True)]
    # the tie rule itself: among the capped-version rows of the hot key,
    # the EARLIEST arrival at the max version wins
    assert states[("plain", True)][7][1] == 50


def test_maybe_compact_policy(spark, tmp_table_dir):
    """Auto-compaction fires only past the per-bucket file threshold,
    preserves values, and is metadata-cheap when below it."""
    import os
    from datetime import datetime

    from quick_stream_spark.operators.merge import KeyedTable

    t = KeyedTable(
        spark,
        os.path.join(tmp_table_dir, "mc"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=1,  # every merge appends files to the same bucket
    )
    schema = "pkey long, modified_date timestamp, arrival long, payload string"
    # AQE coalescing collapses tiny merges to one task file; disable
    # it so the merge writes several task-aligned files per bucket
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.upsert(
            spark.createDataFrame(
                [(k, datetime(2024, 1, 1), k, f"p{k}") for k in range(64)],
                schema,
            ).repartition(8)
        )
        t.upsert(
            spark.createDataFrame(
                [(k, datetime(2024, 1, 2), 100 + k, f"q{k}") for k in range(64)],
                schema,
            ).repartition(8)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    assert t.file_count() > 1
    before = {r.pkey: r.payload for r in t.read().collect()}
    assert t.maybe_compact(max_files_per_bucket=100) is False  # under threshold
    assert t.maybe_compact(max_files_per_bucket=1) is True
    assert {r.pkey: r.payload for r in t.read().collect()} == before


def test_delete_paths_skip_cosmetic_bucket_repartition(spark, ptable):
    """soft_delete / hard_delete must commit without a bucket
    repartition, like the upsert path: their key-joins already leave
    rows bucket-coherent, so a bucket re-shuffle before the write is a
    full extra exchange per delete batch.  Pinned on the plan actually
    handed to the commit: no RoundRobin/bucket repartition exchange."""
    ptable.upsert(df(spark, [(k, datetime(2024, 1, 1), k, f"p{k}") for k in range(20)]))
    seen = []
    orig = ptable._write_manifest_commit

    def spy(frame, *args, **kwargs):
        seen.append(frame._jdf.queryExecution().executedPlan().toString())
        return orig(frame, *args, **kwargs)

    ptable._write_manifest_commit = spy
    try:
        ptable.soft_delete(df(spark, [(1, datetime(2024, 2, 1), 30, "x")]))
        ptable.hard_delete(df(spark, [(2, datetime(2024, 2, 2), 31, "x")]))
    finally:
        ptable._write_manifest_commit = orig
    assert len(seen) == 2
    for plan in seen:
        # an explicit .repartition(bucket) shuffle would print with the
        # REPARTITION_BY_COL origin; join-required ENSURE_REQUIREMENTS
        # exchanges are legitimate and ignored
        assert "REPARTITION_BY_COL" not in plan, plan
    assert state(ptable)[1] == ("p1", False)
    assert 2 not in state(ptable)
