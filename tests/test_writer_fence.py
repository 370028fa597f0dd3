"""WriterFence: two writers sharing one state directory must FAIL
LOUDLY instead of corrupting (r7 verdict ask #4).  The claim is LAZY
(ADVICE r8): an index claims its ``work_dir`` at its FIRST MUTATION
(fence.ensure), not at construction, so a read-only instance (query-only
monitoring) never fences out — and kills — the live writer.  A second
WRITER still takes the directory over at its first write (fencing
token, epoch bump); the superseded writer's next batch or compaction
raises ``RuntimeError`` instead of racing the newcomer's append/prune
jobs.  Checkpoint-resume (a fresh instance continuing a drained
predecessor) keeps working — takeover is the resume mechanism."""

import tempfile

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.sources.readers import (
    load_table,
    stream_parquet_dir,
    write_split_as_files,
)
from quick_stream_spark.streaming.distinct_index import StreamingDistinctCounter
from quick_stream_spark.streaming.stream import WriterFence
from tests.conftest import SF_SMOKE


def _counter(spark, work, name):
    c = StreamingDistinctCounter(
        spark, work + "/state", key_col="event_id", p=10
    )
    c.config.checkpoint_dir = work + f"/ckpt-{name}"
    return c


def test_second_writer_fences_out_the_first(spark):
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    work = tempfile.mkdtemp(prefix="qss-fence-")
    write_split_as_files(ev, F.col("event_id") % 2, 2, work + "/in")

    first = _counter(spark, work, "a")
    first.run(
        stream_parquet_dir(spark, work + "/in", ev.schema),
        available_now=True,
    )  # first mutation = claim

    second = _counter(spark, work, "b")
    # construction alone claims nothing (lazy fence)...
    assert second._fence.token is None
    # ...the takeover happens at the second writer's first batch
    second.run(
        stream_parquet_dir(spark, work + "/in", ev.schema),
        available_now=True,
    )
    assert second._fence.epoch == first._fence.epoch + 1

    # the superseded writer dies loudly at its next batch (fresh input
    # so its drained checkpoint actually schedules one)...
    write_split_as_files(ev, F.col("event_id") % 2, 2, work + "/in2")
    stream = stream_parquet_dir(spark, work + "/in2", ev.schema)
    with pytest.raises(Exception, match="fenced out"):
        first.run(stream, available_now=True)
    # ...and at a manual maintenance pass
    first._log_exists = True
    with pytest.raises(RuntimeError, match="fenced out"):
        first.compact()

    # the current holder works normally
    second.compact()
    assert second.estimate().count() == 1


def test_read_only_instance_never_fences_the_writer(spark):
    """ADVICE r8: instantiating an index merely to QUERY existing state
    must not kill the live writer's stream at its next batch."""
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    work = tempfile.mkdtemp(prefix="qss-fence-ro-")
    write_split_as_files(ev, F.col("event_id") % 2, 2, work + "/in")

    writer = _counter(spark, work, "w")
    writer.run(
        stream_parquet_dir(spark, work + "/in", ev.schema),
        available_now=True,
    )

    reader = _counter(spark, work, "ro")
    n = reader.estimate().count()  # pure read: no claim, no epoch bump
    assert n == 1 and reader._fence.token is None

    # the live writer keeps appending and compacting, unfenced
    write_split_as_files(ev, F.col("event_id") % 2, 2, work + "/in2")
    writer.run(
        stream_parquet_dir(spark, work + "/in2", ev.schema),
        available_now=True,
    )
    writer.compact()
    assert writer.estimate().count() == 1


def test_checkpoint_resume_still_works_via_takeover(spark):
    """The resume pattern (fresh instance, same work_dir, same
    checkpoint) is takeover by design: the predecessor drained and
    never writes again, so nothing is fenced."""
    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    work = tempfile.mkdtemp(prefix="qss-fence-resume-")
    write_split_as_files(ev, F.col("event_id") % 2, 2, work + "/in")

    first = _counter(spark, work, "a")
    first.run(
        stream_parquet_dir(spark, work + "/in", ev.schema),
        available_now=True,
    )
    est_before = first.estimate().collect()[0]

    resumed = _counter(spark, work, "a")  # same checkpoint: true resume
    resumed.run(
        stream_parquet_dir(spark, work + "/in", ev.schema),
        available_now=True,
    )
    est_after = resumed.estimate().collect()[0]
    assert est_after == est_before  # replay is a no-op, state intact


def test_fence_epoch_survives_marker_and_is_claimable_when_absent(spark):
    work = tempfile.mkdtemp(prefix="qss-fence-unit-")
    f1 = WriterFence(spark, work)
    f1.ensure()  # first mutation-gate call claims
    f1.check()  # own claim passes
    f2 = WriterFence(spark, work)
    f2.ensure()  # second writer's first mutation takes over
    assert f2.epoch == f1.epoch + 1
    f2.ensure()  # later calls verify, not re-claim
    assert f2.epoch == f1.epoch + 1
    with pytest.raises(RuntimeError, match="fenced out"):
        f1.ensure()
    with pytest.raises(RuntimeError, match="fenced out"):
        f1.check()


def test_simultaneous_takeovers_exactly_one_wins(spark):
    """Two takeovers that both read the same epoch (the interleaving of
    two writers starting at once) race for the same epoch marker; the
    put-if-absent claim lets exactly one win and the other raises,
    instead of both believing they hold epoch N+1."""
    work = tempfile.mkdtemp(prefix="qss-fence-race-")
    holder = WriterFence(spark, work)
    holder.ensure()
    seen = holder._read()

    def reads_stale_epoch_first(fence):
        # the first read (takeover's epoch probe) returns the marker as
        # it stood before either claim; later reads are real
        real = fence._read
        calls = []

        def read():
            calls.append(1)
            return seen if len(calls) == 1 else real()

        fence._read = read
        return fence

    a = reads_stale_epoch_first(WriterFence(spark, work))
    b = reads_stale_epoch_first(WriterFence(spark, work))
    a.ensure()
    with pytest.raises(RuntimeError, match=f"claimed epoch {holder.epoch + 1}"):
        b.ensure()
    assert a.epoch == holder.epoch + 1 and b.token is None
    assert WriterFence(spark, work)._read()["token"] == a.token
    a.check()  # the winner holds the directory
    with pytest.raises(RuntimeError, match="fenced out"):
        holder.check()
    # older markers are pruned once the claim has landed
    assert sorted(WriterFence(spark, work)._markers()) == [a.epoch]
