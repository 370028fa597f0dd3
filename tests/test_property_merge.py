"""Property-based end-state testing: random sequences of upsert /
soft-delete / hard-delete batches applied BOTH to KeyedTable and to an
independent in-memory model of the reference's semantics
(ON CONFLICT DO UPDATE + soft deleter, SURVEY.md §2 semantics note).
The reference has no property tests (SURVEY §5); this exceeds its
strategy by checking every reachable end state, not just fixtures.

Spark round-trips are slow, so the generator favors FEW, DENSE cases:
small key spaces (forcing collisions), small version spaces (forcing
ties), and mixed operation sequences.
"""

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from quick_stream_spark.operators.merge import KeyedTable

BASE = datetime(2024, 1, 1)

# a record: (key in tiny space, version in tiny space, payload tag)
record = st.tuples(
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=99),
)
batch = st.lists(record, min_size=1, max_size=6)
operation = st.tuples(st.sampled_from(["upsert", "soft", "hard"]), batch)
scenario = st.tuples(st.lists(operation, min_size=1, max_size=4), st.booleans())


class Model:
    """The reference's end-state semantics in plain Python."""

    def __init__(self, newer_wins: bool) -> None:
        self.rows: dict[int, tuple] = {}  # key -> (version, arrival, payload, active)
        self.newer_wins = newer_wins

    @staticmethod
    def _dedup(records):
        best = {}
        for arrival, (k, v, p) in enumerate(records):
            if k not in best:
                best[k] = (v, arrival, p)
            else:
                bv, ba, bp = best[k]
                # newest version wins; equal versions -> earliest arrival
                if v > bv:
                    best[k] = (v, arrival, p)
        return best

    def upsert(self, records):
        for k, (v, arrival, p) in self._dedup(records).items():
            if k not in self.rows:
                self.rows[k] = (v, arrival, p, True)
            else:
                cv = self.rows[k][0]
                if not self.newer_wins or v > cv:
                    self.rows[k] = (v, arrival, p, True)

    def soft(self, records):
        for k in self._dedup(records):
            if k in self.rows:
                r = self.rows[k]
                self.rows[k] = (r[0], r[1], r[2], False)

    def hard(self, records):
        for k in self._dedup(records):
            self.rows.pop(k, None)

    def state(self):
        return {k: (r[0], r[2], r[3]) for k, r in self.rows.items()}


@pytest.mark.slow
@pytest.mark.parametrize("protocol", ["manifest"])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=scenario)
def test_end_state_matches_reference_model(spark, tmp_path_factory, protocol, scenario):
    """The storage path must reproduce the reference end-state
    semantics row for row."""
    ops, newer_wins = scenario
    work = tmp_path_factory.mktemp("prop")
    table = KeyedTable(
        spark,
        str(work / "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol=protocol,
    )
    model = Model(newer_wins)
    arrival_base = 0
    for op, records in ops:
        rows = [
            (k, BASE + timedelta(hours=v), arrival_base + i, f"p{p}")
            for i, (k, v, p) in enumerate(records)
        ]
        df = spark.createDataFrame(
            rows, "pkey long, modified_date timestamp, arrival long, payload string"
        )
        if op == "upsert":
            table.upsert(df, newer_wins=newer_wins)
            model.upsert(records)
        elif op == "soft":
            table.soft_delete(df)
            model.soft(records)
        else:
            table.hard_delete(df)
            model.hard(records)
        arrival_base += len(records)

    if not table.exists():
        assert model.state() == {}
        return
    got = {
        r.pkey: ((r.modified_date - BASE).total_seconds() / 3600, r.payload, r.row_active)
        for r in table.read().collect()
    }
    expected = {k: (float(v), f"p{p}", active) for k, (v, p, active) in model.state().items()}
    assert got == expected


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=scenario)
def test_cdc_delta_reproduces_every_snapshot_transition(
    spark, tmp_path_factory, scenario
):
    """read_changes is checked against time travel for EVERY adjacent
    snapshot pair a random operation sequence produces: applying the
    delta (inserts + postimages upserted, deletes removed) to snapshot
    N must reproduce snapshot N+1 exactly, and every preimage must
    equal the row it replaced."""
    ops, newer_wins = scenario
    work = tmp_path_factory.mktemp("cdcprop")
    table = KeyedTable(
        spark,
        str(work / "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol="manifest",
    )
    arrival_base = 0
    for op, records in ops:
        rows = [
            (k, BASE + timedelta(hours=v), arrival_base + i, f"p{p}")
            for i, (k, v, p) in enumerate(records)
        ]
        df = spark.createDataFrame(
            rows, "pkey long, modified_date timestamp, arrival long, payload string"
        )
        if op == "upsert":
            table.upsert(df, newer_wins=newer_wins)
        elif op == "soft":
            table.soft_delete(df)
        else:
            table.hard_delete(df)
        arrival_base += len(records)

    if not table.exists():
        return
    versions = table.snapshot_versions()

    def snap(v):
        return {
            r.pkey: (r.modified_date, r.arrival, r.payload, r.row_active)
            for r in table.read(version=v).collect()
        }

    for va, vb in zip(versions, versions[1:]):
        before, after = snap(va), snap(vb)
        rebuilt = dict(before)
        for r in table.read_changes(va, vb).collect():
            row = (r.modified_date, r.arrival, r.payload, r.row_active)
            if r._change_type == "delete":
                assert rebuilt.pop(r.pkey) == row
            elif r._change_type == "update_preimage":
                assert before[r.pkey] == row
            else:  # insert / update_postimage
                rebuilt[r.pkey] = row
        assert rebuilt == after, f"delta {va}->{vb} does not reproduce snapshot"


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=scenario)
def test_cdc_consumers_converge_on_random_histories(
    spark, tmp_path_factory, scenario
):
    """Both CDC consumers ride the same random history's feed:
    ChangeReplicator's replica must equal the source table row for row,
    and CdcAggView must equal the direct aggregate of the source's
    active rows — after a mid-history sync AND at the end (resume path
    exercised by construction)."""
    from quick_stream_spark.operators.replicate import ChangeReplicator
    from quick_stream_spark.streaming.matview import CdcAggView

    ops, newer_wins = scenario
    work = tmp_path_factory.mktemp("cdccons")
    table = KeyedTable(
        spark,
        str(work / "t"),
        keys=("pkey",),
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol="manifest",
    )
    rep = ChangeReplicator(
        table,
        KeyedTable(
            spark,
            str(work / "r"),
            keys=("pkey",),
            version_col="modified_date",
            arrival_col="arrival",
            num_buckets=2,
        ),
    )
    view = CdcAggView(table, str(work / "v"), ["payload"], "arrival")

    def check():
        rep.sync()
        view.sync()
        if not table.exists():
            return
        src = {
            r.pkey: (r.modified_date, r.arrival, r.payload, r.row_active)
            for r in table.read().collect()
        }
        got = {
            r.pkey: (r.modified_date, r.arrival, r.payload, r.row_active)
            for r in rep.replica.read().collect()
        } if rep.replica.exists() else {}
        assert got == src
        from pyspark.sql import functions as F

        direct = {
            r.payload: (r.n, r.s)
            for r in table.read(active_only=True)
            .groupBy("payload")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("arrival").cast("decimal(18,2)"))
                .cast("double")
                .alias("s"),
            )
            .collect()
        }
        got_view = {r.payload: (r.n, r.sum_value) for r in view.read().collect()}
        assert got_view == direct

    arrival_base = 0
    for i, (op, records) in enumerate(ops):
        rows = [
            (k, BASE + timedelta(hours=v), arrival_base + j, f"p{p}")
            for j, (k, v, p) in enumerate(records)
        ]
        df = spark.createDataFrame(
            rows, "pkey long, modified_date timestamp, arrival long, payload string"
        )
        if op == "upsert":
            table.upsert(df, newer_wins=newer_wins)
        elif op == "soft":
            table.soft_delete(df)
        else:
            table.hard_delete(df)
        arrival_base += len(records)
        if i == 0:
            check()  # mid-history sync: later syncs exercise resume
    check()
