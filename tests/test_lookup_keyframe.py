"""The point-lookup key frame (``KeyedTable._lookup_plan``): the key
list is a local relation built from an Arrow table typed by the key
schema, so planning runs no Spark job and ``lookup()`` runs at most two
on a manifest table.  Every key type must resolve exactly the rows that
an equality filter over ``read()`` finds, and the old type contract
holds: a wrong-typed key raises ``TypeError`` instead of being coerced."""

import os
import time
from datetime import date, datetime
from functools import reduce

import pytest
from pyspark.sql import functions as F

from quick_stream_spark.operators.merge import KeyedTable


def _table(spark, root, name, keys, ddl, rows):
    t = KeyedTable(
        spark,
        os.path.join(root, name),
        keys=keys,
        version_col="modified_date",
        arrival_col="arrival",
        num_buckets=2,
        commit_protocol="manifest",
    )
    t.upsert(spark.createDataFrame(rows, ddl))
    return t


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran) via a unique job group."""
    sc = spark.sparkContext
    group = f"keyframe-{time.time_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _expected(t, key_values):
    """Rows of ``read(active_only=True)`` whose key equals one of
    ``key_values`` -- the reference ``lookup()`` must equal."""
    tuples = [k if isinstance(k, tuple) else (k,) for k in key_values]
    cond = reduce(
        lambda a, b: a | b,
        [
            reduce(
                lambda a, b: a & b,
                [F.col(c) == F.lit(v) for c, v in zip(t.keys, tup)],
            )
            for tup in tuples
        ],
    )
    return sorted(tuple(r) for r in t.read(active_only=True).filter(cond).collect())


def _got(t, key_values):
    return sorted(tuple(r) for r in t.lookup(key_values).collect())


@pytest.fixture(scope="module")
def bigint_table(spark, tmp_path_factory):
    rows = [(i, datetime(2024, 1, 1), i, f"p{i}") for i in range(20)]
    return _table(
        spark, str(tmp_path_factory.mktemp("keyframe")), "bigint", ("pkey",),
        "pkey long, modified_date timestamp, arrival long, payload string",
        rows,
    )


def test_planning_runs_no_job_and_lookup_at_most_two(spark, bigint_table):
    t = bigint_table
    keys = [3, 7, 11, 404]
    t.lookup(keys).collect()  # warm the snapshot cache and the sidecars
    (_, ids, _), n_plan = _jobs(
        spark, lambda: t._lookup_plan(keys, t._log.latest_version())
    )
    assert n_plan == 0
    assert ids
    rows, n_lookup = _jobs(spark, lambda: t.lookup(keys).collect())
    assert n_lookup <= 2
    assert sorted(r.pkey for r in rows) == [3, 7, 11]


def test_snapshot_version_is_listed_once(bigint_table, monkeypatch):
    """``lookup()`` and ``lookup_stats()`` resolve the snapshot version
    with one manifest listing and pass it down, so planning and the scan
    read one snapshot."""
    t = bigint_table
    listings = []
    real = type(t._log).versions

    def counted(self):
        listings.append(1)
        return real(self)

    monkeypatch.setattr(type(t._log), "versions", counted)
    t.lookup([1, 2]).collect()
    assert len(listings) == 1
    listings.clear()
    t.lookup_stats([1, 2])
    assert len(listings) == 1


def test_bigint_keys_equal_filtered_read(bigint_table):
    keys = [0, 5, 19, 999]
    assert _got(bigint_table, keys) == _expected(bigint_table, keys)


def test_empty_key_list_returns_empty_frame_with_table_columns(bigint_table):
    out = bigint_table.lookup([])
    assert out.columns == bigint_table.read().columns
    assert out.count() == 0


def test_wrong_typed_key_still_raises_type_error(bigint_table):
    with pytest.raises(TypeError):
        bigint_table.lookup(["7"])


def test_composite_string_bigint_keys_with_quotes(spark, tmp_path_factory):
    names = ["o'brien", 'say "hi"', "plain"]
    rows = [
        (n, i, datetime(2024, 1, 1), i, f"{n}/{i}")
        for n in names
        for i in range(3)
    ]
    t = _table(
        spark, str(tmp_path_factory.mktemp("keyframe")), "composite",
        ("name", "pkey"),
        "name string, pkey long, modified_date timestamp, arrival long, "
        "payload string",
        rows,
    )
    keys = [("o'brien", 1), ('say "hi"', 2), ("plain", 0), ("o'brien", 9)]
    got = _got(t, keys)
    assert got == _expected(t, keys)
    assert {r[0] for r in got} == {"o'brien", 'say "hi"', "plain"}


def test_date_keys_equal_filtered_read(spark, tmp_path_factory):
    rows = [
        (date(2024, 1, 1 + i), datetime(2024, 2, 1), i, f"d{i}")
        for i in range(10)
    ]
    t = _table(
        spark, str(tmp_path_factory.mktemp("keyframe")), "date", ("d",),
        "d date, modified_date timestamp, arrival long, payload string",
        rows,
    )
    keys = [date(2024, 1, 2), date(2024, 1, 9), date(1999, 1, 1)]
    got = _got(t, keys)
    assert got == _expected(t, keys)
    assert len(got) == 2


def test_timestamp_key_read_back_under_non_utc_session_zone(
    spark, tmp_path_factory
):
    """A timestamp key collected from the table (a naive Python
    datetime) and handed back to ``lookup()`` must find its row under a
    session time zone other than UTC -- the key frame converts it
    exactly as ``createDataFrame`` does for Python rows."""
    rows = [
        (datetime(2024, 3, 10, 1 + i, 30), datetime(2024, 4, 1), i, f"t{i}")
        for i in range(6)
    ]
    t = _table(
        spark, str(tmp_path_factory.mktemp("keyframe")), "ts", ("ts",),
        "ts timestamp, modified_date timestamp, arrival long, payload string",
        rows,
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        back = sorted(r.ts for r in t.read().select("ts").collect())
        keys = [back[1], back[4]]
        got = _got(t, keys)
        assert got == _expected(t, keys)
        assert len(got) == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
