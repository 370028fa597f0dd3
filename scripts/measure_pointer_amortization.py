"""Pointer-leg amortization measurement (r13 verdict ask #3): the
bounded-commit claim is spy-pinned structurally (zero snapshot
materializations per steady-state commit), but not yet a measured
SCALING fact.  This runs the benched pointer leg's 4-commit sequence
(manifest_parquet_threshold=0, checkpoint cadence 3 — delta, delta,
checkpoint, delta) at 1x and ~10x the sf0.1 events rows (replicated
with offset key/arrival spaces so key count scales with volume, the
way a 10x bigger table actually looks) and prints ONE JSON line:

  wall per leg, per-commit walls, a publish-half decomposition
  (ManifestLog.commit_bounded wall, captured by a timing wrapper —
  merge half = commit wall minus publish half), and the end-state read.

The claim under test: the manifest machinery's per-commit driver cost
is FIXED (O(commit)), so leg wall at 10x rows must grow far less than
10x — the growth that remains is the data plane (shuffle + parquet
encode), not the commit protocol.  Run on a quiet box; COVERAGE.md
records the ratio per round so a regression shows up as a number, not
only a spy.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repl = int(os.environ.get("QSS_AMORT_REPLICAS", "10"))
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F  # noqa: E402

    from quick_stream_spark.operators import commitlog  # noqa: E402
    from quick_stream_spark.operators.merge import KeyedTable  # noqa: E402

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n1 = ev.count()

    # ~10x: replicate with offset id spaces (keys scale with volume)
    max_eid = ev.agg(F.max("event_id")).collect()[0][0] + 1
    max_uid = ev.agg(F.max("user_id")).collect()[0][0] + 1
    reps = spark.range(repl).select(F.col("id").alias("__rep"))
    ev10 = (
        ev.crossJoin(F.broadcast(reps))
        .withColumn("event_id", F.col("event_id") + F.col("__rep") * max_eid)
        .withColumn("user_id", F.col("user_id") + F.col("__rep") * max_uid)
        .drop("__rep")
    )

    publish_walls: list[float] = []
    real_commit_bounded = commitlog.ManifestLog.commit_bounded

    def timed_commit_bounded(self, *a, **kw):
        t0 = time.monotonic()
        try:
            return real_commit_bounded(self, *a, **kw)
        finally:
            publish_walls.append(time.monotonic() - t0)

    commitlog.ManifestLog.commit_bounded = timed_commit_bounded

    def run_leg(src, label: str) -> dict:
        src = src.persist()
        rows = src.count()  # materialize input outside the timed window
        target = KeyedTable(
            spark,
            tempfile.mkdtemp(prefix=f"qss-amort-{label}-") + "/t",
            keys=("user_id",),
            version_col="ts",
            arrival_col="event_id",
            num_buckets=8,
            manifest_checkpoint_interval=3,
            manifest_parquet_threshold=0,
        )
        publish_walls.clear()
        commits = []
        t0 = time.monotonic()
        for b in range(4):
            tb = time.monotonic()
            target.upsert(src.filter(F.col("event_id") % 4 == b))
            commits.append(round(time.monotonic() - tb, 3))
        ingest = time.monotonic() - t0
        tr = time.monotonic()
        end_rows = target.read(active_only=True).count()
        read = time.monotonic() - tr
        src.unpersist()
        publish = round(sum(publish_walls), 3)
        return {
            "rows": rows,
            "end_rows": end_rows,
            "ingest_sec": round(ingest, 3),
            "per_commit_sec": commits,
            "publish_half_sec": publish,
            "merge_half_sec": round(ingest - publish, 3),
            "read_sec": round(read, 3),
            "rows_per_sec": round(rows / ingest),
        }

    try:
        # untimed warmup leg at 1/10 scale: JIT, Arrow and merge code
        # paths would otherwise land on leg_1x's first commit
        run_leg(ev.filter(F.col("event_id") % 10 == 0), "warm")
        leg1 = run_leg(ev, "1x")
        leg10 = run_leg(ev10, f"{repl}x")
    finally:
        commitlog.ManifestLog.commit_bounded = real_commit_bounded

    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[0]
    print(json.dumps({
        "metric": "pointer_leg_amortization",
        "sf_dir": sf_dir,
        "replicas": repl,
        "leg_1x": leg1,
        "leg_10x": leg10,
        "wall_ratio": round(leg10["ingest_sec"] / leg1["ingest_sec"], 2),
        "rows_ratio": round(leg10["rows"] / leg1["rows"], 2),
        "publish_ratio": round(
            leg10["publish_half_sec"] / max(leg1["publish_half_sec"], 1e-9), 2
        ),
        "loadavg": loadavg,
        "n_events_sf": n1,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
