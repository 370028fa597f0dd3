"""Workload inputs, the two timed workloads and the DuckDB end-state oracle.

Every input is generated from the seed with NumPy and written as parquet
with pyarrow, so generation runs no Spark job; the library only ever sees
the generated files.  Record schema: ``pkey`` (key), ``modified_date``
(version), ``arrival`` (unique arrival sequence, the equal-version
tie-break), ``payload`` and ``amount``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import traceback
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tracing import median, outermost, p90

SPARK_SCHEMA = (
    "pkey BIGINT, modified_date TIMESTAMP, arrival BIGINT, payload STRING, amount DOUBLE"
)
DELETE_SCHEMA = "pkey BIGINT, modified_date TIMESTAMP, arrival BIGINT"
_T0_US = 1_700_000_000 * 10**6
# versions are whole seconds drawn from a small range, so a hot key's
# rows often tie on version and the arrival tie-break decides; a
# delivery's range overlaps the pre-load's, so some incoming versions
# are older than the stored row (the default merge still applies them)
_PRELOAD_VERSIONS = 1000
_DELIVERY_VERSIONS = 1500
SETUP_REPS = 3


def skewed_keys(rng: np.random.Generator, n: int, keys: int) -> np.ndarray:
    """Keys with a heavy head: P(key < x) = (x / keys) ** (1/3), so key 0
    alone draws ~2% of rows on a 100k-key table and keys repeat both
    inside and across deliveries."""
    return np.floor(keys * rng.random(n) ** 3).astype(np.int64)


def _records(pkey, version_s, arrival, rng) -> pa.Table:
    return pa.table(
        {
            "pkey": pa.array(pkey, pa.int64()),
            "modified_date": pa.array(_T0_US + version_s * 10**6, pa.timestamp("us", tz="UTC")),
            "arrival": pa.array(arrival, pa.int64()),
            "payload": pa.array([f"r{a}" for a in arrival.tolist()], pa.string()),
            "amount": pa.array(np.round(rng.random(len(pkey)) * 1000, 2), pa.float64()),
        }
    )


def generate(directory: str, seed: int, keys: int, upserts: list[int], deletes: list[int]):
    """Pre-load of ``keys`` rows plus one upsert file per entry of
    ``upserts`` (its row count) and one delete file per entry of
    ``deletes`` (its key count).  Returns ``(preload, upsert_paths,
    delete_paths)``."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(directory, "upserts"))
    os.makedirs(os.path.join(directory, "deletes"))
    preload = os.path.join(directory, "preload.parquet")
    pk = np.arange(keys, dtype=np.int64)
    pq.write_table(_records(pk, pk % _PRELOAD_VERSIONS, pk, rng), preload)
    arrival = keys
    up_paths, del_paths = [], []
    for i, n in enumerate(upserts):
        path = os.path.join(directory, "upserts", f"u-{i:05d}.parquet")
        arr = np.arange(arrival, arrival + n, dtype=np.int64)
        versions = rng.integers(0, _DELIVERY_VERSIONS, n)
        pq.write_table(_records(skewed_keys(rng, n, keys), versions, arr, rng), path)
        up_paths.append(path)
        arrival += n
    for i, n in enumerate(deletes):
        path = os.path.join(directory, "deletes", f"d-{i:05d}.parquet")
        arr = np.arange(arrival, arrival + n, dtype=np.int64)
        t = _records(skewed_keys(rng, n, keys), np.full(n, _DELIVERY_VERSIONS), arr, rng)
        pq.write_table(t.select(["pkey", "modified_date", "arrival"]), path)
        del_paths.append(path)
        arrival += n
    return preload, up_paths, del_paths


def expected_state_sql(upserts: list[tuple[int, str]], deletes: list[tuple[int, str]]) -> str:
    """DuckDB query for the table the library must hold after applying
    ``upserts`` and ``deletes`` (``(op_index, path)``, ops applied in
    index order).  Each upsert batch replaces the rows of the keys it
    carries with its own winner (newest version, then earliest arrival),
    whatever the stored version; a soft-delete clears ``row_active`` of
    rows no later upsert replaced."""

    def files(items):
        return "[" + ", ".join(f"'{p}'" for _, p in items) + "]"

    def opmap(items):
        return " UNION ALL ".join(f"SELECT '{p}' AS file, {op} AS op" for op, p in items)

    sql = f"""
    WITH up AS (
        SELECT m.op, t.pkey, t.modified_date, t.arrival, t.payload, t.amount
        FROM read_parquet({files(upserts)}, filename = true) t
        JOIN ({opmap(upserts)}) m ON t.filename = m.file
    ), win AS (
        SELECT * FROM up QUALIFY row_number() OVER (
            PARTITION BY pkey ORDER BY op DESC, modified_date DESC, arrival ASC) = 1
    )"""
    if not deletes:
        return sql + " SELECT * EXCLUDE (op), true AS row_active FROM win"
    return sql + f""", del AS (
        SELECT d.pkey, max(m.op) AS op
        FROM read_parquet({files(deletes)}, filename = true) d
        JOIN ({opmap(deletes)}) m ON d.filename = m.file GROUP BY d.pkey
    )
    SELECT w.pkey, w.modified_date, w.arrival, w.payload, w.amount,
           NOT coalesce(del.op > w.op, false) AS row_active
    FROM win w LEFT JOIN del ON w.pkey = del.pkey"""


def check_end_state(table, upserts, deletes) -> dict:
    """Compare every key's row and ``row_active`` with the oracle."""
    import duckdb

    actual = table.read().toArrow()  # noqa: F841 - scanned by DuckDB by name
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP TABLE expected AS {expected_state_sql(upserts, deletes)}")
        n_rows, n_keys = con.execute("SELECT count(*), count(DISTINCT pkey) FROM actual").fetchone()
        (n_expected,) = con.execute("SELECT count(*) FROM expected").fetchone()
        (bad,) = con.execute(
            """SELECT count(*) FROM expected e FULL JOIN actual a ON e.pkey = a.pkey
               WHERE e.pkey IS NULL OR a.pkey IS NULL
                  OR epoch_us(e.modified_date) <> epoch_us(a.modified_date)
                  OR e.arrival <> a.arrival OR e.payload IS DISTINCT FROM a.payload
                  OR e.amount IS DISTINCT FROM a.amount
                  OR e.row_active IS DISTINCT FROM a.row_active"""
        ).fetchone()
        (inactive,) = con.execute("SELECT count(*) FROM expected WHERE NOT row_active").fetchone()
    finally:
        con.close()
    return {
        "correct": bad == 0 and n_rows == n_keys == n_expected,
        "rows": n_rows,
        "expected_rows": n_expected,
        "mismatched_keys": bad,
        "inactive_rows": inactive,
    }


def storage_layout(spark, table) -> dict:
    """Live data files in total and in the fullest bucket."""
    if table.commit_protocol == "manifest":
        from quick_stream_spark.operators.commitlog import ManifestLog

        per_bucket = [len(fl) for fl in ManifestLog(spark, table.path).read().values()]
    else:
        per_bucket = [
            sum(f.endswith(".parquet") for f in os.listdir(os.path.join(table.path, d)))
            for d in os.listdir(table.path)
            if d.startswith("__qss_bucket=")
        ]
    return {"live_files": sum(per_bucket), "files_per_bucket_max": max(per_bucket, default=0)}


def halves(values: list[float]) -> list[float]:
    """Medians of the first and second half of a timed phase."""
    h = len(values) // 2
    return [median(values[:h] or values), median(values[h:])]


class Timed:
    """Durations per operation type, plus attempted/failed counts."""

    def __init__(self) -> None:
        self.durations: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def run(self, kind: str, fn, *args):
        """Time ``fn(*args)``; a call that raises counts as failed and the
        workload goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return
        self.durations.setdefault(kind, []).append(time.perf_counter() - t0)


def _setup_tables(run, keys: int, upserts: list[int], deletes: list[int], **table_kw):
    """Input generation plus pre-load, ``SETUP_REPS`` times from scratch;
    the last repetition's inputs and table are the ones timed."""
    from quick_stream_spark import KeyedTable

    times = []
    for rep in range(SETUP_REPS):
        base = os.path.join(run.work, f"rep{rep}")
        if rep:
            shutil.rmtree(os.path.join(run.work, f"rep{rep - 1}"))
        t0 = time.perf_counter()
        preload, up, dels = generate(os.path.join(base, "inputs"), run.seed, keys, upserts, deletes)
        table = KeyedTable(
            run.spark, os.path.join(base, "table"), arrival_col="arrival", **table_kw
        )
        table.upsert(run.spark.read.schema(SPARK_SCHEMA).parquet(preload))
        times.append(time.perf_counter() - t0)
    return times, table, preload, up, dels


# ----------------------------------------------------------- stream_upsert

STREAM_KEYS = 100_000
STREAM_ROWS = 1_000
# warm-up: two drains of three deliveries.  Measured on a 4-core box, the
# median trigger time falls ~20% from the first drain of four to the
# second and ~4% to a third, which the run budget cannot afford
WARM_ROUND, WARM_ROUNDS = 3, 2


def _progress(query) -> list[dict]:
    """Progress records of the query's micro-batches that ran a batch."""
    out = []
    for p in query.recentProgress:
        p = json.loads(p.json) if hasattr(p, "json") else p
        if "addBatch" not in p["durationMs"]:
            continue
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append(
            {
                "batch_id": p["batchId"],
                "rows": p["numInputRows"],
                "t0": start,
                "t1": start + p["durationMs"]["triggerExecution"] / 1000.0,
                "trigger_s": p["durationMs"]["triggerExecution"] / 1000.0,
                "add_batch_s": p["durationMs"]["addBatch"] / 1000.0,
            }
        )
    return out


def stream_upsert(run) -> dict:
    """``UpsertQuickStream`` with ``availableNow``, one 1k-row parquet
    delivery per micro-batch, into a default (``direct``) table pre-loaded
    with 100k keys.  Deliveries are handed to the file source in rounds:
    two warm-up drains, then one timed drain sized to ``run.seconds``."""
    from quick_stream_spark import QuickStreamConfig
    from quick_stream_spark.sources import stream_parquet_dir
    from quick_stream_spark.streaming.stream import UpsertQuickStream

    spark = run.spark
    # enough deliveries for the timed drain even at 0.25 s per commit
    n_files = WARM_ROUND * WARM_ROUNDS + int(run.seconds / 0.25) + 8
    setup, table, preload, files, _ = _setup_tables(
        run, STREAM_KEYS, [STREAM_ROWS] * n_files, []
    )
    source = os.path.join(run.work, "source")
    os.makedirs(source)
    stream = stream_parquet_dir(spark, source, spark.createDataFrame([], SPARK_SCHEMA).schema)
    config = QuickStreamConfig(name="perfbench", checkpoint_dir=os.path.join(run.work, "ckpt"))
    applied = [(0, preload)]
    mtime0 = time.time() - 10 * n_files

    def drain(count: int):
        """Deliver the next ``count`` files and drain them with one
        availableNow query; returns (wall seconds, progress records)."""
        for _ in range(count):
            i = len(applied) - 1
            dst = os.path.join(source, os.path.basename(files[i]))
            os.rename(files[i], dst)
            # the file source takes files in modification-time order
            os.utime(dst, (mtime0 + i, mtime0 + i))
            applied.append((len(applied), dst))
        t0 = time.perf_counter()
        query = UpsertQuickStream(table, config).run(stream, available_now=True)
        wall = time.perf_counter() - t0
        return wall, _progress(query)

    t_warm = time.perf_counter()
    warm = []
    for _ in range(WARM_ROUNDS):
        wall, prog = drain(WARM_ROUND)
        warm.append((wall, median([p["trigger_s"] for p in prog])))
    warmup_s = time.perf_counter() - t_warm
    count = max(8, min(n_files - len(applied) + 1, round(run.seconds / warm[-1][1])))

    if run.tracer is not None:
        run.tracer.spans.clear()
    cpu0 = run.proc.cpu_s()
    wall, prog = drain(count)
    cpu = run.proc.cpu_s() - cpu0
    commits = [p["trigger_s"] for p in prog]
    rows = sum(p["rows"] for p in prog)
    ok_batches = len(prog) == count and rows == count * STREAM_ROWS
    out = {
        "setup_reps_s": setup,
        "warmup_s": warmup_s,
        "warmup_rounds": [round(w[1], 4) for w in warm],
        "timed_wall_s": wall,
        "attempted": count,
        "failed": 0 if ok_batches else max(1, count - len(prog)),
        "e2e": {
            "ingest_rows_per_s": (rows / wall, "rows/s", count),
            "commit_s_p50": (median(commits), "s", len(commits)),
        },
        "halves": {"commit_s": halves(commits)},
        "cpu_s": cpu,
        "rows_in": rows,
    }
    if len(commits) >= 100:
        out["e2e"]["commit_s_p90"] = (p90(commits), "s", len(commits))
    if run.tracer is not None:
        # one direct KeyedTable.upsert of the last delivery (idempotent:
        # it re-applies the batch that already won its keys) gives the job
        # count to reconcile with a micro-batch's
        last = applied[-1][1]
        with run.tracer.span("direct_upsert") as sp:
            table.upsert(spark.read.schema(SPARK_SCHEMA).parquet(last))
        applied.append((len(applied), last))
        # later library calls (the end-state read) are not part of any op
        run.tracer.unwrap()
        run.layer_ops = {
            "op": [dict(p, span_ids=_spans_within(run.tracer, p)) for p in prog],
            "direct_upsert": [{"t0": sp["t0"], "t1": sp["t1"], "span_ids": _span_tree(run.tracer, sp)}],
        }
        out["progress"] = prog
    out["check"] = check_end_state(table, applied, [])
    out["table"] = table
    return out


def _span_tree(tracer, root: dict) -> list[int]:
    kids = tracer.children()
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s["id"])
        todo.extend(kids.get(s["id"], []))
    return out


def _spans_within(tracer, op: dict) -> list[int]:
    """Span ids of top-level spans that ran inside a micro-batch.  The
    batch's interval comes from the JVM's progress timestamps, in ms, so
    it is widened by 50 ms."""
    return [
        sid
        for s in tracer.spans
        if s["parent"] is None and s["t0"] >= op["t0"] - 0.05 and s["t1"] <= op["t1"] + 0.05
        for sid in _span_tree(tracer, s)
    ]


# ------------------------------------------------------------- serve_reads

SERVE_KEYS = 50_000
SERVE_UPSERT_ROWS = 8
SERVE_DELETE_KEYS = 4
LOOKUP_KEYS = 10
# two lookups per write, so lookups take about half or more of a cycle's
# wall time (47-60% measured on a 4-core box)
LOOKUPS_PER_WRITE = 2
# the table checkpoints its manifest every CHECKPOINT_EVERY commits; a
# cycle is that many writes, the last a soft-delete, so every timed phase
# covers whole checkpoint cycles and starts at the same phase.  The
# library default of 16 would make a cycle longer than the run budget.
# One warm-up cycle: upserts fall ~25% over the first cycle and a few %
# per cycle after, which the run budget cannot afford to wait out.  The
# timed phase is the whole number of cycles nearest to ``run.seconds``, at
# least one: a cycle takes 9-14 s on a 4-core box
CHECKPOINT_EVERY = 4
TIMED_CYCLES_MAX = 8


def serve_reads(run) -> dict:
    """Back-to-back 10-key ``lookup().collect()`` calls on a 50k-key
    ``manifest`` table, with a write after every second: an 8-row upsert,
    or on every fourth write a soft-delete of 4 keys."""
    spark = run.spark
    cycles_max = 1 + TIMED_CYCLES_MAX
    n_up = (CHECKPOINT_EVERY - 1) * cycles_max
    setup, table, preload, up_files, del_files = _setup_tables(
        run,
        SERVE_KEYS,
        [SERVE_UPSERT_ROWS] * n_up,
        [SERVE_DELETE_KEYS] * cycles_max,
        commit_protocol="manifest",
        manifest_checkpoint_interval=CHECKPOINT_EVERY,
    )
    rng = np.random.default_rng([run.seed, 1])
    upserts, deletes = [(0, preload)], []
    state = {"op": 0, "up": 0, "del": 0}
    timer = Timed()
    lookup_plan, lookup_exec = [], []
    tracer = run.tracer

    def lookup():
        keys = skewed_keys(rng, LOOKUP_KEYS, SERVE_KEYS).tolist()
        t0 = time.perf_counter()
        with _maybe_span(tracer, "serve.lookup"):
            df = table.lookup(keys)
            t1 = time.perf_counter()
            rows = df.collect()
        lookup_plan.append(t1 - t0)
        lookup_exec.append(time.perf_counter() - t1)
        return rows

    def write(i: int):
        state["op"] += 1
        if i % CHECKPOINT_EVERY == CHECKPOINT_EVERY - 1:
            path = del_files[state["del"]]
            state["del"] += 1
            deletes.append((state["op"], path))
            timer.run("delete", table.soft_delete, spark.read.schema(DELETE_SCHEMA).parquet(path))
        else:
            path = up_files[state["up"]]
            state["up"] += 1
            upserts.append((state["op"], path))
            timer.run("upsert", table.upsert, spark.read.schema(SPARK_SCHEMA).parquet(path))

    def cycle():
        t0 = time.perf_counter()
        for i in range(CHECKPOINT_EVERY):
            for _ in range(LOOKUPS_PER_WRITE):
                timer.run("lookup", lookup)
            write(i)
        return time.perf_counter() - t0

    warmup_s = cycle()
    lk, up, de = (median(timer.durations.get(k, [])) for k in ("lookup", "upsert", "delete"))
    # a cycle at the warm-up medians: its lookups, 3 upserts, 1 delete
    est = CHECKPOINT_EVERY * LOOKUPS_PER_WRITE * lk + (CHECKPOINT_EVERY - 1) * up + de
    n_cycles = max(1, min(TIMED_CYCLES_MAX, round(run.seconds / est)))

    timer = Timed()
    lookup_plan.clear()
    lookup_exec.clear()
    if tracer is not None:
        tracer.spans.clear()
    cpu0 = run.proc.cpu_s()
    t0 = time.perf_counter()
    for _ in range(n_cycles):
        cycle()
    wall = time.perf_counter() - t0
    cpu = run.proc.cpu_s() - cpu0
    d = {k: timer.durations.get(k, []) for k in ("lookup", "upsert", "delete")}
    rows = SERVE_UPSERT_ROWS * len(d["upsert"])
    out = {
        "setup_reps_s": setup,
        "warmup_s": warmup_s,
        "warmup_medians_s": {"lookup": lk, "upsert": up, "delete": de},
        "timed_wall_s": wall,
        "attempted": timer.attempted,
        "failed": timer.failed,
        "e2e": {
            "ingest_rows_per_s": (rows / wall, "rows/s", len(d["upsert"])),
            "commit_s_p50": (median(d["upsert"]), "s", len(d["upsert"])),
            "delete_s_p50": (median(d["delete"]), "s", len(d["delete"])),
            "lookup_s_p50": (median(d["lookup"]), "s", len(d["lookup"])),
        },
        "halves": {k + "_s": halves(v) for k, v in d.items()},
        "lookup_plan_s": lookup_plan,
        "lookup_exec_s": lookup_exec,
        "cpu_s": cpu,
        "rows_in": rows,
    }
    if len(d["lookup"]) >= 100:
        out["e2e"]["lookup_s_p90"] = (p90(d["lookup"]), "s", len(d["lookup"]))
    if tracer is not None:
        ops = {"op": [], "direct_upsert": [], "delete": []}
        for s in outermost(tracer.spans, ("serve.lookup", "merge.upsert", "merge.soft_delete")):
            kind = {"serve.lookup": "op", "merge.upsert": "direct_upsert"}.get(s["name"], "delete")
            ops[kind].append({"t0": s["t0"], "t1": s["t1"], "span_ids": _span_tree(tracer, s)})
        run.layer_ops = ops
        tracer.unwrap()
        out["files_scanned"] = [
            table.lookup_stats(skewed_keys(rng, LOOKUP_KEYS, SERVE_KEYS).tolist())["files_scanned"]
            for _ in range(8)
        ]
    out["check"] = check_end_state(table, upserts, deletes)
    out["table"] = table
    return out


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


WORKLOADS = {"stream_upsert": stream_upsert, "serve_reads": serve_reads}
