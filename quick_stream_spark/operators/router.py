"""Multi-table routing (reference O7-O10).

The reference's ``DataHolder`` partitions each delivery's records into
per-table buffers keyed by ``T::table()`` and dedups within each table
(upsert/multi_table_upsert/support.rs:8-59); each chunk is single-table
and dispatched to that table's prepared statement
(multi_table_upsert.rs:288-293).

Spark-first shape: the discriminator is a string column; inside a
micro-batch we fan out ``batch.filter(col(table_col) == t)`` per target
and MERGE each into its own :class:`KeyedTable`.  Per-table dedup is the
same LWW dedup with the table implicit in the filter.

Scale notes:
  - The batch is persisted once and filtered per table, so the source is
    scanned once, not once per table.
  - The distinct-table probe collects only table *names* (bounded by the
    destination count, reference ``tables()``), never data.
  - The reference's per-delivery DataHolder quirk (§3.3: sub-threshold
    leftovers flush at delivery end, never carried over) is exactly the
    micro-batch boundary here — every batch is fully applied.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from quick_stream_spark.operators.merge import KeyedTable


class MultiTableRouter:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        table_col: str = "table",
        tables: Sequence[str] | None = None,
        keys: Sequence[str] = ("pkey",),
        version_col: str = "modified_date",
        arrival_col: str | None = None,
        tie_break: str = "first_arrival",
        num_buckets: int = 16,
        soft_delete_col: str = "row_active",
        max_concurrency: int | None = None,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.table_col = table_col
        self.tables = list(tables) if tables is not None else None
        # per-table merges are independent jobs; submitting them from a
        # bounded thread pool lets the Spark scheduler overlap them (the
        # reference's elastic pool runs destination tables on concurrent
        # connections, capped by max_con_count — builder.rs).  None =
        # resolve at stream attach time from config.max_con_count, or
        # the default below for direct batch use.
        self.max_concurrency = max_concurrency
        self._kt_kwargs = dict(
            keys=keys,
            version_col=version_col,
            arrival_col=arrival_col,
            tie_break=tie_break,
            num_buckets=num_buckets,
            soft_delete_col=soft_delete_col,
        )

    def target(self, table: str) -> KeyedTable:
        return KeyedTable(self.spark, f"{self.base_path}/{table}", **self._kt_kwargs)

    def _tables_in(self, batch: DataFrame) -> list[str]:
        if self.tables is not None:
            return self.tables
        # names only — bounded by destination-table count, not data volume
        return sorted(
            r[0] for r in batch.select(self.table_col).distinct().collect() if r[0] is not None
        )

    _DEFAULT_CONCURRENCY = 4

    def _fan_out(self, batch: DataFrame, apply) -> None:
        """Apply one operation per destination table.  Tables are
        independent (disjoint row sets, separate paths), so their merge
        jobs are submitted from a thread pool bounded by
        ``max_concurrency`` — Spark schedules concurrent jobs from
        separate threads fine, and with dozens of destinations a serial
        loop would leave the cluster idle between small per-table jobs.
        The persisted batch is scanned once per table either way; the
        pool only overlaps the scheduling.  The first failure
        propagates; queued not-yet-started tables are cancelled
        (in-flight ones finish their current call) so failure latency
        does not scale with destination count."""
        batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            names = self._tables_in(batch)

            def run(t: str) -> None:
                part = batch.filter(F.col(self.table_col) == t).drop(self.table_col)
                if self.tables is not None and part.isEmpty():
                    return
                apply(self.target(t), part)

            width = self.max_concurrency or self._DEFAULT_CONCURRENCY
            if width <= 1 or len(names) <= 1:
                for t in names:
                    run(t)
            else:
                from concurrent.futures import ThreadPoolExecutor

                pool = ThreadPoolExecutor(
                    max_workers=min(width, len(names)),
                    thread_name_prefix="qss-fanout",
                )
                try:
                    for f in [pool.submit(run, t) for t in names]:
                        f.result()
                finally:
                    pool.shutdown(wait=True, cancel_futures=True)
        finally:
            batch.unpersist()

    def upsert_batch(self, batch: DataFrame, newer_wins: bool = False) -> None:
        self._fan_out(batch, lambda kt, part: kt.upsert(part, newer_wins=newer_wins))

    def soft_delete_batch(self, batch: DataFrame) -> None:
        self._fan_out(batch, lambda kt, part: kt.soft_delete(part))

    def hard_delete_batch(self, batch: DataFrame) -> None:
        self._fan_out(batch, lambda kt, part: kt.hard_delete(part))

    def read_union(self, active_only: bool = False) -> DataFrame:
        """Union of all routed tables with the discriminator restored."""
        if self.tables is None:
            raise ValueError("read_union requires an explicit tables list")
        dfs = []
        for t in self.tables:
            kt = self.target(t)
            if kt.exists():
                dfs.append(kt.read(active_only=active_only).withColumn(self.table_col, F.lit(t)))
        if not dfs:
            raise ValueError("no routed tables exist yet")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
